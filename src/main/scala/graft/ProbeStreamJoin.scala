package graft

/** Bench tooling (like [[ScaleData]]/[[ProbeLayout]]): time the stream-stream
  * interval join through its PRODUCTION sink — the distributed parquet
  * path of [[graft.streaming.Streams.purchaseAttributionToParquet]] — on
  * corpora whose join output is too large for any driver-collected sink.
  * The 100× probe corpus replicates every purchase and signup 100-fold at
  * identical timestamps, so each original match becomes 100² matches:
  * the output is quadratic in replication BY DEFINITION of the join, and
  * the memory-sink harness variant OOMs collecting it while this path
  * streams it to executor-written files.
  *
  * With a second arg `outer` the probe runs the LEFT OUTER variant: the
  * sink additionally carries one null-extended row per un-attributed
  * purchase (emitted at state eviction, forced closed by the sentinel
  * slices), and the invariant compares against the batch LEFT JOIN.
  *
  * Usage: runMain graft.ProbeStreamJoin [sfDir] [outer]
  */
object ProbeStreamJoin {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val outer = args.length > 1 && args(1) == "outer"
    val spark = Session.local()
    // surface the state observation regardless of log4j config
    StructuredLog.addListener((_, l) =>
      if (l.startsWith("event=stream_stream_join")) System.err.println(l))
    val out = Scratch.tempDir("graft_ssj_sink_")
    val ckpt = Scratch.tempDir("graft_ssj_ckpt_")
    val t0 = System.nanoTime()
    val agg = streaming.Streams.purchaseAttributionToParquet(
      spark, sfDir, s"$out/pairs", s"$ckpt/q", leftOuter = outer)
    val n = agg.count()
    val secs = (System.nanoTime() - t0) / 1e9
    val pairs = {
      import org.apache.spark.sql.functions.col
      spark.read.parquet(s"$out/pairs").filter(col("p_id") >= 0).count()
    }
    // invariant: the streaming interval join must emit exactly the batch
    // join's row count — the time-sliced feed's "output-neutral" claim
    // depends on oldest-mtime-first file ordering (Streams.eventsTimeSliced
    // scaladoc), and a silent ordering regression would DROP late-arriving
    // matches; a count mismatch here makes that loud at probe scale.
    import org.apache.spark.sql.functions._
    val ev = Tables.load(spark, sfDir, "events")
    val batchRows = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts").as("p_ts"))
      .join(ev.filter(col("event_type") === "signup")
          .select(col("user_id").as("s_user"), col("ts").as("s_ts")),
        col("user_id") === col("s_user") &&
          col("s_ts") <= col("p_ts") &&
          col("s_ts") >= col("p_ts") - expr("INTERVAL 7 DAYS"),
        if (outer) "left" else "inner")
      .count()
    val ok = pairs == batchRows
    val probe = if (outer) "stream_join_outer_file_sink" else "stream_join_file_sink"
    println(f"""{"probe":"$probe","sf":"$sfDir","agg_rows":$n,"joined_rows":$pairs,"batch_rows":$batchRows,"rows_match":$ok,"secs":$secs%.3f}""")
    if (!ok) sys.error(s"stream join dropped rows: streamed=$pairs batch=$batchRows")
    spark.stop()
  }
}
