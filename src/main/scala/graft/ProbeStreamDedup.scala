package graft

/** Bench tooling (like [[ProbeStreamJoin]]): measure the streaming dedup
  * family's state-store trade-offs at probe scale — heap provider vs
  * RocksDB vs RocksDB with changelog checkpointing, and corpus-lifetime
  * (`dropDuplicates`) vs watermark-bounded
  * (`dropDuplicatesWithinWatermark`) state.
  *
  * Changelog checkpointing matters at 100 TB: the default RocksDB
  * checkpoint uploads a full snapshot of every store per commit, so
  * checkpoint bytes scale with STATE size; with
  * `rocksdb.changelogCheckpointing.enabled` each commit uploads only the
  * batch's delta and snapshots happen async in the background — commit
  * cost scales with BATCH size. This probe reports wall time, max state
  * rows, and on-disk checkpoint bytes so the trade is a measured row in
  * BENCH_SCALING.md, not a claim.
  *
  * Usage: runMain graft.ProbeStreamDedup [sfDir] [heap|rocksdb|rocksdb-changelog] [lifetime|windowed]
  */
object ProbeStreamDedup {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val mode = if (args.length > 1) args(1) else "heap"
    val variant = if (args.length > 2) args(2) else "lifetime"
    val ckptBase = Scratch.tempDir("graft_dedup_ckpt_")
    val rocksDb = "spark.sql.streaming.stateStore.providerClass" ->
      streaming.Streams.RocksDbProvider
    val provider = mode match {
      case "heap" => Nil
      case "rocksdb" => Seq(rocksDb)
      case "rocksdb-changelog" => Seq(rocksDb,
        "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled" -> "true")
      case other => sys.error(s"unknown mode $other")
    }
    val spark = Session.local(
      ("spark.sql.streaming.checkpointLocation" -> ckptBase) +: provider: _*)
    // surface the state observation regardless of log4j config
    val stateLines = scala.collection.mutable.ArrayBuffer.empty[String]
    StructuredLog.addListener((_, l) =>
      if (l.contains("state")) synchronized { stateLines += l: Unit })
    val t0 = System.nanoTime()
    val df = variant match {
      case "lifetime" => streaming.Streams.dedupCount(spark, sfDir)
      case "windowed" => streaming.Streams.dedupWindowedCount(spark, sfDir)
      case other => sys.error(s"unknown variant $other")
    }
    val n = df.collect()(0).getLong(0)
    val secs = (System.nanoTime() - t0) / 1e9
    // on-disk checkpoint footprint AFTER the run (state snapshots +
    // changelogs + offset/commit logs), before the shutdown hook cleans it
    val ckptBytes = {
      val p = java.nio.file.Paths.get(ckptBase)
      val it = java.nio.file.Files.walk(p)
      try it.filter(java.nio.file.Files.isRegularFile(_))
        .mapToLong(java.nio.file.Files.size(_)).sum()
      finally it.close()
    }
    val state = stateLines.lastOption.getOrElse("")
    val maxState = state.split(" ").collectFirst {
      case s if s.startsWith("max_state_rows=") => s.stripPrefix("max_state_rows=") }
      .getOrElse("-1")
    println(f"""{"probe":"stream_dedup","sf":"$sfDir","mode":"$mode","variant":"$variant","n_unique":$n,"secs":$secs%.3f,"max_state_rows":$maxState,"checkpoint_bytes":$ckptBytes,${RunMeta.jsonFields()}}""")
    spark.stop()
  }
}
