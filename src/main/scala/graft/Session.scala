package graft

import org.apache.spark.sql.SparkSession

/** The one local-session factory for the harness mains (Bench, Verify,
  * Probe, ScaleData and the scale probes). `SPARK_GRAFT_CPUS` (default 4)
  * sets the `local[n]` width and the shuffle partition count; a main that
  * needs a different conf passes it as an override pair, which wins over
  * the defaults below.
  *
  * Engine injection is not done here: the predicate-rewrite rule and the
  * top-k strategy register lazily on first use
  * (`Tables.ensureOptimizerRule`, `TopK.ensureStrategy`), the same path
  * that covers caller-provided sessions — adding `GraftExtensions` here
  * as well would apply the rule twice.
  */
object Session {
  def local(overrides: (String, String)*): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      // streaming checkpoints on tmpfs (JVM-unique dir, see Scratch):
      // keeps the offset/commit/state fsync path off the shared disk, so
      // streaming timings measure the engine, not disk-queue contention
      .config("spark.sql.streaming.checkpointLocation",
        Scratch.streamingCheckpointBase())
      .config("spark.sql.streaming.checkpointFileManagerClass",
        Scratch.localCheckpointFileManager)
      // unload terminated queries' state-store providers promptly (default
      // 60 s) — a 100+-query run otherwise carries every prior streaming
      // query's state maps on heap for most of the run
      .config("spark.sql.streaming.stateStore.maintenanceInterval", "10s")
      // localCheckpoint blocks (dup-collapse cluster frames etc.) release
      // only when the owning RDD is GC'd on the driver and ContextCleaner
      // notices; its periodic-GC default is 30 MINUTES — longer than the
      // whole bench — so ~10 checkpointing queries × 2 runs accumulate
      // pinned MEMORY_AND_DISK blocks until a mid-run memory cliff
      // (observed: a 1 s query spiking to 36 s under block-eviction
      // pressure). A 1-minute periodic GC keeps the block store drained.
      .config("spark.cleaner.periodicGC.interval", "1min")
    overrides.foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
