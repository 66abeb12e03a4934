package graft

/** Fork-budget regression guard (r13 verdict #5).
  *
  * The r13 streaming wins came from eliminating two per-file subprocess
  * layers in the checkpoint path (FileContext's exec-per-stat — 25.5k
  * forks for ONE 8-micro-batch query — and RawLocalFileSystem's
  * chmod-per-created-file; see
  * [[graft.streaming.NioCheckpointFileManager]]). Both were found by
  * counting the kernel's cumulative process-creation counter
  * (`/proc/stat` `processes`) around a run, so that is exactly what this
  * guard pins: a dependency bump or conf change that silently
  * reintroduces a fork storm must go red here, not resurface as
  * "environment drift" in a future round's bench diff.
  *
  * The assertion is DIFFERENTIAL (default FileContext manager vs the
  * shipped Nio manager on the same query in the same JVM), because the
  * counter is system-wide: ambient forks (a cron tick, a shell) land in
  * both measurements, and the FileContext manager's per-stat exec makes
  * its count two orders of magnitude larger — a 4× separation threshold
  * is safe against any plausible background. An absolute ceiling on the
  * Nio side pins the batch floor itself.
  *
  * Each side is measured over several trials and judged by its MINIMUM:
  * ambient forks only ever add to the system-wide counter, so the
  * per-side minimum is the trial least polluted by other processes. A
  * single trial per side went red under ambient load without
  * any change to the checkpoint path.
  */
class ForkBudgetSpec extends SparkSpec {

  private val managerKey = "spark.sql.streaming.checkpointFileManagerClass"
  private val fileContextManager = "org.apache.spark.sql.execution." +
    "streaming.checkpointing.FileContextBasedCheckpointFileManager"

  /** Kernel-cumulative process creations since boot. */
  private def forksNow(): Long = {
    val src = scala.io.Source.fromFile("/proc/stat")
    try src.getLines()
      .collectFirst { case l if l.startsWith("processes") =>
        l.trim.split("\\s+")(1).toLong }
      .getOrElse(fail("/proc/stat has no processes line"))
    finally src.close()
  }

  /** One bounded stateful streaming query (file source → watermarked agg
    * → memory sink), the same shape the r13 fork storms were measured
    * on. */
  private def runStream(): Unit = {
    val rows = Queries.all("q_stream_user_counts")(spark, sfDir).collect()
    assert(rows.nonEmpty, "probe query vacuous")
  }

  test("NioCheckpointFileManager holds process creation at the batch floor") {
    assume(java.nio.file.Files.exists(java.nio.file.Paths.get("/proc/stat")),
      "/proc/stat unavailable on this platform")
    assert(spark.conf.get(managerKey) == Scratch.localCheckpointFileManager,
      "test session must ship the Nio manager")
    runStream() // warm-up: classloading/codegen forks land here
    def trials(): Seq[Long] = Seq.fill(3) {
      val n0 = forksNow(); runStream()
      forksNow() - n0
    }
    val nioTrials = trials()
    spark.conf.set(managerKey, fileContextManager)
    val defTrials = try trials()
      finally spark.conf.set(managerKey, Scratch.localCheckpointFileManager)
    val (nioForks, defForks) = (nioTrials.min, defTrials.min)
    info(s"forks per trial: nio=${nioTrials.mkString(",")} " +
      s"fileContext=${defTrials.mkString(",")}")
    assert(defForks > nioForks * 4 && defForks > 400,
      s"guard lost its teeth: the FileContext manager should fork per " +
        s"stat (nio=$nioForks, fileContext=$defForks) — if this fails " +
        s"because defForks collapsed, the runtime gained a fork-free " +
        s"default and this guard can retire")
    assert(nioForks < 200,
      s"fork budget exceeded under NioCheckpointFileManager: $nioForks " +
        s"processes created during one streaming query — a write path " +
        s"is exec'ing per file again")
  }
}
