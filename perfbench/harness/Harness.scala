package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

import graft.{ProbeMaterialize, SparkEntry, Tables}

/** One closed-loop client for one workload in one JVM.
  *
  * Runs the registry queries named in the orders file one after another,
  * pass after pass, timing each from the `SparkEntry.queries(name)` call
  * until `ProbeMaterialize.checksum` returns. It records raw outcomes only
  * (time, checksum or error per operation, micro-batch progress, and in a
  * traced run the per-layer counters); `run.py` checks the checksums and
  * derives every metric.
  *
  * Each line of the orders file is one pass. The first `--warmup` passes
  * are checked but not timed; in a traced run the timed passes alternate
  * between traced and untraced, starting traced.
  *
  * Usage: Harness --corpus DIR --orders FILE --warmup N --trace 0|1
  *                --cores N --work DIR --out FILE --root REPO_DIR
  *                --launched-ns EPOCH_NS
  */
object Harness {
  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val corpus = args("corpus")
    val passes = Files.readAllLines(Paths.get(args("orders"))).asScala.toSeq
      .map(_.split(",").toSeq.filter(_.nonEmpty)).filter(_.nonEmpty)
    val warmup = args("warmup").toInt
    val traced = args("trace") == "1"
    val cores = args("cores").toInt
    val work = Paths.get(args("work")).toAbsolutePath.toString
    val out = mutable.LinkedHashMap[String, Any]()
    val spans = new Spans

    // ---- set-up: from the launch of the JVM (`--launched-ns`, epoch
    // nanoseconds taken by run.py just before it started the process) to a
    // ready session: session, Tables.preflight and a warm-up read
    val launchedNs = args("launched-ns").toLong
    val epochNowNs = () => {
      val t = java.time.Instant.now()
      t.getEpochSecond * 1000000000L + t.getNano
    }
    val toNano = System.nanoTime() - epochNowNs()
    val spark = session(cores, s"$work/session")
    val tp = System.nanoTime()
    Tables.preflight(spark, corpus)
    spans.add("sources.preflight", tp, System.nanoTime(), "setup", -1)
    spark.read.parquet(Tables.path(corpus, "nation")).count()
    out("setup_s") = (epochNowNs() - launchedNs) / 1e9
    spans.add("setup", launchedNs + toNano, System.nanoTime(), "", -1)
    out("confs") = spark.conf.getAll.filter { case (k, _) =>
      k.startsWith("spark.sql.") || k.startsWith("spark.graft.") ||
        k == "spark.master" || k.startsWith("spark.cleaner")
    }.toMap
    out("commit") = graft.RunMeta.commitSha(args("root"))
    val sc = spark.sparkContext

    val stream = new StreamProgress
    spark.streams.addListener(stream)
    val layers = new LayerListener
    val qel = new PlanListener

    val ops = mutable.ArrayBuffer[Map[String, Any]]()
    val passRows = mutable.ArrayBuffer[Map[String, Any]]()
    val gc = ManagementFactory.getGarbageCollectorMXBeans.asScala
    def gcMs: Long = gc.map(_.getCollectionTime).filter(_ >= 0).sum
    var opId = 0

    def runOp(pass: Int, idx: Int, name: String, tracedPass: Boolean): Unit = {
      opId += 1
      sc.setLocalProperty("perfbench.op", opId.toString)
      sc.setLocalProperty("perfbench.phase", "build")
      stream.current = opId; qel.current = opId
      val rec = mutable.LinkedHashMap[String, Any](
        "op" -> opId, "pass" -> pass, "i" -> idx, "name" -> name)
      val t0 = System.nanoTime()
      try {
        val df = SparkEntry.queries(name)(spark, corpus)
        val (rows, xor, sum) = if (!tracedPass) ProbeMaterialize.checksum(df) else {
          val tb = System.nanoTime()
          spans.add("operators.build", t0, tb, "op", opId)
          sc.setLocalProperty("perfbench.phase", "exec")
          val w = ProbeMaterialize.wrap(df)
          w.queryExecution.executedPlan
          val tp = System.nanoTime()
          spans.add("plans.plan", tb, tp, "op", opId)
          // collect(), not head(): head would plan a second QueryExecution
          val r = w.collect().head
          spans.add("exec.checksum", tp, System.nanoTime(), "op", opId)
          layers.buildNs(opId) = tb - t0
          layers.planNs(opId) = tp - tb
          (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1),
            if (r.isNullAt(2)) BigDecimal(0) else BigDecimal(r.getDecimal(2)))
        }
        val t1 = System.nanoTime()
        rec ++= Seq("t_s" -> (t1 - t0) / 1e9, "rows" -> rows,
          "xor" -> xor, "sum" -> sum.toString)
        if (tracedPass) layers.wallNs(opId) = t1 - t0
        spans.add("op:" + name, t0, t1, "pass", opId)
      } catch {
        case e: Throwable =>
          // a crashed query is recorded as a failure and never as a time
          rec("error") = s"${e.getClass.getName}: ${e.getMessage}".take(500)
          System.err.println(s"[perfbench] $name FAILED: ${rec("error")}")
      }
      sc.setLocalProperty("perfbench.op", null)
      sc.setLocalProperty("perfbench.phase", null)
      // memory-sink results live on the driver heap until dropped
      spark.catalog.listTables().collect().map(_.name)
        .filter(_.startsWith("graft_stream")).foreach(spark.catalog.dropTempView)
      PerfbenchBus.drain(sc)
      ops += rec.toMap
    }

    def runPass(p: Int, tracedPass: Boolean): Double = {
      if (tracedPass) {
        sc.addSparkListener(layers); spark.listenerManager.register(qel)
      }
      val t0 = System.nanoTime()
      passes(p).zipWithIndex.foreach { case (n, i) => runOp(p, i, n, tracedPass) }
      val wall = (System.nanoTime() - t0) / 1e9
      if (tracedPass) {
        PerfbenchBus.drain(sc)
        sc.removeSparkListener(layers); spark.listenerManager.unregister(qel)
      }
      spans.add(s"pass:$p", t0, System.nanoTime(), "", -1)
      passRows += Map("pass" -> p, "wall_s" -> wall, "timed" -> (p >= warmup),
        "traced" -> tracedPass)
      wall
    }

    // ---- warm-up passes: codegen, JIT and file-listing caches fill here
    (0 until warmup).foreach(runPass(_, tracedPass = false))
    val gc0 = gcMs
    for (p <- warmup until passes.size)
      runPass(p, tracedPass = traced && (p - warmup) % 2 == 0)
    out("driver_gc_s") = (gcMs - gc0) / 1e3
    out("passes") = passRows.toSeq
    out("ops") = ops.toSeq
    out("batches") = stream.rows.asScala.toSeq
    if (traced) {
      out("layers") = layers.summary(cores, qel)
      out("functions") = FunctionTiming.run(spark, corpus, spans)
      out("spans") = (spans.rows ++ layers.jobSpans ++ stream.spans).toSeq
    }
    out("vm_hwm_kb") = Files.readAllLines(Paths.get("/proc/self/status"))
      .asScala.find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toLong).getOrElse(-1L)
    spark.stop()
    new ObjectMapper().registerModule(DefaultScalaModule)
      .writeValue(Paths.get(args("out")).toFile, out)
  }

  /** Bench's session confs, with every scratch path under `work`.
    * Bench puts streaming checkpoints on tmpfs; here they stay under `work`
    * so that the run writes only inside its own directory. The checkpoint
    * file manager never syncs to disk, so the disk does not enter the
    * micro-batch path: walCommit plus commitOffsets take about 2 ms per
    * batch in either place. */
  def session(cores: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.streaming.checkpointLocation", s"$work/checkpoints")
      .config("spark.sql.streaming.checkpointFileManagerClass",
        graft.Scratch.localCheckpointFileManager)
      .config("spark.sql.streaming.stateStore.maintenanceInterval", "10s")
      .config("spark.graft.pairPresentationSort", "false")
      .config("spark.cleaner.periodicGC.interval", "1min")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Spans kept in memory and written out when the run ends; every span,
    * the listeners' included, is stamped in epoch milliseconds. */
  final class Spans {
    private val epochNs = System.currentTimeMillis() * 1000000L - System.nanoTime()
    val rows = mutable.ArrayBuffer[Map[String, Any]]()
    def add(name: String, t0: Long, t1: Long, parent: String, op: Int): Unit =
      rows += Map("name" -> name, "start_ms" -> (t0 + epochNs) / 1e6,
        "end_ms" -> (t1 + epochNs) / 1e6, "parent" -> parent, "op" -> op)
  }

  /** Per-micro-batch progress, attributed to the operation that ran it. */
  final class StreamProgress extends StreamingQueryListener {
    @volatile var current = 0
    val rows = new java.util.concurrent.ConcurrentLinkedQueue[Map[String, Any]]()
    val spans = mutable.ArrayBuffer[Map[String, Any]]()
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      def ms(k: String): Long = Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
      rows.add(Map("op" -> current, "batch" -> p.batchId,
        "trigger_s" -> ms("triggerExecution") / 1e3,
        "add_batch_s" -> ms("addBatch") / 1e3,
        "commit_s" -> (ms("walCommit") + ms("commitOffsets")) / 1e3,
        "planning_s" -> ms("queryPlanning") / 1e3,
        "input_rows" -> p.numInputRows,
        "state_rows" -> p.stateOperators.map(_.numRowsTotal).sum,
        "state_mem_bytes" -> p.stateOperators.map(_.memoryUsedBytes).sum))
      val end = java.time.Instant.parse(p.timestamp).toEpochMilli + ms("triggerExecution")
      synchronized {
        spans += Map("name" -> "streaming.batch", "start_ms" -> (end - ms("triggerExecution")),
          "end_ms" -> end, "parent" -> "operators.build", "op" -> current)
      }
    }
  }

  /** Exchanges and observed pair counts of every query execution. */
  final class PlanListener extends QueryExecutionListener {
    @volatile var current = 0
    val exchanges = new ConcurrentHashMap[Int, Long]()
    val pairs = new ConcurrentHashMap[Int, Long]()
    override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = {
      exchanges.merge(current, countExchanges(qe.executedPlan).toLong, (a, b) => a + b)
      qe.observedMetrics.foreach { case (k, row) =>
        if (k.startsWith("graft.pair_count."))
          pairs.merge(current, row.getAs[Long]("pairs_emitted"), (a, b) => a + b)
      }
    }
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  def countExchanges(plan: SparkPlan): Int = plan match {
    case a: AdaptiveSparkPlanExec => countExchanges(a.executedPlan)
    case s: QueryStageExec => countExchanges(s.plan)
    case e: Exchange => 1 + e.children.map(countExchanges).sum
    case other =>
      other.children.map(countExchanges).sum + other.subqueries.map(countExchanges).sum
  }

  /** Task, stage and job counters of traced passes, keyed by operation. */
  final class LayerListener extends SparkListener {
    final class Acc {
      var tasks = 0L; var taskNs = 0L; var taskMaxNs = 0L
      var scanBytes = 0L; var scanRows = 0L; var scanTaskNs = 0L
      var writeBytes = 0L; var writeRows = 0L
      var shWrite = 0L; var shRead = 0L; var fetchWaitMs = 0L; var spill = 0L
      var stages = 0L; var jobs = 0L; var buildJobs = 0L
      val jobIv = mutable.ArrayBuffer[(Long, Long)]()
    }
    val acc = new ConcurrentHashMap[Int, Acc]()
    val stageOp = new ConcurrentHashMap[Int, Int]()
    val jobOp = new ConcurrentHashMap[Int, (Int, Long)]()
    val buildNs = mutable.Map[Int, Long]()
    val planNs = mutable.Map[Int, Long]()
    val wallNs = mutable.Map[Int, Long]()
    val jobSpans = mutable.ArrayBuffer[Map[String, Any]]()
    private def a(op: Int) = acc.computeIfAbsent(op, _ => new Acc)

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val op = Option(e.properties).flatMap(p => Option(p.getProperty("perfbench.op")))
        .map(_.toInt).getOrElse(0)
      val phase = Option(e.properties).map(_.getProperty("perfbench.phase", "")).getOrElse("")
      jobOp.put(e.jobId, (op, e.time))
      e.stageIds.foreach(stageOp.put(_, op))
      val x = a(op)
      x.synchronized { x.jobs += 1; if (phase == "build") x.buildJobs += 1 }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Option(jobOp.get(e.jobId)).foreach {
      case (op, t0) =>
        val x = a(op)
        x.synchronized { x.jobIv += ((t0, e.time)) }
        synchronized {
          jobSpans += Map("name" -> "exec.job", "start_ms" -> t0,
            "end_ms" -> e.time, "parent" -> "op", "op" -> op, "job" -> e.jobId)
        }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val x = a(stageOp.getOrDefault(e.stageInfo.stageId, 0))
      x.synchronized { x.stages += 1 }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m == null || e.taskInfo == null) return
      val x = a(stageOp.getOrDefault(e.stageId, 0))
      val ns = m.executorRunTime * 1000000L
      x.synchronized {
        x.tasks += 1; x.taskNs += ns; x.taskMaxNs = math.max(x.taskMaxNs, ns)
        if (m.inputMetrics.bytesRead > 0 || m.inputMetrics.recordsRead > 0) {
          x.scanBytes += m.inputMetrics.bytesRead
          x.scanRows += m.inputMetrics.recordsRead
          x.scanTaskNs += ns
        }
        x.writeBytes += m.outputMetrics.bytesWritten
        x.writeRows += m.outputMetrics.recordsWritten
        x.shWrite += m.shuffleWriteMetrics.bytesWritten
        x.shRead += m.shuffleReadMetrics.totalBytesRead
        x.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        x.spill += m.diskBytesSpilled
      }
    }

    /** Totals over all traced operations; run.py divides by traced passes. */
    def summary(cores: Int, plans: PlanListener): Map[String, Any] = {
      val ops = wallNs.keys.toSeq
      val accs = ops.map(a)
      def sum(f: Acc => Long) = accs.map(f).sum
      // wall time of each op covered by at least one of its jobs
      val jobNs = ops.map { op =>
        val iv = a(op).jobIv.sortBy(_._1)
        var covered = 0L; var end = Long.MinValue
        iv.foreach { case (s, e) =>
          val s2 = math.max(s, end)
          if (e > s2) covered += e - s2
          end = math.max(end, e)
        }
        covered * 1000000L
      }
      val gapNs = ops.zip(jobNs).map { case (op, j) => math.max(0L, wallNs(op) - j) }.sum
      val maxTask = if (accs.isEmpty) 0L else accs.map(_.taskMaxNs).max
      Map(
        "traced_ops" -> ops.size,
        "plans.plan_s" -> ops.map(planNs).sum / 1e9,
        "exec.driver_gap_s" -> gapNs / 1e9,
        "sources.scan_bytes" -> sum(_.scanBytes),
        "sources.scan_rows" -> sum(_.scanRows),
        "sources.scan_task_s" -> sum(_.scanTaskNs) / 1e9,
        "sources.write_bytes" -> sum(_.writeBytes),
        "sources.write_rows" -> sum(_.writeRows),
        "operators.build_s" -> ops.map(buildNs).sum / 1e9,
        "operators.build_jobs" -> sum(_.buildJobs),
        "exchange.count" -> ops.map(op => plans.exchanges.getOrDefault(op, 0L)).sum,
        "exchange.shuffle_write_bytes" -> sum(_.shWrite),
        "exchange.shuffle_read_bytes" -> sum(_.shRead),
        "exchange.fetch_wait_s" -> sum(_.fetchWaitMs) / 1e3,
        "exchange.spill_bytes" -> sum(_.spill),
        "exec.jobs" -> sum(_.jobs),
        "exec.stages" -> sum(_.stages),
        "exec.tasks" -> sum(_.tasks),
        "exec.task_s_sum" -> sum(_.taskNs) / 1e9,
        "exec.task_s_max" -> maxTask / 1e9,
        "exec.parallel_eff" ->
          (if (jobNs.sum == 0) 0.0 else sum(_.taskNs).toDouble / (cores * jobNs.sum)),
        "dedup.pairs_emitted" -> ops.map(op => plans.pairs.getOrDefault(op, 0L)).sum)
    }
  }
}
