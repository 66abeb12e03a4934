package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.metric.SQLMetric

/** Dev probe: runs registry queries under the bench methodology — the
  * session confs of [[Bench]] (including
  * `spark.graft.pairPresentationSort=false`), the
  * [[ProbeMaterialize.checksum]] action, two runs per query, each timed
  * from the registry call — with session conf overrides from the command
  * line, so conf-sensitive hypotheses are testable without touching Bench.
  *
  * Usage: tools/run.sh graft.Probe <time|stages|plan> <q1,q2,...> <sfDir> [k=v]...
  *  - `time`: min-of-2 wall per query and their TOTAL — the instrument
  *    behind `tools/ab.sh`. Fails when the two runs' checksums differ.
  *  - `stages`: where the steady-state (second) run's seconds go — stages
  *    by total task time with their max single task, jobs with wall spans
  *    and the time no job ran (pure driver work), and the executed-plan
  *    operators whose own time metric exceeds 200 ms.
  *  - `plan`: the formatted executed plan of one run.
  */
object Probe {
  private val modes = Set("time", "stages", "plan")

  def main(args: Array[String]): Unit = {
    require(args.length >= 3 && modes(args(0)),
      "usage: graft.Probe <time|stages|plan> <q1,q2,...> <sfDir> [k=v]...")
    val names = args(1).split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(",")}")
    val sfDir = args(2)
    val overrides = args.drop(3).toSeq.map(parseOverride)
    val spark = Session.local(
      ("spark.graft.pairPresentationSort" -> "false") +: overrides: _*)
    try {
      Tables.preflight(spark, sfDir)
      // session warm-up against whichever table the (possibly partial)
      // probe corpus actually has
      val fs = new org.apache.hadoop.fs.Path(sfDir)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      Tables.names.map(Tables.path(sfDir, _))
        .find(p => fs.exists(new org.apache.hadoop.fs.Path(p)))
        .foreach(p => spark.read.parquet(p).count())
      args(0) match {
        case "time" =>
          val mins = names.map { name =>
            val (t1, t2, c) = twice(spark, sfDir, name)(ProbeMaterialize.checksum)
            val t = math.min(t1, t2)
            println(f"[probe-time] $name%-36s $t%8.3f s  runs $t1%.3f/$t2%.3f rows ${c._1}")
            t
          }
          println(f"[probe-time] TOTAL ${mins.sum}%8.3f s  overrides=${
            overrides.map { case (k, v) => s"$k=$v" }.mkString(",")}")
        case "stages" => names.foreach(stages(spark, sfDir, _))
        case "plan" => names.foreach { name =>
          val t0 = System.nanoTime()
          val df = ProbeMaterialize.wrap(SparkEntry.queries(name)(spark, sfDir))
          df.collect()
          val secs = (System.nanoTime() - t0) / 1e9
          df.explain("formatted")
          println(f"[probe-plan] $name: $secs%.2f s at $sfDir")
        }
      }
    } finally spark.stop()
  }

  /** A command-line `key=value` conf override; anything else fails rather
    * than setting an empty key. */
  private[graft] def parseOverride(kv: String): (String, String) = {
    val i = kv.indexOf('=')
    require(i > 0, s"bad override '$kv': expected key=value")
    (kv.take(i), kv.drop(i + 1))
  }

  /** A time metric's value in ms — `timing` metrics count milliseconds,
    * `nsTiming` metrics nanoseconds; other metric types are not times. */
  private[graft] def metricMs(m: SQLMetric): Option[Double] = m.metricType match {
    case "timing" => Some(m.value.toDouble)
    case "nsTiming" => Some(m.value / 1e6)
    case _ => None
  }

  /** Two runs of `name` through `action`, each timed from the registry
    * call (streaming queries run their stream inside it, as in Bench),
    * with `between` run after the first; a result that differs between
    * the runs fails the probe. */
  private def twice[A](spark: SparkSession, sfDir: String, name: String,
                       between: () => Unit = () => ())
                      (action: DataFrame => A): (Double, Double, A) = {
    def once(): (Double, A) = {
      val t0 = System.nanoTime()
      val a = action(SparkEntry.queries(name)(spark, sfDir))
      ((System.nanoTime() - t0) / 1e9, a)
    }
    val (t1, a1) = once()
    between()
    val (t2, a2) = once()
    require(a1 == a2, s"$name: nondeterministic result: $a1 != $a2")
    (t1, t2, a1)
  }

  private final class StageAgg extends SparkListener {
    case class Agg(var n: Int = 0, var maxMs: Long = 0L, var sumMs: Long = 0L)
    val byStage = new java.util.concurrent.ConcurrentHashMap[Int, Agg]()
    val names = new java.util.concurrent.ConcurrentHashMap[Int, String]()
    @volatile var enabled = false
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      if (enabled && e.taskInfo != null) {
        val a = byStage.computeIfAbsent(e.stageId, _ => Agg())
        a.synchronized {
          a.n += 1; a.sumMs += e.taskInfo.duration
          a.maxMs = math.max(a.maxMs, e.taskInfo.duration)
        }
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      if (enabled) {
        // the callsite NAME is usually an anonymous AQE future — the first
        // graft frame in `details` is the attribution that matters (r15)
        val site = e.stageInfo.details.linesIterator
          .find(l => l.contains("graft.") && !l.contains("graft.Probe"))
          .map(_.trim.stripPrefix("at ")).getOrElse("")
        names.put(e.stageInfo.stageId,
          (e.stageInfo.name.linesIterator.next().take(60) + "  " + site).take(180))
      }
    // per-JOB wall spans: sequential jobs (localCheckpoint, isEmpty
    // convergence checks, broadcasts) each pay scheduling+planning wall
    // that task time never shows; the gaps between jobs are pure
    // driver-side work (Catalyst, commit, collect)
    case class J(var t0: Long = 0L, var t1: Long = 0L, var desc: String = "")
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, J]()
    override def onJobStart(e: SparkListenerJobStart): Unit = if (enabled) {
      val j = jobs.computeIfAbsent(e.jobId, _ => J())
      j.t0 = e.time
      j.desc = e.stageInfos.map(_.name.linesIterator.next()).distinct
        .mkString(" | ").take(160)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = if (enabled) {
      val j = jobs.get(e.jobId); if (j != null) j.t1 = e.time
    }
  }

  private def stages(spark: SparkSession, sfDir: String, name: String): Unit = {
    val l = new StageAgg
    spark.sparkContext.addSparkListener(l)
    var lastDf: DataFrame = null
    // attribute the steady-state (second) run only
    val (t1, t2, _) = twice(spark, sfDir, name, () => l.enabled = true) { df =>
      lastDf = ProbeMaterialize.wrap(df)
      // collect(), not head(): head re-plans through a fresh limit(1)
      // QueryExecution, leaving lastDf's own executedPlan (the one the
      // metric walk reads) unexecuted. The frame is a 1-row aggregate.
      lastDf.collect().toSeq
    }
    l.enabled = false
    // the executed plan with its populated SQL metrics attributes seconds
    // to OPERATORS, where the stage listing only attributes them to
    // anonymous AQE futures (r15)
    def walk(p: SparkPlan, depth: Int): Unit = {
      val ownMs = p.metrics.values.flatMap(metricMs).foldLeft(0.0)(math.max)
      if (ownMs >= 200) {
        val shown = p.metrics.toSeq.sortBy(_._1).collect {
          case (k, m) if m.value > 0 =>
            s"$k=" + metricMs(m).fold(m.value.toString)(ms => f"${ms / 1000}%.2fs")
        }
        println(f"[plan-metrics] ${"  " * depth}${p.nodeName}%-40s " +
          f"maxTimeMetric ${ownMs / 1000}%8.2f s rows " +
          f"${p.metrics.get("numOutputRows").fold(-1L)(_.value)}%10d  " +
          shown.take(6).mkString(" "))
      }
      val kids = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case q: QueryStageExec => Seq(q.plan)
        case other => other.children
      }
      kids.foreach(walk(_, depth + 1))
    }
    walk(lastDf.queryExecution.executedPlan, 0)
    Thread.sleep(1500) // listener bus drains async
    spark.sparkContext.removeSparkListener(l)
    println(f"[query-stages] $name: runs $t1%.2f / $t2%.2f s at $sfDir")
    val it = l.byStage.entrySet().iterator()
    val rows = scala.collection.mutable.ArrayBuffer.empty[(Int, Int, Long, Long)]
    while (it.hasNext) {
      val e = it.next()
      rows += ((e.getKey, e.getValue.n, e.getValue.maxMs, e.getValue.sumMs))
    }
    val totalTask = rows.map(_._4).sum / 1000.0
    println(f"[query-stages] total task time $totalTask%.2f s across ${rows.size} stages")
    rows.sortBy(-_._4).take(18).foreach { case (sid, n2, mx, sum) =>
      println(f"[query-stages] stage $sid%5d tasks $n2%4d max ${mx / 1000.0}%7.2f s " +
        f"sum ${sum / 1000.0}%8.2f s  ${l.names.getOrDefault(sid, "?")}")
    }
    val jit = l.jobs.entrySet().iterator()
    val jrows = scala.collection.mutable.ArrayBuffer.empty[(Int, Long, Long, String)]
    while (jit.hasNext) {
      val e = jit.next()
      jrows += ((e.getKey, e.getValue.t0, e.getValue.t1, e.getValue.desc))
    }
    val sortedJ = jrows.sortBy(_._2)
    val jobWall = sortedJ.collect { case (_, t0, t1, _) if t1 > 0 => t1 - t0 }.sum / 1000.0
    // occupancy = union of job intervals (jobs overlap: broadcast
    // exchanges run as concurrent futures); wall − occupancy = time with
    // NO job running at all — pure driver work (planning, commit)
    val ivs = sortedJ.collect { case (_, t0, t1, _) if t1 > 0 => (t0, t1) }
    var occ = 0L; var curS = 0L; var curE = -1L
    ivs.foreach { case (s0, e0) =>
      if (e0 > curE) {
        if (s0 > curE) { occ += (curE - curS).max(0L); curS = s0 }
        curE = e0
      }
    }
    occ += (curE - curS).max(0L)
    println(f"[query-jobs] ${sortedJ.size} jobs, job wall $jobWall%.2f s, " +
      f"occupancy ${occ / 1000.0}%.2f s (wall minus this = pure driver)")
    sortedJ.foreach { case (jid, t0, t1, desc) =>
      val w = if (t1 > 0) (t1 - t0) / 1000.0 else -1.0
      println(f"[query-jobs] job $jid%4d wall $w%7.3f s  $desc")
    }
  }
}
