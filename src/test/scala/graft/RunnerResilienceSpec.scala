package graft

import java.nio.file.{Files, Paths}

/** The orchestration shell's resilience paths (reference
  * `daily_transactions_dag.py`: FileSensor poke/timeout, task retry with
  * failure callback) — exercised with injected clock/sleep, no wall-clock
  * waits. */
class RunnerResilienceSpec extends SparkSpec {

  test("withRetry: fails once, backs off, then succeeds") {
    var calls = 0
    val sleeps = scala.collection.mutable.ListBuffer.empty[Long]
    var failed: Option[Throwable] = None
    val got = JobRunner.withRetry(attempts = 2, backoffMs = 300L,
      sleep = sleeps += _, onFailure = e => failed = Some(e)) { () =>
      calls += 1
      if (calls == 1) throw new RuntimeException("transient")
      42
    }
    assert(got == 42 && calls == 2)
    assert(sleeps.toList == List(300L))
    assert(failed.isEmpty, "failure hook must not fire on eventual success")
  }

  test("withRetry: exhaustion throws the last error and fires the hook once") {
    var calls = 0
    var hooks = 0
    val e = intercept[RuntimeException] {
      JobRunner.withRetry(attempts = 3, backoffMs = 1L, sleep = _ => (),
        onFailure = _ => hooks += 1) { () =>
        calls += 1
        throw new RuntimeException(s"boom $calls")
      }
    }
    assert(e.getMessage == "boom 3" && calls == 3 && hooks == 1)
  }

  test("pollForInput: times out on a missing path after bounded pokes") {
    var now = 0L
    var pokes = 0
    val ok = JobRunner.pollForInput(spark, "/nonexistent/graft/input",
      pokeIntervalMs = 300L, timeoutMs = 1000L,
      clock = () => now, sleep = ms => { pokes += 1; now += ms })
    assert(!ok)
    assert(pokes == 4, s"300+300+300+100 ms of pokes expected, got $pokes")
  }

  test("retry failures go through slf4j (D5), not stderr") {
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.LogEvent
    import org.apache.logging.log4j.core.appender.AbstractAppender
    val events = scala.collection.mutable.ListBuffer.empty[String]
    val app = new AbstractAppender("graft-capture", null, null, true, Array.empty) {
      override def append(e: LogEvent): Unit =
        events.synchronized { events += e.getMessage.getFormattedMessage }
    }
    app.start()
    // attach straight to the core Logger backing JobRunner's slf4j logger
    val core = LogManager.getLogger("graft.JobRunner$")
      .asInstanceOf[org.apache.logging.log4j.core.Logger]
    core.addAppender(app)
    core.setLevel(Level.WARN)
    try {
      var calls = 0
      JobRunner.withRetry(attempts = 2, backoffMs = 1L, sleep = _ => ()) { () =>
        calls += 1
        if (calls == 1) throw new RuntimeException("transient-for-log") else ()
      }
      val captured = events.synchronized(events.toList)
      assert(captured.exists(m => m.contains("transient-for-log") && m.contains("retrying")),
        s"no structured retry log among: $captured")
    } finally {
      core.removeAppender(app)
      app.stop()
    }
  }

  test("structured lifecycle logs carry machine-parseable fields (D5 full)") {
    val lines = scala.collection.mutable.ListBuffer.empty[(String, String)]
    val l = (level: String, line: String) =>
      lines.synchronized { lines += ((level, line)); () }
    StructuredLog.addListener(l)
    try {
      // retry path: task_retry then task_exhausted with attempt fields
      intercept[RuntimeException] {
        JobRunner.withRetry(attempts = 2, backoffMs = 1L, sleep = _ => ()) {
          () => throw new RuntimeException("structured boom")
        }
      }
      // sensor path: input_poll then input_timeout with path fields
      var now = 0L
      JobRunner.pollForInput(spark, "/nonexistent/graft/structured",
        pokeIntervalMs = 100L, timeoutMs = 200L,
        clock = () => now, sleep = ms => now += ms)
      val got = lines.synchronized(lines.toList)
      def field(line: String, k: String) = line.split(" ").find(_.startsWith(s"$k="))
      val retry = got.collectFirst {
        case ("WARN", m) if m.startsWith("event=task_retry ") => m
      }.getOrElse(fail(s"no task_retry among: $got"))
      assert(field(retry, "attempt").contains("attempt=1")
        && field(retry, "attempts").contains("attempts=2")
        && retry.contains("error=\"structured boom\""))
      val exhausted = got.collectFirst {
        case ("ERROR", m) if m.startsWith("event=task_exhausted ") => m
      }.getOrElse(fail(s"no task_exhausted among: $got"))
      assert(field(exhausted, "attempts").contains("attempts=2"))
      val timeout = got.collectFirst {
        case ("ERROR", m) if m.startsWith("event=input_timeout ") => m
      }.getOrElse(fail(s"no input_timeout among: $got"))
      assert(field(timeout, "path").contains("path=/nonexistent/graft/structured")
        && field(timeout, "timeout_ms").contains("timeout_ms=200"))
    } finally StructuredLog.removeListener(l)
  }

  test("pollForInput: sees a file that arrives while poking") {
    val dir = Files.createTempDirectory("graft_sensor").toString
    val target = s"$dir/events.parquet"
    var now = 0L
    val ok = JobRunner.pollForInput(spark, target,
      pokeIntervalMs = 300L, timeoutMs = 10_000L,
      clock = () => now,
      sleep = ms => { now += ms; Files.createFile(Paths.get(target)) })
    assert(ok)
  }

  test("Probe: a k=v override without '=' fails; ns timing metrics convert to ms") {
    assert(Probe.parseOverride("spark.sql.adaptive.enabled=false") ==
      ("spark.sql.adaptive.enabled" -> "false"))
    assert(Probe.parseOverride("k=a=b") == ("k" -> "a=b"))
    Seq("spark.sql.adaptive.enabled", "=false").foreach { bad =>
      val e = intercept[IllegalArgumentException](Probe.parseOverride(bad))
      assert(e.getMessage.contains(s"bad override '$bad'"), e.getMessage)
    }
    import org.apache.spark.sql.execution.metric.SQLMetric
    def metric(kind: String, v: Long) = { val m = new SQLMetric(kind, 0L); m.set(v); m }
    assert(Probe.metricMs(metric("nsTiming", 2500000L)) == Some(2.5))
    assert(Probe.metricMs(metric("timing", 7L)) == Some(7.0))
    assert(Probe.metricMs(metric("sum", 7L)).isEmpty)
  }
}
