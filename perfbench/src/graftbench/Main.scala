package graftbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Settings of one benchmark invocation (see perfbench/run.py). */
final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
                      fixtures: String, work: String, expected: String, out: String,
                      cpus: Int, emitExpected: Boolean) {
  def fixture(sf: String): String = s"$fixtures/sf$sf"
}

/** Everything a workload reports back to [[Main]]. */
final class RunLog {
  val ops = mutable.ArrayBuffer.empty[OpRecord]
  val failures = mutable.ArrayBuffer.empty[String]
  var checks = 0
  var checksFailed = 0
  var aborted = false
  var measuredS = 0.0
  /** Named per-layer values for the trace JSON (perfbench/README.md lists them). */
  val layer = mutable.LinkedHashMap.empty[String, Any]
  /** Two-scale fits and other trace-only structures. */
  val traceExtra = mutable.LinkedHashMap.empty[String, Any]
  var overheadPct = Double.NaN

  def op(r: OpRecord): Unit = synchronized { ops += r }
  def fail(msg: String): Unit = synchronized {
    failures += msg
    System.err.println(s"[perfbench] FAIL $msg")
  }
  /** A correctness check outside any timed operation. */
  def check(ok: Boolean, msg: => String): Unit = synchronized {
    checks += 1
    if (!ok) { checksFailed += 1; fail(msg) }
  }
}

/** A workload: `prepare` is the timed set-up (repeated), `init` is
  * untimed benchmark-side preparation (expected answers, warm-up),
  * `run` measures. */
trait Workload {
  def prepare(spark: SparkSession, rep: Int): Unit
  def init(spark: SparkSession): Unit = ()
  def run(spark: SparkSession, log: RunLog, tracer: Option[Tracer]): Unit
  def emitExpected(spark: SparkSession): Unit =
    throw new IllegalArgumentException("this workload stores no expected outputs")
}

object Main {
  val SetupReps = 5

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def get(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(get("workload"), get("seed").toLong, get("seconds").toDouble, get("trace") == "1",
      get("fixtures"), get("work"), get("expected"), get("out"),
      m.get("cpus").map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors()),
      m.get("emit-expected").contains("1"))
  }

  def workload(a: Args): Workload = a.workload match {
    case "online" => new OnlineWorkload(a)
    case "batch" => new BatchWorkload(a)
    case other => throw new IllegalArgumentException(s"unknown workload: $other")
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val wl = workload(a)
    new java.io.File(a.work).mkdirs()
    val warehouse = new java.io.File(a.work, "warehouse").getAbsolutePath
    if (a.emitExpected) {
      val spark = Session.create(a.cpus, warehouse)
      try wl.emitExpected(spark) finally spark.stop()
      return
    }
    // timed set-up, repeated: session + inputs + workload state; every
    // repetition but the last is torn down again
    val setups = mutable.ArrayBuffer.empty[Double]
    var firstSetupS = 0.0
    var spark: SparkSession = null
    for (rep <- 1 to SetupReps) {
      val t0 = System.nanoTime()
      spark = Session.create(a.cpus, warehouse)
      wl.prepare(spark, rep)
      setups += (System.nanoTime() - t0) / 1e9
      if (rep == 1) firstSetupS = (System.currentTimeMillis() - Jvm.startMs()) / 1e3
      if (rep < SetupReps) spark.stop()
    }
    def phase(name: String): Unit = System.err.println(
      f"[perfbench] $name at ${(System.currentTimeMillis() - Jvm.startMs()) / 1e3}%.1f s after JVM start")
    phase("set-up done")
    wl.init(spark)
    phase("expected answers ready")
    val log = new RunLog
    val tracer = if (a.trace) Some(new Tracer(spark)) else None
    val gc0 = Jvm.gcMs()
    val t0 = System.nanoTime()
    try wl.run(spark, log, tracer)
    catch { case e: Throwable =>
      e.printStackTrace()
      log.aborted = true
      log.fail(s"workload aborted: $e")
    }
    val wall = (System.nanoTime() - t0) / 1e9
    phase("workload done")
    val gcMs = Jvm.gcMs() - gc0
    // per-layer view of the traced operations, the same names for every workload
    val generic: Seq[(String, Any)] = tracer.toSeq.flatMap { t =>
      t.drain()
      log.layer(s"${a.workload}.gc_ms") = gcMs.toDouble
      val traced = log.ops.filter(_.traced).toSeq
      val n = math.max(1, traced.size).toDouble
      def c(r: OpRecord) = t.counters(r.id)
      def per(f: OpCounters => Double) = traced.map(r => f(c(r))).sum / n
      val driver = traced.map(r => OpStats.driverMs(r, c(r))).sum / n
      Seq(
        "setup_first_s" -> firstSetupS,
        "driver_ms_per_op" -> driver,
        "job_ms_per_op" -> (traced.map(_.wallMs).sum / n - driver),
        "jobs_per_op" -> per(_.jobs), "stages_per_op" -> per(_.stages),
        "tasks_per_op" -> per(_.tasks), "task_ms_per_op" -> per(_.taskMs.toDouble),
        "max_task_ms" -> traced.map(c(_).maxTaskMs.toDouble).maxOption.getOrElse(0.0),
        "sched_wait_ms_per_op" -> per(_.schedWaitMs.toDouble),
        "shuffle_write_bytes_per_op" -> per(_.shuffleWriteBytes.toDouble),
        "spill_bytes_per_op" -> per(_.spillBytes.toDouble),
        "input_bytes_per_op" -> per(_.inputBytes.toDouble),
        "input_rows_per_op" -> per(_.inputRows.toDouble),
        "output_bytes_per_op" -> per(_.outputBytes.toDouble),
        "gc_ms" -> gcMs.toDouble,
        "tracing_overhead_pct" -> log.overheadPct,
        "traced_ops" -> traced.size.toDouble)
    }
    def counts(r: OpRecord): Any = tracer.filter(_ => r.traced).map { t =>
      val c = t.counters(r.id)
      Obj("jobs" -> c.jobs, "stages" -> c.stages, "tasks" -> c.tasks, "task_ms" -> c.taskMs,
        "max_task_ms" -> c.maxTaskMs, "sched_wait_ms" -> c.schedWaitMs,
        "shuffle_write_bytes" -> c.shuffleWriteBytes, "spill_bytes" -> c.spillBytes,
        "input_bytes" -> c.inputBytes, "input_rows" -> c.inputRows,
        "output_bytes" -> c.outputBytes, "driver_ms" -> OpStats.driverMs(r, c))
    }.orNull
    val conf = spark.sparkContext.getConf
    val localDir = conf.getOption("spark.local.dir").getOrElse(
      Option(System.getenv("SPARK_LOCAL_DIRS")).getOrElse(System.getProperty("java.io.tmpdir")))
    val result = Obj(
      "workload" -> a.workload, "seed" -> a.seed, "trace" -> a.trace,
      "setup_s" -> setups.toSeq, "setup_first_s" -> firstSetupS,
      "measured_s" -> (if (log.measuredS > 0) log.measuredS else wall),
      "gc_ms" -> gcMs, "peak_rss_mb" -> Jvm.peakRssMb(),
      "checks" -> log.checks, "checks_failed" -> log.checksFailed,
      "aborted" -> log.aborted, "failures" -> log.failures.toSeq,
      "ops" -> log.ops.toSeq.map(r => Obj("id" -> r.id, "kind" -> r.kind, "group" -> r.group,
        "wall_ms" -> r.wallMs, "ok" -> r.ok, "traced" -> r.traced, "build_ms" -> r.buildMs,
        "plan_ms" -> r.planMs, "exec_ms" -> r.execMs, "rows_out" -> r.rowsOut,
        "extra" -> r.extra, "spark" -> counts(r))),
      "generic" -> Obj(generic: _*), "layer" -> log.layer, "trace_extra" -> log.traceExtra,
      "overhead_pct" -> log.overheadPct,
      "spans" -> tracer.map(_.allSpans.map(s => Obj("id" -> s.id, "name" -> s.name,
        "start_ms" -> s.startMs, "end_ms" -> s.endMs, "parent" -> s.parent,
        "request" -> s.request))).getOrElse(Nil),
      "env" -> Obj("cpus" -> a.cpus, "spark_version" -> spark.version,
        "java_version" -> System.getProperty("java.version"),
        "max_heap_mb" -> Runtime.getRuntime.maxMemory / (1 << 20),
        "spark_local_dir" -> localDir))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(a.out), Json(result))
    spark.stop()
    phase("stopped")
  }
}
