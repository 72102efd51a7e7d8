package graftbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Spark-side counters of one traced operation. */
final class OpCounters {
  var jobs, stages, tasks = 0
  var taskMs, maxTaskMs, schedWaitMs, gcMs = 0L
  var shuffleWriteBytes, spillBytes, inputBytes, inputRows, outputBytes = 0L
  /** (start, end) epoch-ms of each job of the operation. */
  val jobSpans = mutable.ArrayBuffer.empty[(Long, Long)]
}

/** A benchmark-side span: name, start/end (ms since the run's epoch),
  * parent span id and the request (operation) id it belongs to. */
final case class Span(id: Long, name: String, startMs: Double, endMs: Double,
                      parent: Long, request: String)

/** The benchmark's SparkListener. Operations are tagged with the
  * `graftbench.op` local property on the calling thread; every job,
  * stage and task event is attributed to the tag its job started under.
  * Counts are read only after [[drain]], which empties the listener bus
  * deterministically, so two traced runs of the same seed agree exactly.
  * Registered only in traced runs. */
final class Tracer(spark: SparkSession) extends SparkListener {
  val OpKey = "graftbench.op"
  private val sc = spark.sparkContext
  private val ops = mutable.HashMap.empty[String, OpCounters]
  private val stageOp = mutable.HashMap.empty[Int, String]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  private val jobOp = mutable.HashMap.empty[Int, (String, Long)]
  private val jobFirstTask = mutable.HashSet.empty[Int]
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val nextSpan = new java.util.concurrent.atomic.AtomicLong(1)
  val epochNs: Long = System.nanoTime()
  @volatile private var attached = false

  def attach(): Unit = if (!attached) { sc.addSparkListener(this); attached = true }
  def detach(): Unit = if (attached) { drain(); sc.removeSparkListener(this); attached = false }

  /** Block until every queued listener event is delivered
    * (`LiveListenerBus.waitUntilEmpty`, reached by reflection because it
    * is `private[spark]`). */
  def drain(): Unit = {
    val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
    bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
  }

  def counters(op: String): OpCounters = synchronized(ops.getOrElseUpdate(op, new OpCounters))

  def nowMs: Double = (System.nanoTime() - epochNs) / 1e6

  /** Record a benchmark-side span around `body`; returns body's value. */
  def span[T](name: String, parent: Long, request: String)(body: Long => T): T = {
    val id = nextSpan.getAndIncrement()
    val t0 = nowMs
    try body(id) finally spans.add(Span(id, name, t0, nowMs, parent, request))
  }

  def allSpans: Seq[Span] = spans.asScala.toSeq.sortBy(_.id)

  /** Run `body` with the calling thread's jobs tagged as `op`. */
  def tagged[T](op: String)(body: => T): T = {
    val prev = sc.getLocalProperty(OpKey)
    sc.setLocalProperty(OpKey, op)
    try body finally sc.setLocalProperty(OpKey, prev)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val op = Option(e.properties).map(_.getProperty(OpKey)).orNull
    if (op != null) {
      ops.getOrElseUpdate(op, new OpCounters).jobs += 1
      jobOp(e.jobId) = (op, e.time)
      e.stageIds.foreach { s => stageOp(s) = op; stageJob(s) = e.jobId }
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobOp.remove(e.jobId).foreach { case (op, t0) =>
      ops(op).jobSpans += ((t0, e.time))
    }
    jobFirstTask -= e.jobId
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageOp.get(e.stageInfo.stageId).foreach { op =>
      val c = ops(op)
      c.stages += 1
      c.tasks += e.stageInfo.numTasks
    }
  }

  override def onTaskStart(e: SparkListenerTaskStart): Unit = synchronized {
    for (job <- stageJob.get(e.stageId); (op, t0) <- jobOp.get(job)
         if jobFirstTask.add(job))
      ops(op).schedWaitMs += math.max(0L, e.taskInfo.launchTime - t0)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    for (op <- stageOp.get(e.stageId) if m != null) {
      val c = ops(op)
      val ms = m.executorRunTime + m.executorDeserializeTime
      c.taskMs += ms
      c.maxTaskMs = math.max(c.maxTaskMs, ms)
      c.gcMs += m.jvmGCTime
      c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      c.inputBytes += m.inputMetrics.bytesRead
      c.inputRows += m.inputMetrics.recordsRead
      c.outputBytes += m.outputMetrics.bytesWritten
    }
  }
}

/** The one code path of every operation, traced or not: a plain timer
  * that also records a span and tags the thread's jobs when a tracer is
  * present. */
object Spans {
  /** Runs `body` (given its span id, 0 when untraced) and returns its
    * value with its wall time in ms. */
  def timed[T](tracer: Option[Tracer], name: String, parent: Long, request: String)
              (body: Long => T): (T, Double) = {
    val s = System.nanoTime()
    val v = tracer match {
      case None => body(0L)
      case Some(t) => t.span(name, parent, request)(body)
    }
    (v, (System.nanoTime() - s) / 1e6)
  }

  def tagged[T](tracer: Option[Tracer], op: String)(body: => T): T = tracer match {
    case None => body
    case Some(t) => t.tagged(op)(body)
  }
}

/** One timed operation of a workload. `wallMs` is measured by the
  * benchmark around the public call; the build/plan/exec split is
  * filled only where the benchmark can observe it. */
final case class OpRecord(id: String, kind: String, group: String, wallMs: Double,
                          ok: Boolean, traced: Boolean, startEpochMs: Long = 0L,
                          buildMs: Double = Double.NaN, planMs: Double = Double.NaN,
                          execMs: Double = Double.NaN, rowsOut: Long = -1L,
                          extra: Map[String, Double] = Map.empty) {
  def endEpochMs: Long = startEpochMs + math.round(wallMs)
}

object OpStats {
  /** Milliseconds of [start, end] not covered by any job of the op: the
    * driver-side share (construction, planning, listing, commits). */
  def driverMs(r: OpRecord, c: OpCounters): Double = {
    val (s, e) = (r.startEpochMs, r.endEpochMs)
    val iv = c.jobSpans.map { case (a, b) => (math.max(a, s), math.min(b, e)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var curS = -1L
    var curE = -1L
    iv.foreach { case (a, b) =>
      if (a > curE) { if (curE > curS) covered += curE - curS; curS = a; curE = b }
      else curE = math.max(curE, b)
    }
    if (curE > curS) covered += curE - curS
    math.max(0.0, r.wallMs - covered)
  }

  /** Summed wall, driver-side and in-job time of a set of operations. */
  def split(rs: Seq[OpRecord], c: OpRecord => OpCounters): Obj = {
    val wall = rs.map(_.wallMs).sum
    val driver = rs.map(r => driverMs(r, c(r))).sum
    Obj("ops" -> rs.size, "wall_ms" -> wall, "driver_ms" -> driver, "job_ms" -> (wall - driver),
      "driver_share" -> driver / wall)
  }
}
