package graftbench

import java.util.concurrent.CyclicBarrier

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.queries.Serving

/** The dashboard API: a closed loop of client threads over
  * `Tables.events` issuing the reference's four endpoints through
  * `graft.queries.Serving`, every response collected through
  * `Serving.jsonEdge`, keys Zipf(1.1) over the fixture's users. */
final class ServePart(a: Args) {
  val Sf = "0.1"
  val Clients = math.min(2, a.cpus)
  val HistoryN = 2000
  /** Untimed warm-up requests per client before the measured ones. */
  val WarmRequests = 20
  /** Measured requests per client per second of `--seconds` (about the
    * rate one client reaches on 4 cores). */
  val RequestsPerClientSecond = 3
  def measuredRequests: Int = math.max(1, math.round(a.seconds * RequestsPerClientSecond).toInt)
  val RecentK = 6
  val Sinces = IndexedSeq("2024-01-08 00:00:00", "2024-01-15 00:00:00",
    "2024-01-22 00:00:00", "2024-01-29 00:00:00")
  /** Requests per client per block in a traced run (fixed, so counts repeat). */
  val TracedBlock = 10
  val TracedBlocks = 5
  private val dir = a.fixture(Sf)

  final case class Req(kind: String, key: Long, since: Int)

  /** Expected answers, computed once per run on the driver from one
    * whole-table scan (independent of the serving plans). */
  final class Oracle(val users: Array[Long], val latest: Map[Long, Long],
                     val history: Map[Long, (Long, Long)],
                     val olhc: Map[(Long, Int), (Long, Long)], val recent: Seq[Long])
  private var oracle: Oracle = _

  def computeOracle(spark: SparkSession): Oracle = {
    val rows = Tables.events(spark, dir).select(col("user_id"), col("event_id"),
      unix_micros(col("ts"))).collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // newest first: ts desc, event_id desc (the endpoints' order)
    val newest = Ordering.by[(Long, Long, Long), (Long, Long)](r => (-r._3, -r._2))
    val sinces = Sinces.map(s => java.time.LocalDateTime.parse(s.replace(' ', 'T'))
      .toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L)
    val byUser = rows.groupBy(_._1).map { case (u, rs) => u -> rs.sorted(newest) }
    val latest = byUser.map { case (u, rs) => u -> rs.head._2 }
    val history = byUser.map { case (u, rs) =>
      val top = rs.take(HistoryN); u -> (top.length.toLong, top.map(_._2).sum) }
    val olhc = for ((u, rs) <- byUser; i <- sinces.indices;
                    in = rs.filter(_._3 >= sinces(i)) if in.nonEmpty)
      yield (u, i) -> (in.length.toLong, in.map(_._2).sum)
    val recent = rows.sorted(newest).take(RecentK).map(_._2).toSeq
    new Oracle(latest.keys.toArray.sorted, latest, history, olhc, recent)
  }

  /** Session-side set-up: resolve the events scan (footer, schema). */
  def prepare(spark: SparkSession): Unit = Tables.events(spark, dir).schema

  def init(spark: SparkSession): Unit = oracle = computeOracle(spark)

  /** Dumps the setup-time answers for the one-off DuckDB cross-check. */
  def emitExpected(spark: SparkSession): Unit = {
    val o = computeOracle(spark)
    val dump = new java.io.File(a.work, "expected-dump")
    dump.mkdirs()
    java.nio.file.Files.writeString(new java.io.File(dump, "serve.json").toPath, Json(Obj(
      "sinces" -> Sinces, "history_n" -> HistoryN, "recent_k" -> RecentK,
      "latest" -> o.latest,
      "history" -> o.history.map { case (k, (c, s)) => k -> Seq(c, s) },
      "olhc" -> o.olhc.map { case ((k, i), (c, s)) => s"$k|$i" -> Seq(c, s) },
      "recent" -> o.recent)))
  }

  /** The request's DataFrame, built through the public serving API. */
  def build(spark: SparkSession, r: Req): org.apache.spark.sql.Dataset[String] = {
    val ev = Tables.events(spark, dir)
    val df: DataFrame = r.kind match {
      case "latest" => Serving.latest(ev, r.key)
      case "history" => Serving.history(ev, r.key, HistoryN)
      case "olhc" => Serving.olhcWindow(ev, r.key, Sinces(r.since))
      case "recent" => Serving.recentGlobal(ev, RecentK)
    }
    Serving.jsonEdge(df)
  }

  private val IdRe = "\"event_id\":(\\d+)".r

  def correct(r: Req, json: Array[String]): Boolean = {
    val ids = json.toSeq.map(j => IdRe.findFirstMatchIn(j).map(_.group(1).toLong).getOrElse(-1L))
    def countSum(e: Option[(Long, Long)]) = e.getOrElse((0L, 0L)) == ((ids.size.toLong, ids.sum))
    r.kind match {
      case "latest" => ids == oracle.latest.get(r.key).toSeq
      case "history" => countSum(oracle.history.get(r.key)) &&
        ids.headOption == oracle.latest.get(r.key)
      case "olhc" => countSum(oracle.olhc.get((r.key, r.since)))
      case "recent" => ids == oracle.recent
    }
  }

  /** Seeded request stream of one client. */
  final class Stream(client: Int) {
    private val rnd = new java.util.Random(a.seed * 1000003L + client)
    private val zipf = new Zipf(oracle.users.length, 1.1)
    private val byRank = {
      val u = oracle.users.clone()
      val r = new java.util.Random(a.seed)
      for (i <- u.indices.reverse) { val j = r.nextInt(i + 1); val t = u(i); u(i) = u(j); u(j) = t }
      u
    }
    def next(): Req = {
      val p = rnd.nextInt(100)
      val key = byRank(zipf.sample(rnd))
      val since = rnd.nextInt(Sinces.size)
      if (p < 50) Req("latest", key, 0)
      else if (p < 70) Req("history", key, 0)
      else if (p < 90) Req("olhc", key, since)
      else Req("recent", -1L, 0)
    }
  }

  /** One request, timed from the caller's side: build, plan and execute
    * (collect); the answer is checked after its time is taken. */
  def execute(spark: SparkSession, log: RunLog, r: Req, id: String,
              tracer: Option[Tracer]): OpRecord = {
    val start = System.currentTimeMillis()
    val (rec, _) = Spans.tagged(tracer, id) {
      Spans.timed(tracer, "request", 0L, id) { root =>
        val t0 = System.nanoTime()
        var (b, p, x) = (Double.NaN, Double.NaN, Double.NaN)
        val out = try {
          val (ds, bMs) = Spans.timed(tracer, "build", root, id)(_ => build(spark, r))
          val (_, pMs) = Spans.timed(tracer, "plan", root, id)(_ => ds.queryExecution.executedPlan)
          val (json, xMs) = Spans.timed(tracer, "exec", root, id)(_ => ds.collect())
          b = bMs; p = pMs; x = xMs
          Some(json)
        } catch { case e: Throwable => log.fail(s"$id ${r.kind}: $e"); None }
        val wall = (System.nanoTime() - t0) / 1e6
        val ok = out.exists(correct(r, _))
        if (out.isDefined && !ok) log.fail(s"$id ${r.kind} key=${r.key}: wrong answer")
        OpRecord(id, r.kind, "Serving", wall, ok, tracer.isDefined, start, b, p, x,
          out.map(_.length.toLong).getOrElse(-1L))
      }
    }
    log.op(rec)
    rec
  }

  def run(spark: SparkSession, log: RunLog, tracer: Option[Tracer]): Unit = tracer match {
    case None =>
      // closed loop: each client issues its next request as soon as the
      // previous response is in. Every client first sends WarmRequests
      // (checked, not timed), then a fixed count, so the operation count
      // and the ranks the percentiles fall on do not depend on speed.
      val streams = (0 until Clients).map(new Stream(_))
      def loop(tag: String, n: Int): Unit = {
        val threads = (0 until Clients).map { c =>
          new Thread(() => (0 until n).foreach(i =>
            execute(spark, log, streams(c).next(), s"$tag$c-$i", None)))
        }
        threads.foreach(_.start()); threads.foreach(_.join())
      }
      loop("w", WarmRequests)
      val warm = log.ops.toSeq
      log.ops.clear()
      log.check(warm.forall(_.ok), "warm-up requests answered wrongly")
      val t0 = System.nanoTime()
      loop("c", measuredRequests)
      log.measuredS = (System.nanoTime() - t0) / 1e9
    case Some(t) =>
      // fixed request lists; each block runs once untraced and once
      // traced (order alternating per block) so the overhead compares
      // identical requests
      val streams = (0 until Clients).map(new Stream(_))
      val blocks = (0 until Clients).map(c =>
        Seq.fill(TracedBlocks)(Seq.fill(TracedBlock)(streams(c).next())))
      val barrier = new CyclicBarrier(Clients)
      // block 0 doubles as warm-up and stays out of the overhead
      val uMs = new java.util.concurrent.atomic.AtomicLong()
      val tMs = new java.util.concurrent.atomic.AtomicLong()
      def phase(k: Int, traced: Boolean): Unit = {
        if (traced) t.attach() else t.detach()
        val threads = (0 until Clients).map { c =>
          new Thread(() => {
            barrier.await()
            blocks(c)(k).zipWithIndex.foreach { case (r, i) =>
              val id = s"c$c-b$k-$i" + (if (traced) "" else "-u")
              val t0 = System.nanoTime()
              execute(spark, log, r, id, if (traced) Some(t) else None)
              if (k > 0) (if (traced) tMs else uMs).addAndGet(System.nanoTime() - t0)
            }
          })
        }
        threads.foreach(_.start()); threads.foreach(_.join())
      }
      for (k <- 0 until TracedBlocks) {
        val tracedFirst = k % 2 == 1
        phase(k, tracedFirst)
        phase(k, !tracedFirst)
      }
      t.detach()
      log.overheadPct = 100.0 * (tMs.get.toDouble / uMs.get - 1.0)
      log.layer("serve.overhead_pct") = log.overheadPct
      val traced = log.ops.filter(_.traced)
      def mean(f: OpRecord => Double) = traced.map(f).sum / traced.size
      def per(f: OpCounters => Double) = traced.map(r => f(t.counters(r.id))).sum / traced.size
      log.layer ++= Seq(
        "serve.build_ms" -> mean(_.buildMs), "serve.plan_ms" -> mean(_.planMs),
        "serve.exec_ms" -> mean(_.execMs),
        "serve.jobs_per_req" -> per(_.jobs), "serve.stages_per_req" -> per(_.stages),
        "serve.tasks_per_req" -> per(_.tasks),
        "serve.sched_wait_ms" -> per(_.schedWaitMs.toDouble),
        "serve.task_ms_per_req" -> per(_.taskMs.toDouble),
        "serve.rows_read_per_row_returned" ->
          traced.map(r => t.counters(r.id).inputRows).sum.toDouble / math.max(1L, traced.map(_.rowsOut).sum))
  }
}
