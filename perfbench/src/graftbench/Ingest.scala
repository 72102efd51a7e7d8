package graftbench

import scala.collection.mutable

import org.apache.spark.sql.{Encoders, SparkSession}
import org.apache.spark.sql.functions._

import graft.queries.Serving
import graft.streaming.{LakeMaintenance, Snapshot, TickIngest}

/** Seeded Kafka-shaped tick stream: one JSON tick per symbol per 10 s
  * batch (the reference producer's cadence), a 10% replay of the
  * previous batch, and now and then a tick held back one batch (out of
  * order). Tracks what was offered so the lake can be checked. */
final class TickGen(seed: Long, val symbols: IndexedSeq[String]) {
  private final case class Msg(symbol: String, time: String, close: Float, json: String)
  private val rnd = new java.util.Random(seed)
  private val price = mutable.Map(symbols.map(s => s -> (20.0 + rnd.nextInt(80))): _*)
  private var previous: Seq[Msg] = Nil
  private var heldBack: Seq[Msg] = Nil
  private val t0 = java.time.LocalDateTime.of(2024, 1, 2, 2, 0, 0)
  private val timeFmt = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss")
  /** (symbol, time) keys delivered so far. */
  val offered = mutable.HashSet.empty[(String, String)]
  /** Latest delivered (time, close) per symbol. */
  val latest = mutable.Map.empty[String, (String, Float)]
  var messages = 0L
  /** Symbols with a fresh tick in the last batch. */
  var lastFresh: Seq[String] = Nil

  private def fmt(d: Double) = String.format(java.util.Locale.ROOT, "%.2f", Double.box(d))
  private def money(v: Long) = String.format(java.util.Locale.ROOT, "%,d", Long.box(v))

  private def tick(s: String, b: Int): Msg = {
    val prev = price(s)
    val close = math.max(1.0, prev * (1 + rnd.nextGaussian() * 0.004))
    price(s) = close
    val hi = math.max(prev, close) * 1.002
    val lo = math.min(prev, close) * 0.998
    val time = t0.plusSeconds(10L * b).format(timeFmt)
    Msg(s, time, fmt(close).toFloat,
      s"""{"symbol":"$s","time":"$time","open":${fmt(prev)},"high":${fmt(hi)},""" +
      s""""low":${fmt(lo)},"close":${fmt(close)},"volume":"${money(1000L * (100 + rnd.nextInt(5000)))}",""" +
      s""""previous_close":"${fmt(prev)} ","ref":"${fmt(prev)}","ceil":"${fmt(prev * 1.07)}",""" +
      s""""floor":"${fmt(prev * 0.93)}"}""")
  }

  /** Messages of batch `b`: the previous batch's held-back tick, this
    * batch's ticks (maybe one held back), and replays of the previous
    * batch. */
  def batch(b: Int): Seq[String] = {
    val fresh = symbols.map(tick(_, b))
    val replay = Seq.fill(math.ceil(symbols.size * 0.1).toInt)(rnd.nextInt(math.max(1, previous.size)))
      .flatMap(i => previous.lift(i))
    val (now, hold) =
      if (rnd.nextInt(10) < 3) { val k = rnd.nextInt(fresh.size); (fresh.patch(k, Nil, 1), Seq(fresh(k))) }
      else (fresh, Nil)
    val out = heldBack ++ now ++ replay
    heldBack = hold
    previous = now
    lastFresh = now.map(_.symbol)
    messages += out.size
    out.foreach { m =>
      offered += ((m.symbol, m.time))
      if (latest.get(m.symbol).forall(_._1 < m.time)) latest(m.symbol) = (m.time, m.close)
    }
    out.map(_.json)
  }
}

/** Tick ingest beside lake reads: each batch runs the body of
  * `TickIngest.startLakeSink`'s foreachBatch through its public
  * functions (parse, idempotent append, snapshot commit, compaction on
  * every 5th batch), then reads one just-written symbol back through
  * `Serving.lakeTable`. */
final class IngestPart(a: Args) {
  val Reference = IndexedSeq("DPM", "EIB", "FPT", "HAG", "KDC", "MSN", "SSI", "STB", "VIC", "VNM")
  val Extra = IndexedSeq("AAA", "ACB", "BID", "BVH", "CTG", "GAS", "HPG", "MBB", "MWG", "PLX",
    "POW", "SAB", "TCB", "VCB", "VJC")
  val CompactEvery = 5
  /** Untimed batches before the measured ones (JIT and codegen warm-up). */
  val WarmBatches = 1
  /** Measured batches: enough that `online`'s p95 always falls among the
    * plain micro-batches, not on the boundary with the serve requests. */
  val MeasuredBatches = 8
  /** Batches of a traced run (fixed, so counts repeat), and per fit scale. */
  val TracedBatches = 7
  val FitBatches = 5
  private var lake: String = _

  def freshLake(name: String): String = {
    val d = new java.io.File(new java.io.File(a.work, "ingest"), name)
    Jvm.deleteTree(d)
    d.getParentFile.mkdirs()
    d.getAbsolutePath
  }

  def prepare(spark: SparkSession, rep: Int): Unit = {
    Jvm.deleteTree(new java.io.File(a.work, "ingest"))
    lake = freshLake(s"lake$rep")
    Snapshot.init(spark, lake)
  }

  /** One micro-batch plus the read beside it. */
  def batch(spark: SparkSession, log: RunLog, gen: TickGen, path: String, b: Int, id: String,
            tracer: Option[Tracer]): Unit = {
    val msgs = gen.batch(b)
    val rnd = new java.util.Random(a.seed * 7919L + b)
    val start = System.currentTimeMillis()
    val t0 = System.nanoTime()
    def sp[T](name: String, parent: Long)(body: => T): (T, Double) =
      Spans.timed(tracer, name, parent, id)(_ => body)
    def go(root: Long): Unit = {
      var ok = false
      var ms = Map.empty[String, Double]
      try {
        val (touched, appendMs) = sp("append", root) {
          Snapshot.init(spark, path)
          val raw = spark.createDataset(msgs)(Encoders.STRING).toDF("value")
          TickIngest.appendBatchIdempotent(TickIngest.parseTicks(raw), path)
        }
        val (_, commitMs) = sp("commit", root) {
          if (touched.nonEmpty) Snapshot.commit(spark, path, touched)
        }
        val (compacted, compactMs) = sp("compact", root) {
          if (b % CompactEvery == CompactEvery - 1)
            Some(LakeMaintenance.compactLake(spark, path, snapshotRoot = Some(path)))
          else None
        }
        val batchMs = (System.nanoTime() - t0) / 1e6
        // a fresh read of one just-written symbol through the serving path
        val sym = gen.lastFresh(rnd.nextInt(gen.lastFresh.size))
        val (table, resolveMs) = sp("read.resolve", root)(Serving.lakeTable(spark, path))
        val (got, readExecMs) = sp("read.exec", root) {
          table.where(col("symbol") === sym).orderBy(col("time").desc).limit(1)
            .select(date_format(col("time"), "yyyy-MM-dd'T'HH:mm:ss"), col("close")).collect()
        }
        val want = gen.latest.get(sym)
        val readOk = got.length == 1 && want.contains((got(0).getString(0), got(0).getFloat(1)))
        if (!readOk) log.fail(s"$id: latest $sym read ${got.toSeq}, generator has $want")
        ok = readOk
        ms = Map("batch_ms" -> batchMs, "append_ms" -> appendMs, "commit_ms" -> commitMs,
          "compact_ms" -> compactMs, "read_resolve_ms" -> resolveMs, "read_exec_ms" -> readExecMs,
          "read_ms" -> (resolveMs + readExecMs), "offered" -> msgs.size.toDouble,
          "files_removed" -> compacted.map(c => (c._2 - c._3).toDouble).getOrElse(Double.NaN))
      } catch { case e: Throwable => log.fail(s"$id: $e") }
      log.op(OpRecord(id, if (b % CompactEvery == CompactEvery - 1) "batch+compact" else "batch",
        "TickIngest", ms.getOrElse("batch_ms", (System.nanoTime() - t0) / 1e6), ok,
        tracer.isDefined, start, extra = ms))
    }
    Spans.tagged(tracer, id)(Spans.timed(tracer, "batch", 0L, id)(go))
  }

  /** Lake rows equal the distinct keys delivered; no key twice. */
  def verify(spark: SparkSession, log: RunLog, gen: TickGen, path: String): Unit = {
    val lakeDf = Serving.lakeTable(spark, path)
    val n = lakeDf.count()
    val want = gen.offered.size
    log.check(n == want, s"lake holds $n rows, expected $want distinct offered keys")
    val dups = lakeDf.groupBy("symbol", "time").count().where(col("count") > 1).count()
    log.check(dups == 0, s"lake holds $dups duplicated (symbol, time) keys")
  }

  /** (parquet files, their bytes) under `path`, metadata excluded. */
  def parquetFiles(path: String): (Long, Long) = {
    def walk(f: java.io.File): (Long, Long) =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten
        .filterNot(x => x.getName.startsWith("_") || x.getName.startsWith("."))
        .map(walk).foldLeft((0L, 0L)) { case ((n, b), (m, c)) => (n + m, b + c) }
      else if (f.getName.endsWith(".parquet")) (1L, f.length) else (0L, 0L)
    walk(new java.io.File(path))
  }

  def run(spark: SparkSession, log: RunLog, tracer: Option[Tracer]): Unit = {
    val gen = new TickGen(a.seed, Reference)
    tracer match {
      case None =>
        // the first WarmBatches are warm-up (checked, not timed), then
        // MeasuredBatches, one of which compacts
        (0 until WarmBatches).foreach(b => batch(spark, log, gen, lake, b, s"b$b", None))
        log.check(log.ops.filter(_.group == "TickIngest").forall(_.ok), "warm-up batch failed")
        log.ops --= log.ops.filter(_.group == "TickIngest")
        val t0 = System.nanoTime()
        (WarmBatches until WarmBatches + MeasuredBatches).foreach(b =>
          batch(spark, log, gen, lake, b, s"b$b", None))
        log.measuredS = (System.nanoTime() - t0) / 1e9
        verify(spark, log, gen, lake)
      case Some(t) =>
        // batch 0 warms up; then batches alternate untraced (odd) and
        // traced (even, including the compacting batch 4)
        (0 until TracedBatches).foreach { b =>
          val traced = b > 0 && b % 2 == 0
          if (traced) t.attach() else t.detach()
          batch(spark, log, gen, lake, b, if (traced) s"b$b" else s"b$b-u", if (traced) Some(t) else None)
        }
        t.detach()
        log.ops --= log.ops.filter(_.id == "b0-u")
        verify(spark, log, gen, lake)
        val all = log.ops.filter(_.group == "TickIngest").toSeq
        val plain = all.filter(_.kind == "batch")
        def med(xs: Seq[Double]) = if (xs.isEmpty) Double.NaN else xs.sorted.apply(xs.size / 2)
        val overhead = 100.0 * (med(plain.filter(_.traced).map(_.wallMs)) /
          med(plain.filter(!_.traced).map(_.wallMs)) - 1.0)
        val traced = all.filter(_.traced)
        def c(r: OpRecord) = t.counters(r.id)
        log.overheadPct = overhead
        def mean(k: String) = { val xs = traced.flatMap(_.extra.get(k)).filterNot(_.isNaN); xs.sum / xs.size }
        val rows = gen.offered.size
        val (lakeFiles, lakeBytes) = parquetFiles(lake)
        log.layer ++= Seq(
          "ingest.append_ms" -> mean("append_ms"), "ingest.commit_ms" -> mean("commit_ms"),
          "ingest.compact_ms" -> traced.filter(_.kind == "batch+compact").flatMap(_.extra.get("compact_ms")).sum,
          "ingest.read.resolve_ms" -> mean("read_resolve_ms"), "ingest.read.exec_ms" -> mean("read_exec_ms"),
          "ingest.lake_read_p50_ms" -> med(all.flatMap(_.extra.get("read_ms"))),
          "ingest.batch_p50_ms" -> med(all.map(_.wallMs)),
          "ingest.rows_per_s" -> rows / (all.map(_.wallMs).sum / 1e3),
          "ingest.jobs_per_batch" -> traced.map(c(_).jobs).sum.toDouble / traced.size,
          "ingest.task_ms_per_batch" -> traced.map(c(_).taskMs).sum.toDouble / traced.size,
          "ingest.appended_per_offered" -> rows.toDouble / gen.messages,
          "ingest.lake_files" -> lakeFiles,
          "ingest.files_removed_per_compact" ->
            med(all.flatMap(_.extra.get("files_removed")).filterNot(_.isNaN)),
          "ingest.bytes_per_row" -> lakeBytes.toDouble / rows,
          "ingest.overhead_pct" -> overhead)
        // two-scale fit: the traced batches above (10 symbols) against
        // a fresh lake at 25 symbols
        val g25 = new TickGen(a.seed + 25, Reference ++ Extra)
        val path25 = freshLake("fit25")
        Snapshot.init(spark, path25)
        t.attach()
        (0 until FitBatches).foreach(b => batch(spark, log, g25, path25, b, s"fit25-b$b", Some(t)))
        t.detach()
        val fit25 = log.ops.filter(_.id.startsWith("fit25-")).toSeq
        log.ops --= fit25
        val perScale = Seq(Reference.size -> traced, (Reference.size + Extra.size) -> fit25)
        log.traceExtra("ingest.fit") = Seq("append_ms", "commit_ms", "read_ms", "compact_ms").map { k =>
          val ys = perScale.map { case (n, rs) =>
            val xs = rs.flatMap(_.extra.get(k)).filterNot(_.isNaN)
            val v = if (k == "compact_ms") xs.filter(_ > 0).sum else xs.sum / xs.size
            n.toDouble -> v
          }
          val ((x0, y0), (x1, y1)) = (ys(0), ys(1))
          val slope = (y1 - y0) / (x1 - x0)
          k -> Obj("symbols" -> Seq(x0, x1), "ms" -> Seq(y0, y1),
            "fixed_ms" -> (y0 - slope * x0), "ms_per_symbol" -> slope)
        }.toMap
    }
  }
}
