package graftbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.queries.{Analytics, NormalizeQueries, WindowQueries}

/** The analyst's indicator batch: one pass over every registry row of
  * the window/indicator, normalize and analytics modules, in seeded
  * order. Each row's result is collected (the timed action, so
  * one execution yields both the time and the output) and then checked,
  * untimed, against a stored row count and canonical hash. */
final class AnalyticsPart(a: Args) {
  val Sf = "0.01"
  /** Second scale of the traced run's fixed-vs-proportional fit. */
  val FitSf = "0.1"
  /** Rows re-run untraced and traced to measure the tracing overhead. */
  val OverheadRows = 8

  val modules: Seq[(String, Map[String, (SparkSession, String) => DataFrame])] = Seq(
    "WindowQueries" -> WindowQueries.queries, "NormalizeQueries" -> NormalizeQueries.queries,
    "Analytics" -> Analytics.queries)

  type RegistryRow = (String, String, (SparkSession, String) => DataFrame)
  val rows: Seq[RegistryRow] =
    modules.flatMap { case (m, qs) => qs.toSeq.sortBy(_._1).map { case (n, f) => (m, n, f) } }
  val ordered: Seq[RegistryRow] = new scala.util.Random(a.seed).shuffle(rows)

  def expectedPath(sf: String) = s"${a.expected}/analytics-sf$sf.json"

  /** Set-up: resolve the scans of the tables the rows read. */
  def prepare(spark: SparkSession): Unit = {
    val d = a.fixture(Sf)
    Seq(Tables.events(spark, d), Tables.lineitem(spark, d), Tables.orders(spark, d)).foreach(_.schema)
  }

  /** Untimed: one query that is not a registry row (a scan, an
    * aggregate and a window over events) so the first measured row does
    * not also pay the JVM's first-query cost (class loading, code
    * generation, scheduler start), which would land on a different row
    * for every seed. */
  def warmUp(spark: SparkSession): Unit = {
    val ev = Tables.events(spark, a.fixture(Sf))
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts").desc)
    ev.groupBy(col("user_id")).agg(count(lit(1)), max(col("ts"))).collect()
    ev.withColumn("rn", row_number().over(w)).where(col("rn") <= 2).collect()
  }

  /** Collected outputs of the checked pass, verified after the timing. */
  private val outputs = scala.collection.mutable.ArrayBuffer.empty[(String, Array[Row])]

  /** One registry row, timed from the caller's side: build, plan and
    * execute (collect). With `keep`, the output is kept for [[verify]]. */
  def execute(spark: SparkSession, log: RunLog, row: RegistryRow, dir: String, id: String,
              tracer: Option[Tracer], keep: Boolean): OpRecord = {
    val (m, n, f) = row
    val start = System.currentTimeMillis()
    val (rec, _) = Spans.tagged(tracer, id) {
      Spans.timed(tracer, "row", 0L, id) { root =>
        val t0 = System.nanoTime()
        var (b, p, x) = (Double.NaN, Double.NaN, Double.NaN)
        val out = try {
          val (df, bMs) = Spans.timed(tracer, "build", root, id)(_ => f(spark, dir))
          val (_, pMs) = Spans.timed(tracer, "plan", root, id)(_ => df.queryExecution.executedPlan)
          val (rows, xMs) = Spans.timed(tracer, "exec", root, id)(_ => df.collect())
          b = bMs; p = pMs; x = xMs
          Some(rows)
        } catch { case e: Throwable => log.fail(s"$n: $e"); None }
        val wall = (System.nanoTime() - t0) / 1e6
        if (keep) out.foreach(rows => outputs += n -> rows)
        OpRecord(id, n, m, wall, out.isDefined, tracer.isDefined, start, b, p, x,
          out.map(_.length.toLong).getOrElse(-1L))
      }
    }
    log.op(rec)
    rec
  }

  /** Untimed: every kept output must match the stored row count and
    * canonical hash. */
  def verify(log: RunLog): Unit = {
    val expected = Json.read(expectedPath(Sf))
    outputs.foreach { case (n, rows) =>
      val e = expected.get(n)
      val (cnt, h) = Canon.hashRows(rows)
      log.check(e != null && e.get("rows").asLong == cnt && e.get("hash").asText == h,
        s"$n: output ($cnt rows, hash $h) differs from the stored expectation")
    }
    outputs.clear()
  }

  def run(spark: SparkSession, log: RunLog, tracer: Option[Tracer]): Unit = {
    val dir = a.fixture(Sf)
    tracer match {
      case None => ordered.foreach(r => execute(spark, log, r, dir, r._2, None, keep = true))
      case Some(t) =>
        t.attach()
        val main = ordered.map(r => execute(spark, log, r, dir, r._2, Some(t), keep = true))
        // second scale: fixed per-action cost vs data-proportional slope
        val fit = ordered.map(r =>
          execute(spark, log, r, a.fixture(FitSf), s"fit-${r._2}", Some(t), keep = false))
        // overhead: the same rows untraced and traced, order alternating
        var (uMs, tMs) = (0.0, 0.0)
        ordered.take(OverheadRows).zipWithIndex.foreach { case (r, i) =>
          for (traced <- if (i % 2 == 0) Seq(false, true) else Seq(true, false)) {
            if (traced) t.attach() else t.detach()
            val rec = execute(spark, log, r, dir, s"ovh-${r._2}" + (if (traced) "" else "-u"),
              if (traced) Some(t) else None, keep = false)
            if (traced) tMs += rec.wallMs else uMs += rec.wallMs
          }
        }
        t.detach()
        log.overheadPct = 100.0 * (tMs / uMs - 1.0)
        log.ops --= log.ops.filter(r => r.id.startsWith("fit-") || r.id.startsWith("ovh-"))
        def c(r: OpRecord) = t.counters(r.id)
        modules.foreach { case (m, _) =>
          val rs = main.filter(_.group == m)
          def sum(f: OpRecord => Double) = rs.map(f).sum
          log.layer ++= Seq(
            s"analytics.$m.build_ms" -> sum(_.buildMs), s"analytics.$m.plan_ms" -> sum(_.planMs),
            s"analytics.$m.exec_ms" -> sum(_.execMs),
            s"analytics.$m.jobs" -> sum(c(_).jobs.toDouble),
            s"analytics.$m.task_ms" -> sum(c(_).taskMs.toDouble),
            s"analytics.$m.shuffle_write_bytes" -> sum(c(_).shuffleWriteBytes.toDouble))
        }
        log.layer ++= Seq(
          "analytics.pass_s" -> main.map(_.wallMs).sum / 1e3,
          "analytics.input_bytes" -> main.map(c(_).inputBytes.toDouble).sum,
          "analytics.max_task_ms" -> main.map(c(_).maxTaskMs.toDouble).max,
          "analytics.spill_bytes" -> main.map(c(_).spillBytes.toDouble).sum,
          "analytics.overhead_pct" -> log.overheadPct)
        // per module: wall = fixed + slope * input rows, through the two scales
        log.traceExtra("analytics.fit") = modules.map { case (m, _) =>
          val (w0, w1) = (main.filter(_.group == m), fit.filter(_.group == m))
          val (x0, x1) = (w0.map(c(_).inputRows).sum.toDouble, w1.map(c(_).inputRows).sum.toDouble)
          val (y0, y1) = (w0.map(_.wallMs).sum, w1.map(_.wallMs).sum)
          val slope = if (x1 != x0) (y1 - y0) / (x1 - x0) else Double.NaN
          m -> Obj("scales" -> Seq(s"sf$Sf", s"sf$FitSf"), "input_rows" -> Seq(x0, x1),
            "wall_ms" -> Seq(y0, y1), "fixed_ms" -> (y0 - slope * x0),
            "ms_per_1k_rows" -> slope * 1000)
        }.toMap
        log.traceExtra("analytics.fit_rows") = fit.map(r => r.kind -> Obj("wall_ms" -> r.wallMs,
          "driver_ms" -> OpStats.driverMs(r, c(r)), "input_rows" -> c(r).inputRows,
          "jobs" -> c(r).jobs)).toMap
        // where a pass's time goes at each scale: driver side (build,
        // plan, listing) against time inside Spark jobs
        log.traceExtra("analytics.split") = Seq(Sf -> main, FitSf -> fit).map { case (sf, rs) =>
          s"sf$sf" -> OpStats.split(rs, c)
        }.toMap
    }
  }

  def emitExpected(spark: SparkSession): Unit = {
    val dump = s"${a.work}/expected-dump/sf$Sf"
    val body = rows.map { case (_, n, f) =>
      val df = f(spark, a.fixture(Sf))
      df.coalesce(1).write.mode("overwrite").parquet(s"$dump/$n")
      val (cnt, h) = Canon.hashRows(df.collect())
      n -> Obj("rows" -> cnt, "hash" -> h)
    }
    new java.io.File(a.expected).mkdirs()
    java.nio.file.Files.writeString(java.nio.file.Paths.get(expectedPath(Sf)),
      body.map { case (n, o) => "  " + Json.str(n) + ": " + Json(o) }.mkString("{\n", ",\n", "\n}\n"))
    val oracle = graft.SparkEntry.oracleSql.filter { case (k, _) => rows.exists(_._2 == k) }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$dump/oracle_sql.json"), Json(oracle))
  }
}
