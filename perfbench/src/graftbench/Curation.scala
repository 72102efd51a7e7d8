package graftbench

import org.apache.spark.sql.SparkSession

import graft.CurationRun

/** The curation DAG: `graft.CurationRun.run` into a fresh directory,
  * called once per stage with `stopAfter = <stage>` so every one of the
  * 13 stages is timed from the caller's side (the run resumes past the
  * completed stages). Each stage's row count and the drop report are
  * checked against stored expectations. Part of [[BatchWorkload]]. */
final class CurationPart(a: Args) {
  val Sf = "0.01"
  private val dir = a.fixture(Sf)
  private var out: String = _
  def expectedPath = s"${a.expected}/curation-sf$Sf.json"

  def prepare(rep: Int): Unit = {
    val base = new java.io.File(a.work, "curation")
    Jvm.deleteTree(base)
    out = new java.io.File(base, s"run$rep").getAbsolutePath
  }

  private def runStage(spark: SparkSession, log: RunLog, stage: String, id: String,
                       tracer: Option[Tracer]): Unit = {
    val start = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val body = () => CurationRun.run(spark, dir, out, stopAfter = Some(stage))
    val ok = try {
      Spans.tagged(tracer, id)(Spans.timed(tracer, stage, 0L, id)(_ => body())._1) == Seq(stage)
    } catch { case e: Throwable => log.fail(s"$stage: $e"); false }
    if (!ok) log.fail(s"$stage: did not run exactly this stage")
    log.op(OpRecord(id, stage, "CurationRun", (System.nanoTime() - t0) / 1e6, ok,
      tracer.isDefined, start))
  }

  def stageRows(spark: SparkSession): Seq[(String, Long)] =
    CurationRun.Stages.map(s => s -> spark.read.parquet(s"$out/$s").count())

  def report(spark: SparkSession): Seq[String] =
    spark.read.parquet(s"$out/report").orderBy("source", "status").collect()
      .map(r => s"${r.getString(0)}|${r.getString(1)}|${r.getLong(2)}").toSeq

  def run(spark: SparkSession, log: RunLog, tracer: Option[Tracer]): Unit = {
    tracer match {
      case None => CurationRun.Stages.foreach(s => runStage(spark, log, s, s, None))
      case Some(t) =>
        t.attach()
        CurationRun.Stages.foreach(s => runStage(spark, log, s, s, Some(t)))
        t.detach()
        val traced = log.ops.filter(r => r.traced && r.group == "CurationRun").toSeq
        def c(r: OpRecord) = t.counters(r.id)
        traced.foreach { r =>
          log.layer(s"curation.${r.kind}_s") = r.wallMs / 1e3
          log.layer(s"curation.${r.kind}.jobs") = c(r).jobs
        }
        log.layer ++= Seq(
          "curation.total_s" -> traced.map(_.wallMs).sum / 1e3,
          "curation.task_ms" -> traced.map(c(_).taskMs.toDouble).sum,
          "curation.max_task_ms" -> traced.map(c(_).maxTaskMs.toDouble).max,
          "curation.shuffle_write_bytes" -> traced.map(c(_).shuffleWriteBytes.toDouble).sum,
          "curation.spill_bytes" -> traced.map(c(_).spillBytes.toDouble).sum,
          "curation.bytes_written" -> traced.map(c(_).outputBytes.toDouble).sum)
        log.traceExtra("curation.split") = Map(s"sf$Sf" -> OpStats.split(traced, c))
    }
  }

  def verify(spark: SparkSession, log: RunLog): Unit = {
    val exp = Json.read(expectedPath)
    stageRows(spark).foreach { case (s, n) =>
      log.check(exp.get("stage_rows").get(s).asLong == n,
        s"curation stage $s: $n rows, expected ${exp.get("stage_rows").get(s)}")
    }
    val rep = report(spark)
    val want = (0 until exp.get("report").size).map(i => exp.get("report").get(i).asText)
    log.check(rep == want, s"curation report differs: $rep")
  }

  def emitExpected(spark: SparkSession): Unit = {
    prepare(0)
    CurationRun.run(spark, dir, out)
    new java.io.File(a.expected).mkdirs()
    java.nio.file.Files.writeString(java.nio.file.Paths.get(expectedPath), Json(Obj(
      "stage_rows" -> Obj(stageRows(spark): _*), "report" -> report(spark))) + "\n")
  }
}
