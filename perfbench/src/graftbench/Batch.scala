package graftbench

import org.apache.spark.sql.SparkSession

/** The batch side of the platform in one run: the analyst's indicator
  * batch ([[AnalyticsPart]]) followed by the curation DAG
  * ([[CurationPart]]). Each runs once, in a fresh session after one
  * untimed warm-up query, as a fresh analyst or curation session does.
  * Operations are registry rows and curation stages. */
final class BatchWorkload(a: Args) extends Workload {
  val analytics = new AnalyticsPart(a)
  val curation = new CurationPart(a)

  def prepare(spark: SparkSession, rep: Int): Unit = {
    analytics.prepare(spark)
    curation.prepare(rep)
  }

  override def init(spark: SparkSession): Unit = analytics.warmUp(spark)

  def run(spark: SparkSession, log: RunLog, tracer: Option[Tracer]): Unit = {
    val (t0, gc0) = (System.nanoTime(), Jvm.gcMs())
    analytics.run(spark, log, tracer)
    val gc1 = Jvm.gcMs()
    curation.run(spark, log, tracer)
    log.measuredS = (System.nanoTime() - t0) / 1e9
    log.layer ++= Seq("analytics.gc_ms" -> (gc1 - gc0).toDouble,
      "curation.gc_ms" -> (Jvm.gcMs() - gc1).toDouble)
    System.err.println(f"[perfbench] batch measured ${log.measuredS}%.1f s; verifying")
    analytics.verify(log)
    curation.verify(spark, log)
  }

  override def emitExpected(spark: SparkSession): Unit = {
    analytics.emitExpected(spark)
    curation.emitExpected(spark)
  }
}
