package graftbench

import org.apache.spark.sql.SparkSession

/** The platform's live path in one run: dashboard API requests
  * ([[ServePart]]) and then tick micro-batches with lake read-backs
  * ([[IngestPart]]). Operations are requests and micro-batches. */
final class OnlineWorkload(a: Args) extends Workload {
  val serve = new ServePart(a)
  val ingest = new IngestPart(a)

  def prepare(spark: SparkSession, rep: Int): Unit = {
    serve.prepare(spark)
    ingest.prepare(spark, rep)
  }

  override def init(spark: SparkSession): Unit = serve.init(spark)

  def run(spark: SparkSession, log: RunLog, tracer: Option[Tracer]): Unit = {
    val gc0 = Jvm.gcMs()
    serve.run(spark, log, tracer)
    val (serveS, serveOverhead) = (log.measuredS, log.overheadPct)
    val gc1 = Jvm.gcMs()
    ingest.run(spark, log, tracer)
    log.layer ++= Seq("serve.gc_ms" -> (gc1 - gc0).toDouble, "ingest.gc_ms" -> (Jvm.gcMs() - gc1).toDouble)
    log.measuredS += serveS
    log.overheadPct = (log.overheadPct + serveOverhead) / 2
  }

  override def emitExpected(spark: SparkSession): Unit = serve.emitExpected(spark)
}
