package graft

/** Dump `explain("formatted")` of registry queries to files — the
  * optimization rounds' before/after plan evidence
  * (`plans/r{N}/<query>_<suffix>.txt`).
  *
  * Usage: `runMain graft.PlanDump <outDir> <suffix> name1 [name2 ...]`
  * Runs on [[SessionTuning.session]], the session [[Bench]] uses, so
  * the dumped plans are the bench's initial plans. */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: PlanDump <outDir> <suffix> names...")
    val (outDir, suffix, names) = (args(0), args(1), args.drop(2).toSeq)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = SessionTuning.session()
    spark.sparkContext.setLogLevel("ERROR")
    new java.io.File(outDir).mkdirs()
    for (n <- names) {
      val df = SparkEntry.queries(n)(spark, sfDir)
      val txt = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      java.nio.file.Files.writeString(
        java.nio.file.Path.of(outDir, s"${n}_$suffix.txt"), txt)
      System.err.println(s"[plandump] wrote $outDir/${n}_$suffix.txt")
    }
    spark.stop()
  }
}
