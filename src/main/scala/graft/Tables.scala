package graft

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.FooterSchema
import org.apache.spark.sql.functions._

/** Loaders for the driver-generated parquet fixtures (TESTDATA.md), and
  * [[parquet]], the engine's one way to read parquet.
  *
  * One parquet file per table under `sfDir`. All engine queries take the
  * sf directory as a parameter so the same plan runs at any scale factor.
  * Scans stay declarative (a `spark.read` DataFrame) so Catalyst pushes
  * filters and prunes columns into the parquet reader; only the data
  * schema is resolved up front, on the driver (see [[parquet]]).
  */
object Tables {
  /** `spark.read.parquet(paths: _*)` without the schema-inference job.
    *
    * Inference reads ONE footer (`spark.sql.parquet.mergeSchema` is off
    * and Spark writes no summary files) but does it inside a Spark job,
    * and that job's fixed cost dominates a small read. This reads the
    * same footer on the driver, converts it with Spark's own code
    * ([[FooterSchema]]) and passes the result as the reader schema, so
    * building the DataFrame starts no job. The footer is the one Spark
    * would open: the first non-hidden data file by sorted path (hidden =
    * Spark's listing rule: a `_` name without `=`, a `.` name, a
    * `._COPYING_` file). Partition discovery is unchanged: a `k=v`
    * column is not in the data files, so Spark still infers it.
    *
    * With no data file to read — a missing or empty path (a glob is
    * not expanded, so it counts as missing) — it is the plain
    * `spark.read.parquet(paths: _*)`, so errors stay Spark's own. */
  def parquet(spark: SparkSession, paths: String*): DataFrame =
    firstDataFile(spark, paths).flatMap(FooterSchema.of(spark, _)) match {
      case Some(schema) => spark.read.schema(schema).parquet(paths: _*)
      case None         => spark.read.parquet(paths: _*)
    }

  private def firstDataFile(spark: SparkSession, paths: Seq[String]): Option[FileStatus] = {
    val conf = spark.sparkContext.hadoopConfiguration
    def hidden(s: FileStatus): Boolean = {
      val name = s.getPath.getName
      (name.startsWith("_") && !name.contains("=")) || name.startsWith(".") ||
        name.endsWith("._COPYING_")
    }
    def leaves(p: String): Option[Seq[FileStatus]] = {
      val path = new Path(p)
      val fs = path.getFileSystem(conf)
      def walk(s: FileStatus): Seq[FileStatus] =
        if (s.isFile) Seq(s)
        else fs.listStatus(s.getPath).toSeq.filterNot(hidden).flatMap(walk)
      try Some(walk(fs.getFileStatus(path)))
      catch { case _: java.io.FileNotFoundException => None }
    }
    val found = paths.map(leaves)
    if (found.contains(None)) None
    else found.flatten.flatten.filterNot(hidden).minByOption(_.getPath.toString)
  }

  def table(spark: SparkSession, sfDir: String, name: String): DataFrame =
    parquet(spark, s"$sfDir/$name.parquet")

  def region(s: SparkSession, d: String): DataFrame    = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = table(s, d, "lineitem")
  /** events.parquet's `ts` physical type has varied across fixture
    * generations: TIMESTAMP(NANOS) (which Spark's vectorized reader
    * rejects — read nanos as long via the session conf and convert) or
    * TIMESTAMP(MICROS, isAdjustedToUTC=false) (which Spark reads as
    * TIMESTAMP_NTZ). Normalize both to the session-zone TimestampType the
    * engine uses everywhere — the session zone is pinned to UTC by every
    * entry point, so the conversion is lossless and matches DuckDB's
    * naive µs read of the same file.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val df = table(s, d, "events")
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampType => df
      case org.apache.spark.sql.types.TimestampNTZType =>
        df.withColumn("ts", col("ts").cast("timestamp"))
      // fail FAST on anything else (a string column from a corrupted
      // fixture would cast to null timestamps and silently poison every
      // downstream window/ordering query)
      case other => throw new IllegalStateException(
        s"events.ts: expected nanos-as-long / TIMESTAMP / TIMESTAMP_NTZ, got $other")
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")
}
