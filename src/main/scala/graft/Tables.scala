package graft

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.FooterSchema
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Loaders for the driver-generated parquet fixtures (TESTDATA.md), and
  * [[parquet]], the engine's one way to read parquet.
  *
  * One parquet file per table under `sfDir`. All engine queries take the
  * sf directory as a parameter so the same plan runs at any scale factor.
  * Scans stay declarative (a `spark.read` DataFrame) so Catalyst pushes
  * filters and prunes columns into the parquet reader; only the listing
  * and the data schema are resolved up front, on the driver (see
  * [[parquet]]).
  */
object Tables {
  /** `spark.read.parquet(paths: _*)` with one listing and no Spark job. */
  def parquet(spark: SparkSession, paths: String*): DataFrame =
    parquet(spark, paths, Map.empty[String, String])

  /** `spark.read.options(options).parquet(paths: _*)`, listed once, on
    * the driver, with no Spark job to build the DataFrame.
    *
    * Spark would list the paths (in a parallel-listing job above 32
    * paths or 32 sibling dirs) and then infer the schema from ONE
    * footer (`spark.sql.parquet.mergeSchema` is off and Spark writes no
    * summary files) inside another job; a job's fixed cost dominates a
    * small read. This walks the paths once, reads that same footer —
    * the first data file by sorted path — with Spark's own code
    * ([[FooterSchema.of]]), and hands the walk to Spark as the scan's
    * file index ([[FooterSchema.scan]]), so the read neither lists
    * storage twice nor starts a job. The walk applies Spark's
    * hidden-name rule: a `_` name without `=`, a `.` name and a
    * `._COPYING_` file are skipped. The index's `refresh()` lists
    * storage again.
    *
    * Partition discovery, `basePath` and `recursiveFileLookup` behave as
    * in `spark.read`. `partitionTypes` fixes the type of discovered
    * `k=v` columns, as a user-schema field does in `spark.read` (a
    * `symbol` typed string keeps "005930" a string, where inference
    * reads 5930); a field that names no discovered column reads as a
    * data column.
    *
    * With no data file to read — a missing or empty path (a glob is not
    * expanded, so it counts as missing) — it is the plain
    * `spark.read.options(options).parquet(paths: _*)`, so errors stay
    * Spark's own. */
  def parquet(spark: SparkSession, paths: Seq[String], options: Map[String, String],
              partitionTypes: StructType = new StructType()): DataFrame = {
    val resolver = spark.sessionState.conf.resolver
    (for {
      listing <- list(spark, paths)
      first <- listing.flatMap(_._2).minByOption(_.getPath.toString)
      schema <- FooterSchema.of(spark, first)
    } yield {
      val data = schema.filterNot(f => partitionTypes.exists(p => resolver(p.name, f.name)))
      FooterSchema.scan(spark, listing, options, StructType(data ++ partitionTypes))
    }).getOrElse(spark.read.options(options).parquet(paths: _*))
  }

  /** Partitioned leaves read as ONE [[parquet]] relation per layout.
    * Each leaf is (tree, dir relative to the tree, path to read); the
    * leaves that share a tree and a dir shape — the `k=` keys in order,
    * any other segment literal — are one read with `basePath` at the
    * tree, so partition discovery types each `k=v` column that
    * `partitionCols` names. The columns are the data columns, then
    * `partitionCols` in order: a named key the shape lacks reads as
    * null, a key it does not name drops. Layouts are separate reads,
    * unioned by name: under one `basePath`, dirs of different depths,
    * or a non-`k=v` segment, fail discovery with
    * CONFLICTING_DIRECTORY_STRUCTURES. */
  def parquetByLayout(spark: SparkSession, leaves: Seq[(String, String, String)],
                      partitionCols: StructType): DataFrame =
    leaves.groupBy { case (tree, rel, _) =>
      (tree, rel.split("/").toSeq.map { seg =>
        seg.split("=", 2) match { case Array(k, _) => k + "="; case _ => seg }
      })
    }.map { case ((tree, shape), group) =>
      val keys = shape.filter(_.endsWith("=")).map(_.dropRight(1))
      val df = parquet(spark, group.map(_._3), Map("basePath" -> tree),
        StructType(partitionCols.filter(f => keys.contains(f.name))))
      df.select(df.columns.toSeq.filterNot(c =>
          keys.contains(c) || partitionCols.fieldNames.contains(c)).map(col) ++
        partitionCols.map(f => if (keys.contains(f.name)) col(f.name)
          else lit(null).cast(f.dataType).as(f.name)): _*)
    }.reduce(_ unionByName _)

  private def hidden(s: FileStatus): Boolean = {
    val name = s.getPath.getName
    (name.startsWith("_") && !name.contains("=")) || name.startsWith(".") ||
      name.endsWith("._COPYING_")
  }

  /** Each path, qualified, with the non-hidden files under it; None when
    * a path is missing. */
  private def list(spark: SparkSession,
                   paths: Seq[String]): Option[Seq[(Path, Seq[FileStatus])]] = {
    val conf = spark.sparkContext.hadoopConfiguration
    try Some(paths.map { p =>
      val path = new Path(p)
      val fs = path.getFileSystem(conf)
      def walk(s: FileStatus): Seq[FileStatus] =
        if (s.isFile) Seq(s)
        else fs.listStatus(s.getPath).toSeq.filterNot(hidden).flatMap(walk)
      val root = fs.makeQualified(path)
      root -> walk(fs.getFileStatus(root)).filterNot(hidden)
    })
    catch { case _: java.io.FileNotFoundException => None }
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
