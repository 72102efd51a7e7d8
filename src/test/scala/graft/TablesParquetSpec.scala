package graft

import java.nio.file.Files
import org.apache.spark.sql.{AnalysisException, DataFrame, Row}
import org.apache.spark.sql.types._
import graft.queries.Serving
import graft.streaming.Snapshot

/** [[Tables.parquet]] — the driver-side footer schema: the same schema
  * as Spark's own inference on every input shape the engine reads, and
  * no Spark job to build the DataFrame (inference costs one per read). */
class TablesParquetSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(name: String): String =
    Files.createTempDirectory(name).toString + "/t"

  private def sameAsSpark(paths: String*): Unit =
    sameRows(Tables.parquet(spark, paths: _*), spark.read.parquet(paths: _*))

  private def sameRows(ours: DataFrame, theirs: DataFrame): Unit = {
    assert(ours.schema == theirs.schema)
    assert(ours.collect().map(_.toString).sorted.toSeq ==
      theirs.collect().map(_.toString).sorted.toSeq)
  }

  /** 40 part files in one directory, and their paths. */
  private def fortyFiles(): (String, Seq[String]) = {
    val dir = tmp("tables-forty")
    spark.range(400).selectExpr("id", "id * 2.5 AS x").repartition(40).write.parquet(dir)
    val files = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.getPath).sorted.toSeq
    assert(files.size == 40)
    (dir, files)
  }

  /** A lake of 40 `symbol=` dirs whose symbols all look numeric. */
  private def fortySymbolLake(): String = {
    val root = tmp("tables-forty-syms")
    (0 until 40).map(i => (f"$i%06d", i.toLong, i * 1.5)).toDF("symbol", "time", "price")
      .write.partitionBy("symbol").parquet(root)
    root
  }

  private val symbolString = StructType(Seq(StructField("symbol", StringType)))

  /** A `symbol=`-partitioned lake whose symbols all look numeric, so
    * Spark's partition inference types the column as a number. */
  private def numericSymbolLake(): String = {
    val root = tmp("tables-lake")
    Seq(("005930", 1L, 10.5), ("000660", 2L, 20.25), ("005930", 3L, 11.0))
      .toDF("symbol", "time", "price")
      .write.partitionBy("symbol").parquet(root)
    root
  }

  test("schema parity: sf0.001 events (nanos-as-long / NTZ timestamp branch)") {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val p = s"$sf0001/events.parquet"
    assert(Tables.parquet(spark, p).schema == spark.read.parquet(p).schema)
    assert(Tables.parquet(spark, p).schema("ts").dataType != TimestampType,
      "events.ts is TIMESTAMP(NANOS) or TIMESTAMP(MICROS, local), never LTZ")
    assert(Tables.events(spark, sf0001).count() ==
      spark.read.parquet(p).count())
  }

  test("schema parity: partitioned lake read at its root, numeric-looking symbol") {
    val root = numericSymbolLake()
    sameAsSpark(root)
    assert(Tables.parquet(spark, root).schema("symbol").dataType ==
      spark.read.parquet(root).schema("symbol").dataType)
    // one partition dir, and explicit files (no partition discovery)
    sameAsSpark(s"$root/symbol=005930")
    val files = new java.io.File(s"$root/symbol=000660").listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.getPath).toSeq
    sameAsSpark(files: _*)
  }

  test("schema parity: decimal, array, map and TIMESTAMP_NTZ columns") {
    val dir = tmp("tables-types")
    val schema = StructType(Seq(
      StructField("d", DecimalType(18, 4)),
      StructField("xs", ArrayType(DoubleType)),
      StructField("m", MapType(StringType, LongType)),
      StructField("ntz", TimestampNTZType),
      StructField("s", StructType(Seq(StructField("a", IntegerType, nullable = false))))))
    val rows = Seq(
      Row(BigDecimal("12.3456").bigDecimal, Seq(1.0, 2.0), Map("k" -> 1L),
        java.time.LocalDateTime.of(2024, 1, 2, 3, 4, 5), Row(7)),
      Row(null, null, null, null, null))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
      .write.parquet(dir)
    sameAsSpark(dir)
    assert(Tables.parquet(spark, dir).schema("ntz").dataType == TimestampNTZType)
  }

  test("schema parity: _snapshots, _stale and .compact_tmp entries are skipped") {
    val root = numericSymbolLake()
    // hidden entries that sort BEFORE the data files and hold a
    // different schema — reading any of them would change the result
    val other = Seq(("x", 1)).toDF("other", "n")
    other.write.parquet(s"$root/_stale/v00000001/symbol=005930")
    other.write.parquet(s"$root/symbol=005930/.compact_tmp")
    Snapshot.init(spark, root)
    Snapshot.commit(spark, root, Seq("symbol=005930", "symbol=000660"))
    sameAsSpark(root)
    sameAsSpark(s"$root/symbol=005930")
    assert(Tables.parquet(spark, root).columns.toSet == Set("time", "price", "symbol"))
  }

  test("building the DataFrame starts zero jobs; Spark's inference starts some") {
    val lake = numericSymbolLake()
    val snapLake = numericSymbolLake()
    Snapshot.init(spark, snapLake)
    Snapshot.commit(spark, snapLake, Seq("symbol=005930", "symbol=000660"))
    // a mixed-depth tree, which only a recursive lookup reads
    val mixed = tmp("tables-mixed")
    Seq((1L, "a")).toDF("id", "s").write.parquet(s"$mixed/bucket=0")
    Seq((2L, "b")).toDF("id", "s").write.parquet(s"$mixed/bucket=1/sub=0")
    val recursive = Map("recursiveFileLookup" -> "true")
    val base = Map("basePath" -> lake)
    var dfs = Seq.empty[DataFrame]
    assert(jobsStarted {
      dfs = Seq(
        Tables.parquet(spark, lake),
        Tables.events(spark, sf0001),
        Tables.lineitem(spark, sf0001),
        Serving.lakeTable(spark, lake),
        Serving.lakeTable(spark, snapLake),
        Snapshot.readVersion(spark, snapLake, partitionCols = Seq("symbol")).get,
        Tables.parquet(spark, Seq(mixed), recursive),
        Tables.parquet(spark, Seq(s"$lake/symbol=005930"), base))
    } == 0)
    assert(dfs.map(_.schema.nonEmpty) == Seq.fill(8)(true))
    assert(dfs(4).count() == 3L)
    sameRows(dfs(6), spark.read.options(recursive).parquet(mixed))
    sameRows(dfs(7), spark.read.options(base).parquet(s"$lake/symbol=005930"))
    assert(dfs(7).columns.toSeq == Seq("time", "price", "symbol"))
    // the check sees inference jobs when there are any
    assert(jobsStarted(spark.read.parquet(lake)) >= 1)
  }

  test("an empty directory still throws Spark's own AnalysisException") {
    val dir = Files.createTempDirectory("tables-empty").toString
    val theirs = intercept[AnalysisException](spark.read.parquet(dir))
    val ours = intercept[AnalysisException](Tables.parquet(spark, dir))
    assert(ours.getCondition == theirs.getCondition)
    val missing = s"$dir/absent"
    assert(intercept[AnalysisException](Tables.parquet(spark, missing)).getCondition ==
      intercept[AnalysisException](spark.read.parquet(missing)).getCondition)
  }

  test("40 explicit files: zero jobs where Spark starts a parallel-listing job") {
    val (_, files) = fortyFiles()
    var ours: DataFrame = null
    assert(jobsStarted { ours = Tables.parquet(spark, files: _*) } == 0)
    assert(jobsStarted(spark.read.parquet(files: _*)) >= 1)
    sameRows(ours, spark.read.parquet(files: _*))
  }

  test("40 symbol= dirs with a typed partition column: zero jobs, string symbols") {
    val root = fortySymbolLake()
    val dirs = (0 until 40).map(i => f"$root/symbol=$i%06d")
    val base = Map("basePath" -> root)
    var ours: DataFrame = null
    assert(jobsStarted {
      ours = Tables.parquet(spark, dirs, base, symbolString)
    } == 0)
    val schema = StructType(Seq(StructField("time", LongType),
      StructField("price", DoubleType), StructField("symbol", StringType)))
    var theirs: DataFrame = null
    assert(jobsStarted {
      theirs = spark.read.options(base).schema(schema).parquet(dirs: _*)
    } >= 1)
    sameRows(ours, theirs)
    assert(ours.schema("symbol").dataType == StringType)
    assert(ours.where($"symbol" === "000007").count() == 1L)
  }

  test("refresh() lists storage again instead of replaying the captured listing") {
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    val (dir, _) = fortyFiles()
    val df = Tables.parquet(spark, dir)
    spark.range(400, 410).selectExpr("id", "id * 2.5 AS x").coalesce(1)
      .write.mode("append").parquet(dir)
    // the DataFrame holds its listing, as a `spark.read` DataFrame does
    assert(df.count() == 400L && df.inputFiles.length == 40)
    val index = df.queryExecution.analyzed.collectFirst {
      case LogicalRelation(r: HadoopFsRelation, _, _, _, _) => r.location
    }.get
    index.refresh()
    assert(df.count() == 410L && df.inputFiles.length == 41)
  }
}
