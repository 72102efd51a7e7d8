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

  private def sameAsSpark(paths: String*): Unit = {
    val ours = Tables.parquet(spark, paths: _*)
    val theirs = spark.read.parquet(paths: _*)
    assert(ours.schema == theirs.schema)
    assert(ours.collect().map(_.toString).sorted.toSeq ==
      theirs.collect().map(_.toString).sorted.toSeq)
  }

  /** A `symbol=`-partitioned lake whose symbols all look numeric, so
    * Spark's partition inference types the column as a number. */
  private def numericSymbolLake(): String = {
    val root = tmp("tables-lake")
    Seq(("005930", 1L, 10.5), ("000660", 2L, 20.25), ("005930", 3L, 11.0))
      .toDF("symbol", "time", "price")
      .write.partitionBy("symbol").parquet(root)
    root
  }

  /** Jobs started while `build` runs: a sentinel job in the same group
    * runs after it, and the group is read once the sentinel shows, so
    * every earlier job has reached the status store by then. */
  private def jobsToBuild(build: => Unit): Int = {
    val sc = spark.sparkContext
    val group = s"tables-parquet-${System.nanoTime()}"
    sc.setJobGroup(group, "build only")
    try {
      build
      sc.parallelize(Seq(1), 1).count()
    } finally sc.clearJobGroup()
    val deadline = System.nanoTime() + 30L * 1000000000L
    var seen = sc.statusTracker.getJobIdsForGroup(group)
    while (seen.isEmpty && System.nanoTime() < deadline) {
      Thread.sleep(20)
      seen = sc.statusTracker.getJobIdsForGroup(group)
    }
    assert(seen.nonEmpty, "the sentinel job never reached the status store")
    seen.length - 1
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
    var dfs = Seq.empty[DataFrame]
    assert(jobsToBuild {
      dfs = Seq(
        Tables.parquet(spark, lake),
        Tables.events(spark, sf0001),
        Tables.lineitem(spark, sf0001),
        Serving.lakeTable(spark, lake),
        Serving.lakeTable(spark, snapLake),
        Snapshot.readVersion(spark, snapLake, partitionCols = Seq("symbol")).get)
    } == 0)
    assert(dfs.map(_.schema.nonEmpty) == Seq.fill(6)(true))
    assert(dfs(4).count() == 3L)
    // the check sees inference jobs when there are any
    assert(jobsToBuild(spark.read.parquet(lake)) >= 1)
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
}
