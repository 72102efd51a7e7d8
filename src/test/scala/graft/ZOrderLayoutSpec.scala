package graft

import org.apache.spark.sql.functions._
import graft.operators.ZOrderLayout

/** Behavior of the z-ordered layout ([[ZOrderLayout]]): bit-exact
  * z-values against a Scala twin, single-dim monotonicity, layout
  * independence of results, and the joint-locality property the whole
  * rewrite exists for. The registry row `q_zorder_scan` is
  * DuckDB-oracled against the PLAIN table; SCALE.md's `zorder` row prices the
  * bytes-read pruning. */
class ZOrderLayoutSpec extends SparkSpec {

  // the engine's quantize/interleave recomputed in Scala with the same
  // IEEE operation order — a drift here means the expression changed
  private def zTwin(vals: Seq[Double], ranges: Seq[(Double, Double)]): Long = {
    val bits = ZOrderLayout.bitsFor(vals.size)
    val cells = (1L << bits) - 1
    val qs = vals.zip(ranges).map { case (x, (lo, hi)) =>
      val span = if (hi > lo) hi - lo else 1.0
      math.min(cells, math.max(0L, math.floor((x - lo) / span * cells).toLong))
    }
    (for { b <- 0 until bits; (q, i) <- qs.zipWithIndex }
      yield ((q >> b) & 1L) << (b * qs.size + i)).sum
  }

  test("zValue matches the Scala twin bit-exactly and is monotone per dimension") {
    import spark.implicits._
    val ranges = Seq((0.0, 65535.0), (0.0, 65535.0))
    val pts = Seq((0L, 0L), (1L, 0L), (0L, 1L), (65535L, 65535L),
      (30000L, 34095L), (12345L, 54321L), (65535L, 0L))
    val got = pts.toDF("a", "b")
      .select(ZOrderLayout.zValue(Seq(col("a"), col("b")), ranges).as("z"))
      .collect().map(_.getLong(0))
    val want = pts.map { case (a, b) => zTwin(Seq(a.toDouble, b.toDouble), ranges) }
    assert(got.toSeq == want, s"z mismatch: ${got.toSeq} vs $want")
    // bit-layout sanity: (1,0) flips bit 0, (0,1) flips bit 1
    assert(want(0) == 0L && want(1) == 1L && want(2) == 2L)
    // fixed b: z is monotone in a (a's bits occupy fixed positions)
    val fixedB = (0 until 100).map(i => zTwin(Seq(i * 655.0, 42.0), ranges))
    assert(fixedB == fixedB.sorted, "z not monotone in a at fixed b")
  }

  test("z-ordered rewrite preserves rows exactly and clusters BOTH dimensions") {
    import spark.implicits._
    val n = 65536
    val df = spark.range(n).select(col("id"),
      pmod(col("id") * 2654435761L, lit(65536L)).as("a"),
      pmod(col("id") * 40503L + 7L, lit(65536L)).as("b"))
    val dir = java.nio.file.Files.createTempDirectory("zorder-spec").toString
    ZOrderLayout.writeZOrdered(df, s"$dir/z", Seq("a", "b"), files = 16)
    val back = spark.read.parquet(s"$dir/z")
    // layout independence: same rows, nothing lost or duplicated
    assert(back.count() == n)
    assert(back.agg(sum(col("id")), sum(col("a")), sum(col("b"))).head() ==
      df.agg(sum(col("id")), sum(col("a")), sum(col("b"))).head())
    // joint locality: each FILE's bounding box is narrow in BOTH dims
    // (a single-column sort gets ~1/16 span on a and FULL span on b);
    // 16 files on a 2-D curve ≈ 4×4 cells → ~1/4 span per dim
    val spans = back.withColumn("f", input_file_name())
      .groupBy("f").agg((max(col("a")) - min(col("a"))).as("sa"),
        (max(col("b")) - min(col("b"))).as("sb"))
      .agg(avg(col("sa")), avg(col("sb"))).head()
    val (avgA, avgB) = (spans.getDouble(0), spans.getDouble(1))
    assert(avgA < 65536 * 0.6, s"a not clustered: avg file span $avgA")
    assert(avgB < 65536 * 0.6, s"b not clustered: avg file span $avgB")
  }

  test("degenerate ranges and constant columns don't break the rewrite") {
    import spark.implicits._
    val df = Seq((1L, 5.0, 7.0), (2L, 5.0, 7.0), (3L, 5.0, 7.0))
      .toDF("id", "a", "b")
    val dir = java.nio.file.Files.createTempDirectory("zorder-const").toString
    ZOrderLayout.writeZOrdered(df, s"$dir/z", Seq("a", "b"), files = 2)
    assert(spark.read.parquet(s"$dir/z").count() == 3)
  }
}
