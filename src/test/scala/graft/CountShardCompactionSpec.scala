package graft

import org.apache.spark.sql.functions._
import graft.functions.{ShardWrite, Sketches, TextAnalysis => TA}

/** The additive count-shard channels under the m-shard watermark
  * discipline ([[ShardWrite.compactShards]]): folding is bit-stable,
  * replays of consumed batches skip, and the crash window between the
  * merged commit and the consumed-dir deletes never double-counts at
  * read (the above-watermark rule).
  */
class CountShardCompactionSpec extends SparkSpec {
  import spark.implicits._

  private val docs = Seq(
    (1L, "alpha beta gamma alpha"),
    (2L, "beta beta delta"),
    (3L, "gamma epsilon zeta"),
    (4L, "alpha zeta zeta eta"),
    (7L, "omega omega theta alpha")).toDF("doc_id", "text")

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  test("unigram channels: compaction folds both, scores bit-stable, consumed replay skips") {
    val dir = tmp("uni-compact")
    for (b <- 0L until 3L)
      assert(TA.unigramCountsAppend(docs.where($"doc_id" % 3 === b),
        "doc_id", "text", dir, b))
    assert(TA.unigramCountsRetire(docs.where($"doc_id" === 7L),
      "doc_id", "text", dir, 0L))
    val retained = docs.where($"doc_id" =!= 7L)
    def score = TA.unigramXentFromCounts(retained, "doc_id", "text", dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val before = score
    val ((cIn, cOut), (rIn, rOut)) = TA.compactUnigramCounts(spark, dir)
    assert(cIn == 3 && cOut == 1, s"counts $cIn->$cOut")
    assert(rIn <= 1 && rOut <= 1) // one retire shard: no-op
    assert(score == before, "scores drifted across the compaction")
    // a replay of a consumed batch must SKIP (watermark), not re-append
    assert(!TA.unigramCountsAppend(docs.where($"doc_id" % 3 === 1L),
      "doc_id", "text", dir, 1L),
      "consumed batch re-appended below the watermark")
    assert(score == before)
    // a FRESH batch above the watermark still lands and counts
    assert(TA.unigramCountsAppend(
      Seq((8L, "alpha alpha")).toDF("doc_id", "text"), "doc_id", "text",
      dir, 3L))
    assert(score != before, "post-compaction appends were lost")
    // re-compaction folds the m-shard with the new batch
    val ((c2In, c2Out), _) = TA.compactUnigramCounts(spark, dir)
    assert(c2In == 2 && c2Out == 1)
  }

  test("crash between merged commit and consumed deletes never double-counts at read") {
    val dir = tmp("uni-crash")
    for (b <- 0L until 2L)
      assert(TA.unigramCountsAppend(docs.where($"doc_id" % 2 === b),
        "doc_id", "text", dir, b))
    def freq = ShardWrite
      .readShards(spark, s"$dir/counts", "term STRING, tc BIGINT")
      .groupBy("term").agg(sum($"tc").as("tc"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val before = freq
    TA.compactUnigramCounts(spark, dir)
    // simulate the crash: re-create a consumed plain shard NEXT TO the
    // committed m-shard (exactly what a death between the rename and
    // the deletes leaves behind)
    assert(TA.unigramCountsAppend(docs.where($"doc_id" % 2 === 0L),
      "doc_id", "text", s"${dir}2", 0L)) // build the shard content...
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.rename(
      new org.apache.hadoop.fs.Path(s"${dir}2/counts/batch=0"),
      new org.apache.hadoop.fs.Path(s"$dir/counts/batch=0")))
    // the reader's above-watermark rule makes the leftover invisible
    assert(freq == before, "consumed leftover double-counted at read")
    // and the next compaction's recovery preamble deletes it
    TA.compactUnigramCounts(spark, dir)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$dir/counts/batch=0")))
    assert(freq == before)
  }

  test("crash between re-compaction rename and old m-shard delete never double-counts") {
    // the OTHER half of the crash window: a superseded m-shard left
    // NEXT TO its successor. Readers must serve only the max-watermark
    // m-shard, and the next compaction's preamble must delete the old one.
    val dir = tmp("uni-mm-crash")
    for (b <- 0L until 2L)
      assert(TA.unigramCountsAppend(docs.where($"doc_id" % 2 === b),
        "doc_id", "text", dir, b))
    def freq = ShardWrite
      .readShards(spark, s"$dir/counts", "term STRING, tc BIGINT")
      .groupBy("term").agg(sum($"tc").as("tc"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    TA.compactUnigramCounts(spark, dir) // -> m-shard u1
    val before = freq
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // stash a copy of the u1 m-shard, append batch 2, re-compact (-> u2),
    // then restore the stash: exactly what a death between the u2 rename
    // and the u1 delete leaves behind — two complete m-shards coexisting
    val m1 = fs.listStatus(new org.apache.hadoop.fs.Path(s"$dir/counts"))
      .map(_.getPath).find(_.getName.startsWith("batch=m")).get
    val stash = new org.apache.hadoop.fs.Path(s"$dir/stash-${m1.getName}")
    org.apache.hadoop.fs.FileUtil.copy(fs, m1, fs, stash, false, true,
      spark.sparkContext.hadoopConfiguration)
    assert(TA.unigramCountsAppend(
      Seq((8L, "alpha alpha")).toDF("doc_id", "text"), "doc_id", "text",
      dir, 2L))
    val after = freq
    TA.compactUnigramCounts(spark, dir) // -> m-shard u2, deletes u1
    assert(fs.rename(stash,
      new org.apache.hadoop.fs.Path(s"$dir/counts/${m1.getName}")))
    // superseded m-shard is invisible at read (max-watermark rule)
    assert(freq == after, "superseded m-shard double-counted at read")
    // and the next compaction's recovery preamble deletes it
    TA.compactUnigramCounts(spark, dir)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$dir/counts/${m1.getName}")))
    assert(freq == after)
    assert(before != after) // the batch-2 append is actually in the counts
  }

  test("foreign batch= dirs and unanchored m-shard look-alikes fail fast") {
    val dir = tmp("uni-foreign")
    assert(TA.unigramCountsAppend(docs, "doc_id", "text", dir, 0L))
    def freq = ShardWrite
      .readShards(spark, s"$dir/counts", "term STRING, tc BIGINT")
      .count()
    val n = freq
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // a stray copy whose name merely CONTAINS an m-shard pattern must not
    // parse as one (anchored regex) — it is foreign, and foreign is loud
    val src = new org.apache.hadoop.fs.Path(s"$dir/counts/batch=0")
    val bak = new org.apache.hadoop.fs.Path(s"$dir/counts/batch=m1au2.bak")
    org.apache.hadoop.fs.FileUtil.copy(fs, src, fs, bak, false, true,
      spark.sparkContext.hadoopConfiguration)
    val e = intercept[IllegalStateException] { freq }
    assert(e.getMessage.contains("batch=m1au2.bak"),
      s"error must name the offending path: ${e.getMessage}")
    fs.delete(bak, true)
    assert(freq == n)
  }

  test("dsir and cms channels fold under the same discipline") {
    val dir = tmp("dsir-compact")
    for (b <- 0L until 3L)
      assert(TA.dsirCountsAppend(docs.where($"doc_id" % 3 === b),
        "doc_id", "text", $"doc_id" % 2 === 0, dir, b))
    def model = TA.dsirModelFromCounts(spark, dir)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
    val before = model
    val ((dIn, dOut), _) = TA.compactDsirCounts(spark, dir)
    assert(dIn == 3 && dOut == 1)
    assert(model == before)

    val cdir = tmp("cms-compact")
    val items = docs.select($"doc_id", explode(split($"text", " ")).as("v"))
    for (b <- 0L until 3L)
      assert(Sketches.cmsAppend(items.where($"doc_id" % 3 === b), "v", cdir, b))
    assert(Sketches.cmsRetire(items.where($"doc_id" === 7L), "v", cdir, 0L))
    def cells = Sketches.cmsFromShards(spark, cdir).where($"n" =!= 0)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSet
    val cBefore = cells
    val ((in1, out1), _) = Sketches.compactCmsShards(spark, cdir)
    assert(in1 == 3 && out1 == 1)
    assert(cells == cBefore, "CMS cells drifted across the compaction")
  }

  test("r15 count channels (drift, bigram, boilerplate) fold bit-stable too") {
    import graft.functions.Dedup
    val wide = docs.withColumn("source",
      concat(lit("s"), ($"doc_id" % 2).cast("string")))
    val kdir = tmp("kl-compact")
    for (b <- 0L until 3L)
      assert(TA.sourceKlCountsAppend(wide.where($"doc_id" % 3 === b),
        "doc_id", "text", "source", kdir, b))
    def kl = TA.sourceKlFromCounts(spark, kdir, "source")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    val kBefore = kl
    val (kIn, kOut) = TA.compactSourceKlCounts(spark, kdir)
    assert(kIn == 3 && kOut == 1)
    assert(kl == kBefore, "KL drifted across the compaction")

    val bdir = tmp("bi-compact")
    for (b <- 0L until 3L)
      assert(TA.bigramCountsAppend(docs.where($"doc_id" % 3 === b),
        "doc_id", "text", bdir, b))
    def ppl = TA.bigramXentFromCounts(docs, "doc_id", "text", bdir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(3))).toSet
    val pBefore = ppl
    val (bIn, bOut) = TA.compactBigramCounts(spark, bdir)
    assert(bIn == 3 && bOut == 1)
    assert(ppl == pBefore, "bigram ppl drifted across the compaction")

    val sdir = tmp("boil-compact")
    for (b <- 0L until 3L)
      assert(Dedup.shingleDfAppend(docs.where($"doc_id" % 3 === b),
        "doc_id", "text", sdir, b, n = 2))
    def hot = Dedup.boilerplateFromShards(spark, sdir, 2, 50)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    val hBefore = hot
    val (sIn, sOut) = Dedup.compactShingleDf(spark, sdir)
    assert(sIn == 3 && sOut == 1)
    assert(hot == hBefore, "drop list drifted across the compaction")
  }

  test("nb channels fold bit-stable, consumed replay skips") {
    val labeled = docs.withColumn("lang",
      when($"doc_id" % 2 === 0, "a").otherwise("b"))
    val dir = tmp("nb-compact")
    for (b <- 0L until 3L)
      assert(TA.nbCountsAppend(labeled.where($"doc_id" % 3 === b),
        "doc_id", "text", "lang", dir, b))
    assert(TA.nbCountsRetire(labeled.where($"doc_id" === 7L),
      "doc_id", "text", "lang", dir, 0L))
    def model = TA.nbModelFromCounts(spark, dir).collect().map(r =>
      (r.getString(0), r.getLong(1), r.getDouble(2), r.getDouble(3))).toSet
    val before = model
    assert(before == TA.nbModel(labeled.where($"doc_id" =!= 7L),
        "doc_id", "text", "lang").collect().map(r =>
      (r.getString(0), r.getLong(1), r.getDouble(2), r.getDouble(3))).toSet)
    val ((cIn, cOut), (rIn, rOut)) = TA.compactNbCounts(spark, dir)
    assert(cIn == 3 && cOut == 1, s"counts $cIn->$cOut")
    assert(rIn <= 1 && rOut <= 1) // one retire shard: no-op
    assert(model == before, "NB model drifted across the compaction")
    // a replay of a consumed batch skips at the watermark
    assert(!TA.nbCountsAppend(labeled.where($"doc_id" % 3 === 1L),
      "doc_id", "text", "lang", dir, 1L))
    assert(model == before)
  }
}
