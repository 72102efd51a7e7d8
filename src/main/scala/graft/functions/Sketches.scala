package graft.functions

import java.nio.ByteBuffer

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graftext.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** Distinct-count sketching for corpus statistics (vocabulary size,
  * distinct shingles/URLs/fingerprints) where the exact answer needs a
  * full `distinct()` shuffle of every distinct value — at 100 TB, often
  * more expensive than the query it serves.
  *
  * The sketch here is KMV (k minimum values, Bar-Yossef et al. 2002) over
  * the engine's md5-derived 60-bit hash, NOT HyperLogLog, for one
  * deliberate reason: KMV over a fixed hash is fully DETERMINISTIC — the
  * k smallest distinct hashes are a set property of the data, independent
  * of partitioning, merge order, or row order. That makes the estimate
  * bit-for-bit reproducible by the DuckDB oracle (`ORDER BY hash LIMIT
  * k`), so the sketch gets a real CORRECTNESS row, where an HLL register
  * array would be engine-private state with at best a rows-only check.
  * Accuracy is the textbook ~1/√k relative error (k=256 → ~6%).
  *
  * Scale shape: one [[KmvLongAgg]] per group — a bounded k-long sorted
  * buffer with map-side partial aggregation, so each partition ships one
  * ≤(8k+4)-byte buffer to the final merge; the corpus itself never
  * shuffles and distinct values are never materialized.
  */
object Sketches {

  /** Hash-space size of [[Dedup.md5Hash60]]: estimates assume uniform
    * hashes in [0, 2⁶⁰). Exactly representable as a double. */
  val HashSpace: Double = math.pow(2, 60)

  /** The k smallest DISTINCT values of `c` across the group, as a sorted
    * `array<long>` (shorter than k iff the group has fewer distinct
    * values — the caller's exact-count escape hatch). */
  def kMinValues(c: Column, k: Int): Column =
    ColumnBridge.column(
      KmvLongAgg(ColumnBridge.expression(c), k).toAggregateExpression())

  /** KMV estimator over a [[kMinValues]] result: exact size when the
    * group had < k distinct values, else (k−1)·2⁶⁰ / kth-min. The
    * numerator is a driver-computed double literal ((k−1)·2⁶⁰ is exact —
    * k−1 < 2⁵³⁻⁶⁰ bits), so engine and oracle perform the identical
    * single IEEE division. */
  def kmvEstimate(kept: Column, k: Int): Column = {
    import org.apache.spark.sql.functions._
    when(size(kept) < k, size(kept).cast("double"))
      .otherwise(lit((k - 1).toDouble * HashSpace) /
        kept(size(kept) - 1).cast("double"))
  }

  /** Merge two k-min sets into the k-min set of the UNION — the sketch
    * mergeability that makes distinct-counting work shard-wise: sketch
    * each shard/day/partition independently, merge the ≤8k-byte arrays
    * centrally, never rescan. KMV merge is exact by construction (the k
    * smallest of a union are among the union of each side's k smallest),
    * so the merged estimate is identical to sketching the union
    * directly — [[graft.SketchesSpec]] asserts that equality. Pure array
    * expressions, usable across DataFrames (unlike the aggregate's
    * internal merge, which only combines within one aggregation). */
  def kmvMerge(a: Column, b: Column, k: Int): Column = {
    import org.apache.spark.sql.functions._
    // coalesce each side to []: in the shard-wise pattern a missing
    // shard (outer-join NULL for an absent day/partition) must act as
    // the empty set, not null-propagate through concat and silently
    // destroy the merged sketch
    def orEmpty(c: Column) = coalesce(c, array().cast("array<long>"))
    slice(array_sort(array_distinct(concat(orEmpty(a), orEmpty(b)))), 1, k)
  }

  /** Distinct-intersection estimate by inclusion–exclusion over the
    * exact union merge: |A∩B| ≈ est(A) + est(B) − est(A∪B), floored at
    * 0 (the subtraction of three ~1/√k estimates can dip negative on
    * near-disjoint sets). Error grows with |A∪B|/|A∩B|, the usual KMV
    * intersection caveat — fine for the "how much does this shard
    * overlap the corpus" question, not for tiny intersections.
    *
    * Cost note: [[kmvEstimate]] references its argument three times, so
    * the inlined [[kmvMerge]] tree appears 3× in the unoptimized plan;
    * whole-stage codegen's subexpression elimination collapses them,
    * but callers applying this per-row at volume in a NON-codegen
    * context should materialize the merge first
    * (`.select(kmvMerge(a, b, k).as("m"))`, then estimate over `m`). */
  def kmvIntersectEstimate(a: Column, b: Column, k: Int): Column = {
    import org.apache.spark.sql.functions._
    greatest(lit(0.0),
      kmvEstimate(a, k) + kmvEstimate(b, k) - kmvEstimate(kmvMerge(a, b, k), k))
  }

  /** DuckDB twin of [[kmvEstimate]] ∘ [[kMinValues]] over a relation
    * exposing distinct hashes as `h`: same k-min set, same CASE, same
    * left-to-right division. `%.17e` renders the numerator exactly
    * (a bare decimal literal would be DECIMAL, not DOUBLE, in DuckDB). */
  def kmvEstimateSql(k: Int): String = {
    val num = "%.17e".format((k - 1).toDouble * HashSpace)
    s"""kmin AS (SELECT h FROM h ORDER BY h LIMIT $k),
       |s AS (SELECT CAST(count(*) AS BIGINT) AS n_kept, max(h) AS kth_min FROM kmin)
       |SELECT n_kept, kth_min,
       |  CASE WHEN n_kept < $k THEN CAST(n_kept AS DOUBLE)
       |       ELSE CAST($num AS DOUBLE) / CAST(kth_min AS DOUBLE) END AS est_distinct
       |FROM s""".stripMargin
  }

  // ---- count-min frequency sketch (Cormode & Muthukrishnan 2005) ------

  /** Count-min sketch built as a RELATION: one row per populated
    * (row, cell) counter over `d` md5-keyed hash rows × `w` cells. CMS
    * is a LINEAR sketch — counters are plain sums, so merge order,
    * partitioning, and shard-wise construction all commute and the
    * final table is DETERMINISTIC (the same property that made KMV
    * oracle-able where HLL isn't). Frequency estimates are then
    * point-lookups: est(x) = min over rows of counter(r, h_r(x)) —
    * always ≥ the true count, within εN with probability 1−δ at
    * d = ln(1/δ), w = e/ε.
    *
    * Scale shape: d fixed-width rows per item into ONE
    * map-side-combinable groupBy bounded by d·w cells — the corpus
    * never shuffles and no per-term state exists, unlike an exact
    * term-frequency groupBy whose key space is the vocabulary. */
  def cmsCells(items: org.apache.spark.sql.DataFrame, value: String,
               d: Int = 4, w: Int = 1024): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    items.select(posexplode(array((0 until d).map(r =>
        Md5Long60(concat_ws("|", lit(r.toString), col(value))) % w): _*))
        .as(Seq("r", "c")))
      .groupBy("r", "c").agg(count(lit(1)).as("n"))
  }

  /** Point-lookup estimates for `terms` against a [[cmsCells]] table:
    * probe coordinates are DRIVER-computed from the same md5 bytes
    * ([[Md5Long60.hash60]] — zero jobs, the stored-BM25 bucket
    * discipline), broadcast, and min-reduced per term. Terms absent
    * from every cell estimate ≥ 0 via the left join's coalesce. */
  def cmsEstimate(cells: org.apache.spark.sql.DataFrame, terms: Seq[String],
                  d: Int = 4, w: Int = 1024): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    val spark = cells.sparkSession
    import spark.implicits._
    val probes = terms.distinct.flatMap(t => (0 until d).map(r =>
        (t, r, Md5Long60.hash60(s"$r|$t".getBytes("UTF-8")) % w)))
      .toDF("term", "r", "c")
    broadcast(probes).join(cells, Seq("r", "c"), "left")
      .groupBy("term")
      .agg(min(coalesce(col("n"), lit(0L))).as("est"))
  }

  /** INCREMENTAL CMS maintenance: append one batch's cell counts as a
    * shard named by batchId (skip-if-exists ⇒ replay-idempotent BY
    * CONSTRUCTION — the dsirCountsAppend / postings-shard discipline).
    * CMS linearity means the shard SUM is exactly the whole-stream
    * sketch, so a live corpus keeps its frequency table current with
    * one bounded write per batch and zero retrains. Returns false iff
    * the shard already existed (replay). */
  def cmsAppend(items: org.apache.spark.sql.DataFrame, value: String,
                dir: String, batchId: Long, d: Int = 4,
                w: Int = 1024): Boolean =
    cmsChannel(dir).append(batchId, cmsCells(items, value, d, w))

  /** TOMBSTONES for the CMS shards — CMS is LINEAR, so retiring a
    * stream slice is exact: the retired items' cell table lands in
    * `$dir/retire/batch=<id>` (same `_SUCCESS` claim discipline) and
    * [[cmsFromShards]] subtracts it — the resulting cells are
    * bit-identical to a sketch built over the retained stream alone
    * (`q_cms_retire` pins it to the retained-set oracle). */
  def cmsRetire(items: org.apache.spark.sql.DataFrame, value: String,
                dir: String, batchId: Long, d: Int = 4,
                w: Int = 1024): Boolean =
    cmsChannel(dir).retire(batchId, cmsCells(items, value, d, w))

  private def cmsChannel(dir: String) = ShardWrite.CountChannel(
    s"$dir/cms", s"$dir/retire", "r INT, c BIGINT, n BIGINT", Seq("r", "c"))

  /** The whole-stream cell table from the accumulated shards — feeds
    * [[cmsEstimate]] unchanged. Subtracts the retire channel (exact:
    * CMS linearity); cells netted to zero drop, which [[cmsEstimate]]
    * reads as the zero they are. */
  def cmsFromShards(spark: org.apache.spark.sql.SparkSession,
                    dir: String): org.apache.spark.sql.DataFrame =
    cmsChannel(dir).netted(spark)

  /** [[graft.functions.TextAnalysis.compactUnigramCounts]] on the CMS
    * channels: cells re-sum per (r, c), both channels, same watermark
    * discipline — CMS linearity makes the folded table bit-identical. */
  def compactCmsShards(spark: org.apache.spark.sql.SparkSession,
                       dir: String): ((Int, Int), (Int, Int)) =
    cmsChannel(dir).compact(spark)

  /** φ-HEAVY HITTERS via the CMS prefilter — the two-pass pattern the
    * sketch exists for at corpus scale: pass 1 builds the bounded d·w
    * counter table and collects it (≤ d·w longs — the centroid/codebook
    * collect precedent); pass 2 filters each OCCURRENCE map-side by its
    * CMS estimate (d literal-array lookups fused in codegen, zero
    * shuffle) and exact-counts only the survivors — whose key space is
    * the candidate set, not the vocabulary. CMS never underestimates,
    * so no true heavy hitter is dropped (every occurrence survives);
    * sketch false positives keep their full occurrence set and die at
    * the exact HAVING — the result is EXACTLY `count(x) ≥ ⌈φN⌉`, which
    * is why the oracle is the plain exact SQL while the engine plan
    * never materializes a vocabulary-scale aggregation state for light
    * keys... (at this fixture's 31-token vocabulary the groupBy is tiny
    * either way; the pattern is for vocabularies that aren't). */
  def heavyHitters(items: org.apache.spark.sql.DataFrame, value: String,
                   phi: Double, d: Int = 4, w: Int = 1024)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    val minCount = math.ceil(phi * items.count()).toLong
    val arrs = Array.fill(d)(Array.fill(w)(0L))
    cmsCells(items, value, d, w).collect().foreach { r =>
      arrs(r.getInt(0))(r.getLong(1).toInt) = r.getLong(2)
    }
    val est = (0 until d).map { r =>
      element_at(lit(arrs(r)),
        (Md5Long60(concat_ws("|", lit(r.toString), col(value))) % w)
          .cast("int") + 1)
    }.reduce(least(_, _))
    items.where(est >= minCount)
      .groupBy(value).agg(count(lit(1)).as("cnt"))
      .where(col("cnt") >= minCount)
  }

  /** DuckDB twin of [[cmsEstimate]] ∘ [[cmsCells]] over a relation `v`
    * exposing one item per row as `v`: identical md5 cell arithmetic on
    * both the build and the probe side. */
  def cmsEstimateSql(terms: Seq[String], d: Int = 4, w: Int = 1024): String = {
    val termList = terms.distinct.map(t => s"'$t'").mkString(", ")
    def cell(x: String) =
      s"CAST(concat('0x', substr(md5(concat(CAST(r AS VARCHAR), '|', $x)), 1, 15)) AS BIGINT) % $w"
    s"""rows AS (SELECT unnest(range($d)) AS r),
       |cells AS (
       |  SELECT r, ${cell("v.v")} AS c, count(*) AS n
       |  FROM v CROSS JOIN rows GROUP BY 1, 2),
       |probes AS (
       |  SELECT term, r, ${cell("term")} AS c
       |  FROM (SELECT unnest([$termList]) AS term) CROSS JOIN rows)
       |SELECT term, CAST(min(COALESCE(n, 0)) AS BIGINT) AS est
       |FROM probes LEFT JOIN cells USING (r, c)
       |GROUP BY term""".stripMargin
  }
}

/** Bounded k-min-values buffer: sorted distinct prefix of a k-long
  * primitive array. Insertion is a binary search plus an arraycopy only
  * when the value actually enters the k-set — once the buffer saturates,
  * the `h >= max` early exit rejects almost every row with one compare. */
final class KmvBuffer(val k: Int) {
  val vals = new Array[Long](k)
  var size = 0

  def insert(h: Long): Unit = {
    if (size == k && h >= vals(k - 1)) return
    val idx = java.util.Arrays.binarySearch(vals, 0, size, h)
    if (idx >= 0) return // already in the k-set
    val ins = -idx - 1
    val shift = math.min(size, k - 1) - ins
    if (shift > 0) System.arraycopy(vals, ins, vals, ins + 1, shift)
    vals(ins) = h
    if (size < k) size += 1
  }
}

/** The k smallest distinct longs across a group as one
  * [[TypedImperativeAggregate]]: partial aggregation keeps a bounded
  * [[KmvBuffer]] per partition (ObjectHashAggregate map-side combine);
  * null inputs are skipped. Same buffer/serialization discipline as
  * [[ElementwiseLongAgg]]. */
case class KmvLongAgg(
    child: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[KmvBuffer] with UnaryLike[Expression] {

  require(k > 0, s"KmvLongAgg needs k > 0, got $k")

  override def createAggregationBuffer(): KmvBuffer = new KmvBuffer(k)

  override def update(buf: KmvBuffer, input: InternalRow): KmvBuffer = {
    val v = child.eval(input)
    if (v != null) buf.insert(v.asInstanceOf[Long])
    buf
  }

  override def merge(b1: KmvBuffer, b2: KmvBuffer): KmvBuffer = {
    var i = 0
    while (i < b2.size) { b1.insert(b2.vals(i)); i += 1 }
    b1
  }

  override def eval(buf: KmvBuffer): Any =
    new GenericArrayData(java.util.Arrays.copyOf(buf.vals, buf.size))

  override def serialize(buf: KmvBuffer): Array[Byte] = {
    val bb = ByteBuffer.allocate(4 + 8 * buf.size)
    bb.putInt(buf.size)
    var i = 0
    while (i < buf.size) { bb.putLong(buf.vals(i)); i += 1 }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): KmvBuffer = {
    val bb = ByteBuffer.wrap(bytes)
    val n = bb.getInt
    val out = new KmvBuffer(k)
    out.size = n
    var i = 0
    while (i < n) { out.vals(i) = bb.getLong(); i += 1 }
    out
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false

  override def withNewMutableAggBufferOffset(o: Int): KmvLongAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): KmvLongAgg =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildInternal(newChild: Expression): KmvLongAgg =
    copy(child = newChild)
}
