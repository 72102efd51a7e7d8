package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.Tables

/** Similarity search over embedding columns (`array<float>`): brute-force
  * cosine top-k as the exact baseline, and random-hyperplane LSH bucketing
  * as the approximate scale path. Vector math uses higher-order built-ins
  * (`zip_with`/`aggregate`) on double-cast values — no UDFs, no collect.
  *
  * Scale: brute-force against ONE query vector is a broadcast map-side
  * scan + TakeOrdered (no shuffle of the corpus). LSH pre-bucketing makes
  * batch all-pairs search bucket-local, the same pattern as Dedup's
  * banding.
  */
object Similarity {

  /** Embedding width the generated oracle twins unroll (element_at
    * chains in [[lshTopKOracleSql]]/[[ivfSeededOracleSql]]/
    * [[bucketPairsOracleSql]]). The ENGINE adapts to each row's actual
    * width, so a corpus at any other width would make the oracle — and
    * only the oracle — silently wrong; callers claiming oracle parity
    * must guard the input with [[requireWidth]]. */
  val OracleDim: Int = 64

  /** PRODUCTION PQ defaults — the dense codebook measured in SCALE.md's
    * `ann_recall` row (r12): 12-bit codes (m=4, ks=8) score recall@10
    * at 0.16–0.21 on the probe fixture and FALL as nprobe grows (ADC
    * ordering is mostly quantization noise), while m=8/ks=16 (32-bit
    * codes) holds 0.25–0.27 ADC and 0.82–0.86 after a 200-candidate
    * re-rank. Every production entry point
    * ([[pqTopK]]/[[ivfPqTopK]]/[[ivfPqRerankTopK]] and the artifact
    * builders) defaults here; the registry's 12-bit rows pin m=4/ks=8
    * EXPLICITLY as fixture-scale oracle pins, never as a
    * recommendation. */
  val DefaultM: Int = 8
  val DefaultKs: Int = 16

  /** Sentinel `shortlist` value: derive it from the candidate count via
    * [[rerankShortlist]] instead of a fixed constant. NEGATIVE on
    * purpose: an erroneous explicit `shortlist = 0` must still trip the
    * `shortlist >= k` guard loudly instead of silently switching to
    * auto-derivation (and paying its count jobs). */
  val AutoShortlist: Int = -1

  /** The coarse-list count rule every scale probe converged on (SCALE.md:
    * semdedup "nlist scaled 16→256 with the corpus keeps clusters ~160
    * wide"; ann_join 512 lists at 100k): size `nlist` so each inverted
    * list holds ≈`targetListSize` vectors — probes then scan
    * nprobe·targetListSize candidates at ANY corpus size, which is what
    * keeps per-query cost flat as the corpus grows. A FIXED nlist (the
    * oracle rows' fixture-scale 16) makes candidate counts grow linearly
    * with the corpus instead. Callers pass this to the builders at
    * indexing time; it is not a data-dependent default because the
    * oracle twins spell nlist as a literal. */
  def scaledNlist(corpusRows: Long, targetListSize: Long = 160L): Int = {
    require(corpusRows >= 0 && targetListSize >= 1,
      s"scaledNlist(corpusRows=$corpusRows, targetListSize=$targetListSize)")
    math.min(math.max(1L, math.ceil(corpusRows.toDouble / targetListSize).toLong),
      1L << 20).toInt
  }

  /** The re-rank shortlist rule measured in SCALE.md's `ann_recall` row:
    * a FIXED shortlist dilutes as nprobe admits more candidates
    * (rerank@50 fell 0.55 → 0.38 as nprobe grew 1 → 8 with 12-bit
    * codes), so the shortlist must scale WITH the candidate count
    * ≈ nprobe/nlist × corpus. One quarter of the candidate set matches
    * the measured stable point (shortlist 200 of ~1 000 candidates
    * held rerank recall 0.82–0.86); the 4·k floor keeps tiny corpora
    * from starving the re-rank below a useful margin over k. */
  def rerankShortlist(corpusRows: Long, nlist: Int, nprobe: Int, k: Int): Int = {
    require(corpusRows >= 0 && nlist >= 1 && nprobe >= 1 && k >= 1,
      s"rerankShortlist(corpusRows=$corpusRows, nlist=$nlist, nprobe=$nprobe, k=$k)")
    val candidates = math.ceil(corpusRows.toDouble * nprobe / nlist)
    math.min(math.max(4L * k, math.ceil(candidates / 4.0).toLong),
      Int.MaxValue.toLong).toInt
  }

  /** Pass-through that fails loudly on any row whose vector width is not
    * `dim` — the guard that keeps the engine and the dim-unrolled oracle
    * SQL honest with each other. Cheap (one size() branch per row). */
  def requireWidth(vec: Column, dim: Int = OracleDim): Column =
    when(size(vec) === dim, vec).otherwise(raise_error(concat(
      lit(s"embedding width != $dim (oracle twins unroll $dim-wide chains): got "),
      size(vec).cast("string"))))

  private def asDouble(v: Column): Column = transform(v, _.cast("double"))

  /** Σ aᵢ·bᵢ via zip_with + aggregate higher-order functions — the
    * portable, built-in-only formulation. */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(asDouble(a), asDouble(b), _ * _), lit(0.0), _ + _)

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine via the native fused-loop Catalyst expression
    * ([[VectorExpressions.CosineSim]], codegen'd): one array pass instead
    * of three interpreted HOF walks — the hot path for corpus-scale
    * scoring. The HOF form remains as [[cosineHof]] (equality covered by
    * [[graft.VectorExprSpec]]). */
  def cosine(a: Column, b: Column): Column = VectorExpressions.cosineSim(a, b)

  def cosineHof(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Exact top-k by cosine against the stored vector with id `queryId`.
    * The single query row is broadcast; the corpus is scanned map-side and
    * reduced with TakeOrderedAndProject — no corpus shuffle. */
  def bruteForceTopK(emb: DataFrame, id: String, vec: String,
                     queryId: Long, k: Int): DataFrame = {
    val q = emb.where(col(id) === queryId).select(col(vec).as("q_vec"))
    emb.where(col(id) =!= queryId)
      .crossJoin(broadcast(q))
      .select(col(id), cosine(col(vec), col("q_vec")).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col(id).asc)
      .limit(k)
  }

  /** Deterministic random hyperplanes: `planes(p)(j)` from a fixed-seed
    * PRNG — stable across runs/executors (driver-computed constants,
    * broadcast as literals). */
  def hyperplanes(nPlanes: Int, dim: Int, seed: Long = 42L): Array[Array[Double]] = {
    val rnd = new scala.util.Random(seed)
    Array.fill(nPlanes, dim)(rnd.nextGaussian())
  }

  /** RANDOM-PROJECTION dimensionality reduction (Johnson–Lindenstrauss):
    * project each embedding onto `outDim` fixed Gaussian directions
    * scaled by 1/√outDim, so expected squared norms — and with them
    * pairwise distances — are preserved within the JL bound. The
    * embedding-toolbox step BEFORE clustering/ANN when the raw width is
    * the cost driver: a 64→16 projection quarters every downstream
    * dot product and the bytes every vector artifact stores. The
    * matrix is the [[hyperplanes]] deterministic generator (the LSH
    * planes' sibling — scaling applied on the DRIVER so engine and
    * oracle share the exact literal doubles); per row the projection
    * is `outDim` codegen'd [[VectorExpressions.dotProduct]] folds — a
    * pure map-side projection, no shuffle, no UDF. Output one row per
    * (vector, output dimension): (vec_id, j, x) — the exploded form
    * keeps the oracle a plain UNION of per-dimension chains. */
  def randomProject(emb: DataFrame, id: String, vec: String,
                    outDim: Int = 16, dim: Int = OracleDim,
                    seed: Long = 42L): DataFrame = {
    require(outDim >= 1, "randomProject needs outDim >= 1")
    val planes = hyperplanes(outDim, dim, seed)
      .map(_.map(_ / math.sqrt(outDim)))
    emb.select(col(id).as("vec_id"),
        transform(col(vec), _.cast("double")).as("v"))
      .select(col("vec_id"), posexplode(array(planes.map(p =>
          VectorExpressions.dotProduct(col("v"), array(p.map(lit): _*))): _*))
        .as(Seq("j", "x")))
  }

  /** Oracle for [[randomProject]]: one left-associated projection chain
    * per output dimension over the SAME driver-scaled plane literals,
    * unioned in dimension order. */
  def randomProjectOracleSql(outDim: Int = 16, dim: Int = OracleDim,
                             seed: Long = 42L): String = {
    val planes = hyperplanes(outDim, dim, seed)
      .map(_.map(_ / math.sqrt(outDim)))
    planes.zipWithIndex.map { case (p, j) =>
      s"SELECT vec_id, $j AS j, ${dotPlaneSql("embedding", p)} AS x FROM embeddings"
    }.mkString("\nUNION ALL\n")
  }

  /** Sign-bit LSH bucket id: bit p = (v · plane_p) >= 0. Vectors with the
    * same bucket are cosine-close with high probability. Projections use
    * the codegen'd DotProduct expression — the HOF form made bucketing
    * slower than the brute-force scan it was meant to beat. */
  def lshBucket(vec: Column, planes: Array[Array[Double]]): Column =
    planes.zipWithIndex.map { case (plane, p) =>
      val proj = VectorExpressions.dotProduct(vec, array(plane.map(lit): _*))
      when(proj >= 0, shiftleft(lit(1L), p)).otherwise(0L)
    }.reduce(_.bitwiseOR(_))

  /** Approximate top-k: restrict the scan to the query's LSH bucket (plus
    * all buckets at Hamming distance ≤ 1 for recall), then exact cosine.
    * At scale the bucket column is a partition/cluster key, so the probe
    * touches a small fraction of the corpus. */
  def lshTopK(emb: DataFrame, id: String, vec: String,
              queryId: Long, k: Int, nPlanes: Int = 8, dim: Int = 64): DataFrame = {
    val planes = hyperplanes(nPlanes, dim)
    val bucketed = emb.withColumn("bucket", lshBucket(col(vec), planes))
    val q = bucketed.where(col(id) === queryId)
      .select(col(vec).as("q_vec"), col("bucket").as("q_bucket"))
    bucketed.where(col(id) =!= queryId)
      .crossJoin(broadcast(q))
      .where(Dedup.hamming(col("bucket"), col("q_bucket")) <= 1)
      .select(col(id), cosine(col(vec), col("q_vec")).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col(id).asc)
      .limit(k)
  }

  /** Deterministic Lloyd's k-means over the embedding column — the IVF
    * coarse quantizer. Init = first `k` vectors by id (deterministic).
    *
    * Driver-sequenced, MLlib-KMeans style: each iteration is ONE Spark
    * job — a map-side [[NearestCentroid]] assignment (no join, no
    * window, zero corpus shuffle) feeding a single
    * `groupBy(cid).agg(elementwiseDoubleSum)` whose output is k rows of
    * dim doubles, collected to the driver and broadcast back as the next
    * iteration's expression constants. The collect is O(k·dim) metadata —
    * the corpus never moves; lineage stays flat (no cache/unpersist
    * chains), so iters=50 costs 50 linear jobs, not a quadratic replan.
    * Empty clusters drop (their list is never probed), matching the
    * aggregate-only formulation. */
  def kmeansLocalCentroids(emb: DataFrame, id: String, vec: String,
                           k: Int, iters: Int): Array[(Int, Array[Double])] = {
    val v = emb.select(col(id).as("vid"), transform(col(vec), _.cast("double")).as("v"))
    var cents: Array[(Int, Array[Double])] =
      v.orderBy("vid").limit(k).collect().zipWithIndex.map { case (r, i) =>
        (i + 1, r.getSeq[Double](1).toArray)
      }
    require(cents.nonEmpty, "kmeans needs a non-empty corpus")
    for (_ <- 1 to iters) {
      val dim = cents.head._2.length
      cents = v
        .select(NearestCentroid(col("v"), cents.map(_._2)).as("cid"), col("v"))
        .groupBy("cid")
        .agg(ElementwiseAgg.elementwiseDoubleSum(col("v"), dim).as("s"),
          count(lit(1)).as("n"))
        .collect()
        .map { r =>
          val n = r.getLong(2).toDouble
          (r.getInt(0), r.getSeq[Double](1).map(_ / n).toArray)
        }
        .sortBy(_._1)
    }
    cents
  }

  /** Deterministic-fold Lloyd iterations: identical
    * assignment/update/empty-cluster semantics to
    * [[kmeansLocalCentroids]], but each cluster's per-dim sum is a
    * SEQUENTIAL left fold over members in id order (collect the
    * cluster's member vectors, sort by id, fold first→last) — every
    * output double is then reproducible by an external engine with an
    * ordered-fold primitive (DuckDB: `list(x ORDER BY id)` +
    * `list_reduce`), which unlocks a full oracle for the ITERATIVE IVF
    * path ([[ivfIterOracleSql]]), not just the seeded twin. TEST-SCALE
    * ONLY: the per-cluster collect_list buffers whole clusters in one
    * aggregation buffer and the fold is an interpreted HOF;
    * [[kmeansLocalCentroids]]'s partial-agg sums stay the production
    * quantizer (order-free merge, bounded buffers), with FP merge order
    * the documented price of that scalability. */
  def kmeansDeterministicLocalCentroids(emb: DataFrame, id: String, vec: String,
                                        k: Int, iters: Int): Array[(Int, Array[Double])] = {
    val v = emb.select(col(id).as("vid"), transform(col(vec), _.cast("double")).as("v"))
    var cents: Array[(Int, Array[Double])] =
      v.orderBy("vid").limit(k).collect().zipWithIndex.map { case (r, i) =>
        (i + 1, r.getSeq[Double](1).toArray)
      }
    require(cents.nonEmpty, "kmeans needs a non-empty corpus")
    for (_ <- 1 to iters) {
      cents = v
        .select(NearestCentroid(col("v"), cents.map(_._2)).as("cid"), col("vid"), col("v"))
        .groupBy("cid")
        .agg(sort_array(collect_list(struct(col("vid"), col("v")))).as("ms"),
          count(lit(1)).as("n"))
        // left fold seeded with the FIRST member (not zeros): matches
        // DuckDB list_reduce, and avoids the 0.0 + (-0.0) sign edge
        .select(col("cid"),
          aggregate(slice(col("ms"), lit(2), size(col("ms")) - 1),
            col("ms").getItem(0).getField("v"),
            (acc, m) => zip_with(acc, m.getField("v"), _ + _)).as("s"),
          col("n"))
        .collect()
        .map { r =>
          val n = r.getLong(2).toDouble
          (r.getInt(0), r.getSeq[Double](1).map(_ / n).toArray)
        }
        .sortBy(_._1)
    }
    cents
  }

  /** IVF approximate top-k: coarse-quantize the corpus into `nlist`
    * centroid lists, probe the `nprobe` lists nearest the query, exact
    * cosine within the probed lists only. At scale the list id is the
    * partition/cluster key, so a probe scans ~nprobe/nlist of the corpus.
    * After k-means, probe selection is pure driver math on the k×dim
    * centroid matrix, and the search itself is ONE map-side
    * filter + TakeOrdered job over the corpus — no shuffle anywhere. */
  def ivfTopK(emb: DataFrame, id: String, vec: String, queryId: Long,
              k: Int, nlist: Int = 16, nprobe: Int = 4,
              iters: Int = 3): DataFrame = {
    val v = emb.select(col(id).as("vid"), transform(col(vec), _.cast("double")).as("v"))
    // POSITIONS into this matrix are the only centroid ids used below.
    // The stored cids from kmeansLocalCentroids can have GAPS once an
    // iteration drops an empty cluster; NearestCentroid emits 1-based
    // positions into the array it is given, so mixing the two id spaces
    // would silently probe the wrong lists.
    val centMatrix: Array[Array[Double]] = kmeansLocalCentroids(emb, id, vec, nlist, iters).map(_._2)
    val qv: Array[Double] = v.where(col("vid") === queryId)
      .select(col("v")).collect() match {
        case Array(r) => r.getSeq[Double](0).toArray
        case _ => throw new IllegalArgumentException(s"query id $queryId not found")
      }
    val probed: Array[Int] = centMatrix.zipWithIndex
      .map { case (c, i) => (i + 1, localCosine(c, qv)) }
      .sortBy { case (pos, sim) => (-sim, pos) }
      .take(nprobe).map(_._1)
    val qvLit = array(qv.map(lit): _*)
    v.where(NearestCentroid(col("v"), centMatrix)
        .isin(probed.map(Integer.valueOf): _*))
      .where(col("vid") =!= queryId)
      .select(col("vid").as(id), cosine(col("v"), qvLit).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col(id).asc)
      .limit(k)
  }

  /** [[ivfTopK]] with the DETERMINISTIC-FOLD quantizer
    * ([[kmeansDeterministicLocalCentroids]]): real Lloyd iterations AND
    * full oracle-checkability — every centroid double is an ordered
    * left fold an external engine replays exactly
    * ([[ivfIterOracleSql]]). Probe/scan machinery is identical to
    * [[ivfTopK]] (driver probe selection, map-side [[NearestCentroid]]
    * filter, TakeOrdered, zero corpus shuffle). */
  def ivfIterTopK(emb: DataFrame, id: String, vec: String, queryId: Long,
                  k: Int, nlist: Int = 16, nprobe: Int = 4,
                  iters: Int = 2): DataFrame = {
    val v = emb.select(col(id).as("vid"), transform(col(vec), _.cast("double")).as("v"))
    val centMatrix: Array[Array[Double]] =
      kmeansDeterministicLocalCentroids(emb, id, vec, nlist, iters).map(_._2)
    val qv: Array[Double] = v.where(col("vid") === queryId)
      .select(col("v")).collect() match {
        case Array(r) => r.getSeq[Double](0).toArray
        case _ => throw new IllegalArgumentException(s"query id $queryId not found")
      }
    val probed: Array[Int] = centMatrix.zipWithIndex
      .map { case (c, i) => (i + 1, localCosine(c, qv)) }
      .sortBy { case (pos, sim) => (-sim, pos) }
      .take(nprobe).map(_._1)
    val qvLit = array(qv.map(lit): _*)
    v.where(NearestCentroid(col("v"), centMatrix)
        .isin(probed.map(Integer.valueOf): _*))
      .where(col("vid") =!= queryId)
      .select(col("vid").as(id), cosine(col("v"), qvLit).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col(id).asc)
      .limit(k)
  }

  /** IVF top-k with FIXED seed centroids — the first `nlist` corpus
    * vectors by id — and ZERO Lloyd iterations. Identical probe/scan
    * machinery to [[ivfTopK]] (driver-side probe selection, map-side
    * [[NearestCentroid]] list filter, TakeOrdered — zero corpus
    * shuffle), but every number is reproducible by an external engine:
    * no partial-aggregation centroid sums, so the whole pipeline is
    * oracle-checkable ([[ivfSeededOracleSql]]). The iterative k-means
    * quantizer remains the quality path and keeps its spec coverage;
    * this is the deterministic twin the driver's hard signal can
    * verify. */
  /** The SEEDED-quantizer contract shared by [[ivfSeededTopK]] and
    * [[semDedup]] (and their generated oracle CTEs): centroids are the
    * first `nlist` vectors by id, double-cast, zero Lloyd iterations —
    * one copy so a tie-break or cast change can never break one
    * caller's oracle parity silently. `v` must carry (vid, v:
    * array<double>). */
  private[graft] def seededCentroids(v: DataFrame, nlist: Int): Array[Array[Double]] = {
    val cents = v.orderBy("vid").limit(nlist).collect().map(_.getSeq[Double](1).toArray)
    require(cents.nonEmpty, "seeded quantizer needs a non-empty corpus")
    cents
  }

  def ivfSeededTopK(emb: DataFrame, id: String, vec: String, queryId: Long,
                    k: Int, nlist: Int = 16, nprobe: Int = 4): DataFrame = {
    val v = emb.select(col(id).as("vid"), transform(col(vec), _.cast("double")).as("v"))
    val centMatrix: Array[Array[Double]] = seededCentroids(v, nlist)
    val qv: Array[Double] = v.where(col("vid") === queryId)
      .select(col("v")).collect() match {
        case Array(r) => r.getSeq[Double](0).toArray
        case _ => throw new IllegalArgumentException(s"query id $queryId not found")
      }
    val probed: Array[Int] = centMatrix.zipWithIndex
      .map { case (c, i) => (i + 1, localCosine(c, qv)) }
      .sortBy { case (pos, sim) => (-sim, pos) }
      .take(nprobe).map(_._1)
    val qvLit = array(qv.map(lit): _*)
    v.where(NearestCentroid(col("v"), centMatrix)
        .isin(probed.map(Integer.valueOf): _*))
      .where(col("vid") =!= queryId)
      .select(col("vid").as(id), cosine(col("v"), qvLit).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col(id).asc)
      .limit(k)
  }

  /** Product-quantization ADC top-k — the compression half of IVF-PQ,
    * the standard ANN design past the point where raw vectors fit the
    * scan budget (Jégou, Douze, Schmid 2011): split each vector into
    * `m` subspaces, learn a per-subspace codebook (the
    * deterministic-fold Lloyd of [[kmeansDeterministicLocalCentroids]],
    * so every codebook double is oracle-replayable), and score docs
    * ASYMMETRICALLY — the query stays exact while each doc contributes
    * `Σ_s lut[s][code_s]`, where `lut[s][c] = ⟨query_s, codeword_c⟩` is
    * a DRIVER-computed literal table (m·ks doubles).
    *
    * Scale shape: per-row work is m map-side [[NearestCentroid]]
    * assignments + m literal-array lookups + (m−1) adds — no shuffle,
    * one scan into TakeOrderedAndProject. At corpus scale the codes are
    * a PERSISTED byte artifact (m·log₂(ks) bits per doc — a 64-float
    * vector compresses to m bytes) and the scan reads only codes; here
    * they are derived inline because the fixture stores raw vectors.
    * Training is m small k-means over slices (driver holds m·ks·(dim/m)
    * doubles — the kmeans trade, documented there); the ORDERED-fold
    * trainer is what buys the bit-exact oracle and dominates this
    * query's bench cost — a production deployment trains with
    * [[kmeansLocalCentroids]] (partial-agg sums, order-free merge) and
    * keeps the identical scoring plan. Returns (id, adc_dot): top `k`
    * by approximate dot, ties by id. */
  def pqTopK(emb: DataFrame, id: String, vec: String, queryId: Long,
             k: Int, m: Int = DefaultM, ks: Int = DefaultKs, iters: Int = 2,
             dim: Int = OracleDim): DataFrame = {
    require(m >= 1 && dim % m == 0, s"dim=$dim must divide into m=$m subspaces")
    val sub = dim / m
    val mkV = doubleVecFactory(emb, id, vec)
    val v = mkV()
    val books = trainPqBooks(mkV, m, ks, iters, sub)
    val qv = collectQueryVector(v, queryId)
    val lut = pqLut(books, qv, sub)
    // per-row codes are derived inline (NearestCentroid per subspace);
    // the persisted-artifact path (pqTrain/pqProbeCodes) scores the SAME
    // lut over STORED codes instead — SimilaritySpec pins equality
    val score = (0 until m).map { s =>
      element_at(array(lut(s).map(lit): _*),
        NearestCentroid(slice(col("v"), s * sub + 1, sub), books(s)))
    }.reduceLeft(_ + _)
    v.where(col("vid") =!= queryId)
      .select(col("vid").as(id), score.as("adc_dot"))
      .orderBy(col("adc_dot").desc, col(id).asc)
      .limit(k)
  }

  /** Per-subspace deterministic-fold codebooks — the trainer shared by
    * [[pqTopK]], [[pqTrain]] and [[ivfPqTopK]] (one copy so the fused
    * path, the persisted artifacts and the IVF composition can never
    * train differently). `mkV` BUILDS a fresh (vid, v: array<double>)
    * frame per call — a factory, not a frame, and that is the whole
    * point (r18, guide §2.6):
    *
    * The m subspace trainings are independent, so they overlap on
    * driver threads ([[DriverParallel]]) — each training is a chain of
    * tiny collect jobs whose latency is scheduling, not data, and
    * overlapping them fills the scheduler instead of serializing ~3m
    * job round-trips. r17 tried this with a SHARED `v` frame and
    * reverted it: higher-order-function lambdas hold mutable
    * `NamedLambdaVariable` state and `ConvertToLocalRelation` evaluates
    * projections driver-side during each thread's optimization, so
    * threads racing on one shared expression tree corrupted seed
    * vectors (SimilaritySpec determinism failures on toDF fixtures).
    * The factory removes the shared tree: every thread constructs its
    * OWN `transform`/`slice` nodes; only the analyzed SOURCE plan
    * underneath is shared, which carries no lambda state. Per-subspace
    * arithmetic is byte-identical to the sequential shape — same jobs,
    * same collects, same fold order — so trained books cannot differ
    * (SimilaritySpec pins run-to-run determinism). */
  private def trainPqBooks(mkV: () => DataFrame, m: Int, ks: Int, iters: Int,
                           sub: Int): Array[Array[Array[Double]]] = {
    def trainOne(s: Int): Array[Array[Double]] =
      kmeansDeterministicLocalCentroids(
        mkV().select(col("vid"), slice(col("v"), s * sub + 1, sub).as("vs")),
        "vid", "vs", ks, iters).map(_._2)
    if (m == 1) Array(trainOne(0))
    else {
      // force the shared source's analysis ONCE on the caller thread
      // (threads then only analyze their own fresh projections)
      val spark = mkV().sparkSession
      DriverParallel.run(spark, (0 until m).map(s => () => trainOne(s)))
        .toArray
    }
  }

  /** The (vid, v: array<double>) view builder every PQ path trains and
    * scores over — ONE definition so the factory the trainer gets and
    * the frame the caller scans can never drift. */
  private def doubleVecFactory(emb: DataFrame, id: String, vec: String,
                               normalize: Boolean = false): () => DataFrame =
    () => {
      val v0 = emb.select(col(id).as("vid"),
        transform(col(vec), _.cast("double")).as("v"))
      if (normalize) unitNormFrame(v0) else v0
    }

  /** ADC lookup tables: `lut[s][c] = ⟨query slice s, codeword c⟩`,
    * computed on the driver with the same left-accumulator loop the
    * executors use — bit-identical; subspace scores later add in
    * subspace order (reduceLeft), the oracle spells the identical
    * left-associated chain. */
  private def pqLut(books: Array[Array[Array[Double]]], qv: Array[Double],
                    sub: Int): Array[Array[Double]] =
    Array.tabulate(books.length) { s =>
      books(s).map(localDot(qv.slice(s * sub, (s + 1) * sub), _))
    }

  private def collectQueryVector(v: DataFrame, queryId: Long): Array[Double] =
    v.where(col("vid") === queryId).select(col("v")).collect() match {
      case Array(r) => r.getSeq[Double](0).toArray
      case _ => throw new IllegalArgumentException(s"query id $queryId not found")
    }

  // ---- cosine-faithful ADC: normalize at index time ------------------

  /** Unit-normalize the `v` column of a (vid, v) frame — FAISS's
    * cosine-via-inner-product discipline: after normalization, a dot
    * product IS the cosine, so ADC ranking stops preferring large-norm
    * vectors over direction-aligned ones (the defect SCALE.md's
    * `ann_recall` row measured on raw vectors: adc recall FALLS as
    * nprobe admits more large-norm false positives). Zero vectors pass
    * through unscaled (the cosine guard's sibling). The whole
    * normalization is ONE codegen'd expression
    * ([[VectorExpressions.unitNorm]], r18): the previous `_nrm` column
    * + `transform` lambda re-evaluated the norm dot per ELEMENT once
    * predicate pushdown inlined it into a
    * consumer (measured: one 1.48 s scan task on q_sim_ivfpq_cos). The
    * fold order (left-to-right x·x, sqrt, per-element divide, zero
    * passthrough) is unchanged, so normalized values stay bit-identical
    * engine-to-oracle — `VectorExpressionsSpec` pins expression ≡ HOF. */
  private def unitNormFrame(v: DataFrame,
                            cols: (String, String) = ("vid", "v")): DataFrame = {
    val (idc, vc) = cols
    v.select(col(idc), VectorExpressions.unitNorm(col(vc)).as(vc))
  }

  /** The driver-side twin of [[unitNormFrame]] for a collected query
    * vector — same op sequence (left-fold x·x, sqrt, per-element
    * divide), so a stored-artifact probe's normalized query is
    * bit-identical to the fused path's. */
  private def localUnitNorm(a: Array[Double]): Array[Double] = {
    val nrm = math.sqrt(localDot(a, a))
    if (nrm == 0) a else a.map(_ / nrm)
  }

  // ---- scalar quantization (SQ8) --------------------------------------

  /** SCALAR QUANTIZATION top-k — the third member of the
    * vector-compression family (FAISS's `SQ8` / the int8 columns every
    * vector store ships): each vector stores a per-vector scale
    * (max |x| / 127) plus one int8 code per dimension (4 dims per
    * stored float32 — 8× vs raw doubles), and scoring is ASYMMETRIC
    * like ADC: the query stays exact, each doc contributes
    * `scale · Σ_i round(x_i/scale) · q_i`. Against PQ: 8 bits/dim vs
    * m·log₂ks bits/vector — far denser codes, no training step, no
    * codebook artifact; the right tool when memory allows ~1 byte/dim
    * and recall must stay near-exact. Rounding is spelled
    * `floor(x/scale + 0.5)` (half toward +∞) because `round()` differs
    * across engines (half-up vs banker's); the oracle replays the same
    * floor. Zero vectors (scale 0) score 0 — the cosine guard's
    * sibling. Scale shape: a pure map-side projection into
    * TakeOrderedAndProject — no shuffle, no joins; here codes derive
    * inline (the fixture stores raw vectors), the persisted twin
    * ([[sqWriteArtifacts]]/[[sqProbeFromDir]]) scans stored int8 codes
    * only. Returns (id, sq_dot). */
  def sqTopK(emb: DataFrame, id: String, vec: String, queryId: Long,
             k: Int, dim: Int = OracleDim): DataFrame = {
    val v = emb.select(col(id).as("vid"),
      transform(col(vec), _.cast("double")).as("v"))
    val qv = collectQueryVector(v, queryId)
    sqScore(v, qv)
      .where(col("vid") =!= queryId)
      .select(col("vid").as(id), col("sq_dot"))
      .orderBy(col("sq_dot").desc, col(id).asc)
      .limit(k)
  }

  /** The ONE SQ8 quantize-and-score projection shared by the fused and
    * stored paths (the [[exactCosineRerank]] single-definition
    * discipline): input (vid, v), output (vid, sq_dot). */
  private def sqScore(v: DataFrame, qv: Array[Double]): DataFrame = {
    val qvLit = array(qv.map(lit): _*)
    val maxabs = aggregate(col("v"), lit(0.0),
      (acc, x) => greatest(acc, abs(x)))
    // Spark floor returns LONG; the scoring fold wants doubles (the
    // values are integral either way, so the cast is exact)
    val codes = transform(col("v"),
      x => floor(x / col("_s") + lit(0.5)).cast("double"))
    v.withColumn("_s", maxabs / lit(127.0))
      .select(col("vid"),
        when(col("_s") === 0, lit(0.0))
          .otherwise(col("_s") *
            VectorExpressions.dotProduct(codes, qvLit)).as("sq_dot"))
  }

  /** Persist the SQ8 artifact: `dir/codes` = (vid, s, code array<tinyint>)
    * — 1 byte/dim plus one double, derived in one map-side pass. */
  def sqWriteArtifacts(emb: DataFrame, id: String, vec: String,
                       dir: String): Unit = {
    val v = emb.select(col(id).as("vid"),
      transform(col(vec), _.cast("double")).as("v"))
    val maxabs = aggregate(col("v"), lit(0.0),
      (acc, x) => greatest(acc, abs(x)))
    v.withColumn("s", maxabs / lit(127.0))
      .select(col("vid"), col("s"),
        transform(col("v"), x =>
          when(col("s") === 0, lit(0L))
            .otherwise(floor(x / col("s") + lit(0.5)))
            .cast("tinyint"))
          .as("code"))
      .write.mode("overwrite").parquet(s"$dir/codes")
  }

  /** SQ8 serving from the persisted codes — zero raw-vector reads for
    * the scored corpus (the query vector alone comes from `emb`):
    * score = `s · Σ code_i · q_i`, the same doubles as the fused path
    * because `code_i` is the identical floor value ([[graft.SimilaritySpec]]
    * pins it; `q_sim_sq_probe` shares `q_sim_sq`'s oracle). */
  def sqProbeFromDir(emb: DataFrame, id: String, vec: String, dir: String,
                     queryId: Long, k: Int): DataFrame = {
    val spark = emb.sparkSession
    val v = emb.select(col(id).as("vid"),
      transform(col(vec), _.cast("double")).as("v"))
    val qv = collectQueryVector(v, queryId)
    val qvLit = array(qv.map(lit): _*)
    readCodesRetained(spark, dir)
      .where(col("vid") =!= queryId)
      .select(col("vid").as(id),
        when(col("s") === 0, lit(0.0))
          .otherwise(col("s") * VectorExpressions.dotProduct(
            transform(col("code"), _.cast("double")), qvLit)).as("sq_dot"))
      .orderBy(col("sq_dot").desc, col(id).asc)
      .limit(k)
  }

  /** SQ8 + exact re-rank — the recall-recovery tail on the densest
    * codes: the int8 shortlist re-scored by exact cosine, the
    * [[ivfPqRerankTopK]] contract. */
  def sqRerankTopK(emb: DataFrame, id: String, vec: String, queryId: Long,
                   k: Int, shortlist: Int = 50,
                   dim: Int = OracleDim): DataFrame = {
    require(shortlist >= k, s"shortlist=$shortlist must cover k=$k")
    val cand = sqTopK(emb, id, vec, queryId, shortlist, dim).select(col(id))
    exactCosineRerank(cand, emb, id, vec, queryId, k)
  }

  /** Oracle for [[sqTopK]] (and [[sqProbeFromDir]], which stores the
    * identical floor codes): unrolled per-element max-abs, the same
    * `floor(x/s + 0.5)` half-up rounding, the same left-associated
    * code·query chain scaled once. */
  def sqOracleSql(queryId: Long, k: Int, dim: Int = OracleDim): String = {
    val maxabs = (0 until dim)
      .map(i => s"abs(CAST(embedding[${i + 1}] AS DOUBLE))")
      .mkString("greatest(", ", ", ")")
    val chain = (0 until dim).map(i =>
      s"floor(CAST(e.embedding[${i + 1}] AS DOUBLE) / e.s + 0.5) * " +
        s"CAST(q.qe[${i + 1}] AS DOUBLE)").mkString(" + ")
    s"""WITH es AS (SELECT vec_id, embedding, $maxabs / 127.0 AS s
       |            FROM embeddings),
       |q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = $queryId)
       |SELECT e.vec_id,
       |       CASE WHEN e.s = 0 THEN CAST(0.0 AS DOUBLE)
       |            ELSE e.s * ($chain) END AS sq_dot
       |FROM es e CROSS JOIN q
       |WHERE e.vec_id <> $queryId
       |ORDER BY sq_dot DESC, e.vec_id ASC LIMIT $k""".stripMargin
  }

  /** Oracle for [[sqRerankTopK]]: the SQ shortlist re-scored by the
    * exact unrolled cosine. */
  def sqRerankOracleSql(queryId: Long, k: Int, shortlist: Int = 50,
                        dim: Int = OracleDim): String =
    s"""SELECT t.vec_id, ${cosineSql("e.embedding", "q.qe", dim)} AS cos
       |FROM (${sqOracleSql(queryId, shortlist, dim)}) t
       |JOIN embeddings e ON e.vec_id = t.vec_id
       |CROSS JOIN (SELECT embedding AS qe FROM embeddings
       |            WHERE vec_id = $queryId) q
       |ORDER BY cos DESC, t.vec_id ASC LIMIT $k""".stripMargin

  /** PQ TRAINING AS A PERSISTED ARTIFACT (r7 VERDICT item 4) — the
    * production shape: train once, write codebooks + per-vector codes as
    * tables, probe many times with ZERO training jobs. Returns
    * (codebooks, codes):
    *  - codebooks: (s int, pos int, codeword array<double>) — m·ks rows
    *    of dim/m doubles; tiny metadata, broadcast-read at probe time.
    *  - codes: (vid, code array<int>) — `code[s+1]` is the 1-based
    *    codeword position of subspace `s`; the m·log₂(ks)-bit compressed
    *    representation (a 64-float vector → m small ints ≈ m bytes on
    *    parquet), the only thing an ADC probe scans.
    * Scale shape: codes derive in ONE map-side pass (m [[NearestCentroid]]
    * assignments per row, no shuffle); writing them partitions like any
    * table write. */
  def pqTrain(emb: DataFrame, id: String, vec: String, m: Int = DefaultM,
              ks: Int = DefaultKs, iters: Int = 2,
              dim: Int = OracleDim): (DataFrame, DataFrame) = {
    require(m >= 1 && dim % m == 0, s"dim=$dim must divide into m=$m subspaces")
    val sub = dim / m
    val spark = emb.sparkSession
    import spark.implicits._
    val mkV = doubleVecFactory(emb, id, vec)
    val v = mkV()
    val books = trainPqBooks(mkV, m, ks, iters, sub)
    val codebooks = books.zipWithIndex.flatMap { case (book, s) =>
      book.zipWithIndex.map { case (cw, c) => (s, c + 1, cw.toSeq) }
    }.toSeq.toDF("s", "pos", "codeword")
    val codes = v.select(col("vid"), array((0 until m).map { s =>
      NearestCentroid(slice(col("v"), s * sub + 1, sub), books(s))
    }: _*).as("code"))
    (codebooks, codes)
  }

  /** [[pqTrain]] to disk: `dir/codebooks` + `dir/codes` parquet. */
  def pqWriteArtifacts(emb: DataFrame, id: String, vec: String, dir: String,
                       m: Int = DefaultM, ks: Int = DefaultKs, iters: Int = 2,
                       dim: Int = OracleDim): Unit = {
    val (codebooks, codes) = pqTrain(emb, id, vec, m, ks, iters, dim)
    codebooks.write.mode("overwrite").parquet(s"$dir/codebooks")
    codes.write.mode("overwrite").parquet(s"$dir/codes")
  }

  /** ADC top-k over STORED codes — the probe half of the persisted-PQ
    * pattern: collect the m·ks codebook rows (bounded metadata), build
    * the query's lookup tables on the driver, and scan ONLY the codes
    * table — per row m literal-array lookups + (m−1) adds, no raw
    * vectors read, no training job, no shuffle; one scan into
    * TakeOrderedAndProject. Bit-identical to [[pqTopK]]'s fused scoring
    * for the same corpus/params ([[graft.SimilaritySpec]] pins it):
    * stored codes are the same NearestCentroid assignments, the lut the
    * same driver loop, the sum the same left-associated chain. */
  def pqProbeCodes(codebooks: DataFrame, codes: DataFrame, qv: Array[Double],
                   k: Int, idOut: String = "vec_id",
                   excludeId: Option[Long] = None): DataFrame = {
    val collected = codebooks.select(col("s"), col("pos"), col("codeword"))
      .collect()
    require(collected.nonEmpty, "empty codebooks artifact")
    val m = collected.map(_.getInt(0)).max + 1
    val books: Array[Array[Array[Double]]] = Array.tabulate(m) { s =>
      collected.filter(_.getInt(0) == s).sortBy(_.getInt(1))
        .map(_.getSeq[Double](2).toArray)
    }
    val sub = books.head.head.length
    val lut = pqLut(books, qv, sub)
    val score = (0 until m).map { s =>
      element_at(array(lut(s).map(lit): _*), element_at(col("code"), s + 1))
    }.reduceLeft(_ + _)
    // width guard: codes written with a DIFFERENT m than these
    // codebooks' would silently score NULL (element_at past the end) —
    // mismatched artifacts must fail loudly, like the sig-width guard
    // in Dedup.minhashPairsFromSignatures
    val checked = when(size(col("code")) === m, score)
      .otherwise(raise_error(concat(
        lit(s"pq codes artifact width "), size(col("code")).cast("string"),
        lit(s" does not match codebooks m=$m"))).cast("double"))
    excludeId.fold(codes)(q => codes.where(col("vid") =!= q))
      .select(col("vid").as(idOut), checked.as("adc_dot"))
      .orderBy(col("adc_dot").desc, col(idOut).asc)
      .limit(k)
  }

  /** [[pqProbeCodes]] from the [[pqWriteArtifacts]] layout, with the
    * query vector looked up in the corpus by id. */
  def pqProbeFromDir(emb: DataFrame, id: String, vec: String, dir: String,
                     queryId: Long, k: Int): DataFrame = {
    val spark = emb.sparkSession
    val v = emb.select(col(id).as("vid"), transform(col(vec), _.cast("double")).as("v"))
    pqProbeCodes(readArtifact(spark, s"$dir/codebooks"),
      readCodesRetained(spark, dir),
      collectQueryVector(v, queryId), k, idOut = id, excludeId = Some(queryId))
  }

  /** BATCH ANN JOIN — top-k approximate neighbors for EVERY query
    * vector at once: the retrieval shape a training-data pipeline needs
    * (cross-dataset near-dup sweeps, hard-negative mining, corpus
    * matching), where the single-query probes above are the serving
    * shape. IVF composition, all pieces already oracle-verified:
    *  - coarse lists: the SEEDED quantizer on the CORPUS (first `nlist`
    *    vectors by id — deterministic), corpus rows assigned map-side
    *    by [[NearestCentroid]];
    *  - query routing: each query's `nprobe` nearest centroids computed
    *    AS EXPRESSIONS — per-centroid [[VectorExpressions.CosineSim]]
    *    (the codegen'd sequential loop, bit-identical to the driver's
    *    [[localCosine]]) ranked by the same (−sim, pos) order as
    *    [[probedLists]] — then exploded to (qid, list): nprobe rows per
    *    query, no driver collect of the query set;
    *  - candidate join ([[listJoin]], size-gated): under the broadcast
    *    gate the routed query side BROADCASTS (nprobe id+vector rows
    *    per query), so the corpus scan stays map-side with ZERO corpus
    *    shuffle; past it (corpus-scale query sets) both sides
    *    hash-partition on `list` into a spill-safe sort-merge join —
    *    candidates ≈ nprobe/nlist of the corpus per query either way;
    *  - exact cosine on candidates + per-query top-k: ONE shuffle,
    *    keyed by qid, sized by the CANDIDATE set — never the corpus.
    * Self-pairs (equal ids) are excluded so a corpus can query itself.
    * Output: (query_id, `id`, cos_sim), top `k` per query, ties by id.
    *
    * SIZE-GATED candidate join (the r9 scale boundary): the routed
    * query side (nprobe id+vector rows per query) broadcasts only
    * while its estimated bytes fit `maxBroadcastBytes`; past that —
    * the corpus-self-sweep shape, where a broadcast is a
    * driver/executor OOM — both sides hash-partition on `list` into a
    * spill-safe sort-merge join instead ([[listJoin]]). Results are
    * plan-independent (same join condition, same qid top-k); the spec
    * pins shuffled ≡ broadcast. */
  def annJoin(corpus: DataFrame, queries: DataFrame, id: String,
              vec: String, k: Int, nlist: Int = 16,
              nprobe: Int = 4,
              maxBroadcastBytes: Long = DefaultMaxBroadcastBytes): DataFrame =
    rankPerQuery(
      annCandidates(corpus, queries, id, vec, nlist, nprobe, maxBroadcastBytes),
      k, id)

  /** HARD-NEGATIVE mining for contrastive/embedding-model training —
    * [[annJoin]]'s candidate machinery with a similarity BAND instead
    * of a plain top-k: for each anchor, the top `m` neighbors whose
    * cosine lands in [lo, hi). Above `hi` a candidate is presumed a
    * positive/near-duplicate (training on it as a negative would
    * punish correct geometry); below `lo` it is an easy negative the
    * model already separates. The band is where the gradient is. Both
    * cut tests run on the SAME bit-identical cosine the oracle
    * computes, so band membership can never straddle engines.
    *
    * Scale shape: identical to [[annJoin]] — routed queries broadcast
    * (or list-keyed sort-merge past the gate), zero corpus shuffle,
    * the band filter prunes BEFORE the per-anchor rank so the top-k
    * shuffle carries only in-band candidates. */
  def hardNegatives(corpus: DataFrame, queries: DataFrame, id: String,
                    vec: String, m: Int, lo: Double, hi: Double,
                    nlist: Int = 16, nprobe: Int = 4,
                    maxBroadcastBytes: Long = DefaultMaxBroadcastBytes): DataFrame = {
    require(lo < hi, s"empty band [$lo, $hi)")
    rankPerQuery(
      annCandidates(corpus, queries, id, vec, nlist, nprobe, maxBroadcastBytes)
        .where(col("cos_sim") >= lo && col("cos_sim") < hi),
      m, id)
  }

  /** The shared candidate frame of [[annJoin]] and [[hardNegatives]]:
    * (qid, vid, cos_sim) for every routed-list candidate pair, self
    * matches dropped. One copy of the route/assign/size-gated-join
    * composition — a per-operator copy would let the two paths drift
    * on the routing or the gate. */
  private def annCandidates(corpus: DataFrame, queries: DataFrame,
                            id: String, vec: String, nlist: Int, nprobe: Int,
                            maxBroadcastBytes: Long): DataFrame = {
    val v = corpus.select(col(id).as("vid"),
      transform(col(vec), _.cast("double")).as("v"))
    val q = queries.select(col(id).as("qid"),
      transform(col(vec), _.cast("double")).as("qv"))
    val coarse = seededCentroids(v, nlist)
    val routed = routeQueries(q, coarse, nprobe)
    val assigned = v.select(col("vid"), col("v"),
      NearestCentroid(col("v"), coarse).as("list"))
    listJoin(assigned, routed, q, nprobe, coarse.head.length, maxBroadcastBytes)
      .where(col("vid") =!= col("qid"))
      .select(col("qid"), col("vid"),
        cosine(col("v"), col("qv")).as("cos_sim"))
  }

  /** Per-anchor (cos desc, id asc) top-k over a candidate frame. */
  private def rankPerQuery(cand: DataFrame, k: Int, id: String): DataFrame =
    cand
      .withColumn("_rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("qid")
          .orderBy(col("cos_sim").desc, col("vid").asc)))
      .where(col("_rn") <= k).drop("_rn")
      .select(col("qid").as("query_id"), col("vid").as(id), col("cos_sim"))
      .orderBy(col("query_id"), col("cos_sim").desc, col(id))

  /** Broadcast gate default: stay safely inside Spark's own 10 MB
    * autoBroadcast comfort zone; a routed side past this is exactly the
    * non-broadcastable-small-side scale-killer. */
  val DefaultMaxBroadcastBytes: Long = 8L << 20

  /** The candidate join of both batch-ANN paths, size-gated: estimate
    * the routed side as `|queries| × nprobe × (vector + id + list +
    * row overhead)` — ONE count job over the (tiny relative to the
    * join) query set — and broadcast under the gate; over it,
    * hash-partition BOTH sides on `list` into a sort-merge join
    * (spill-safe, no driver materialization; at production scale a
    * codes table bucketed by `list` elides its side of the exchange —
    * proven mechanically in `BucketedJoinSpec`: the bucketed layout
    * joins with ONE list exchange, the flat layout with two).
    * The estimate intentionally over-counts (uncompressed in-memory
    * widths) — erring toward the shuffle is the safe direction. */
  private def listJoin(corpusSide: DataFrame, routed: DataFrame,
                       q: DataFrame, nprobe: Int, dim: Int,
                       maxBroadcastBytes: Long): DataFrame = {
    // bounded existence check, not a full count: the gate only needs
    // "more than maxRows queries?", so it scans at most maxRows+1 rows —
    // a corpus-scale query side (the self-sweep shape) never pays a
    // full count job just to learn it is over the threshold
    val maxRows = maxBroadcastBytes / (nprobe * (dim * 8L + 32L))
    val probe = math.min(maxRows + 1, Int.MaxValue.toLong).toInt
    if (q.limit(probe).count() <= maxRows)
      corpusSide.join(broadcast(routed), Seq("list"))
    else
      corpusSide.join(routed.hint("merge"), Seq("list"))
  }

  /** Per-query probe routing AS EXPRESSIONS — [[annJoin]]'s query side,
    * shared with the artifact twin: cosine to each centroid literal
    * (the codegen'd sequential [[VectorExpressions.CosineSim]],
    * bit-identical to the driver [[localCosine]] loop), ranked by the
    * same (−sim, pos) order as [[probedLists]], exploded to
    * (qid, qv, list) — `nprobe` rows per query, no driver collect of
    * the query set. */
  private[graft] def routeQueries(q: DataFrame, coarse: Array[Array[Double]],
                           nprobe: Int): DataFrame = {
    require(nprobe >= 1 && nprobe <= coarse.length,
      s"nprobe=$nprobe must be in [1, ${coarse.length}]")
    val simPos = (1 to coarse.length).map { pos =>
      struct(cosine(col("qv"), array(coarse(pos - 1).map(lit): _*)).as("cs"),
        lit(pos).as("pos"))
    }
    val ranked = array_sort(array(simPos: _*), (l, r) =>
      when(l.getField("cs") > r.getField("cs"), -1)
        .when(l.getField("cs") < r.getField("cs"), 1)
        .when(l.getField("pos") < r.getField("pos"), -1)
        .otherwise(1))
    q.select(col("qid"), col("qv"),
      explode(transform(slice(ranked, 1, nprobe),
        s => s.getField("pos"))).as("list"))
  }

  /** BATCH retrieval over the PERSISTED index — [[annJoin]]'s query-set
    * shape composed with [[ivfPqWriteArtifacts]]'s storage: route every
    * query against the stored coarse centroids, then ADC-score the
    * stored codes in the probed lists, all in ONE plan with zero
    * training jobs; under the size gate ([[listJoin]]) the routed
    * queries broadcast and the codes table never shuffles — the only
    * exchange is the candidate-sized per-query top-k — while a
    * corpus-scale query set shifts to the list-partitioned sort-merge
    * fallback. With a query COLUMN the [[pqProbeCodes]] lookup table
    * cannot be a driver literal, so each subspace instead contributes
    * `DotProduct(codebook[s][code_s], qv_s)` with the codebook as a
    * nested array literal — the same sequential loop, bit-identical per
    * query to the single-query probe ([[graft.SimilaritySpec]] pins
    * it). Output: (query_id, `id`, adc_dot), top `k` per query. */
  def annJoinPqFromDir(queries: DataFrame, id: String, vec: String,
                       dir: String, k: Int, nprobe: Int = 4,
                       maxBroadcastBytes: Long = DefaultMaxBroadcastBytes): DataFrame = {
    val spark = queries.sparkSession
    val q0 = queries.select(col(id).as("qid"),
      transform(col(vec), _.cast("double")).as("qv"))
    // batch queries against a normalized index normalize in-frame —
    // same meta-driven rule as the single-query probe
    val q = if (artifactNormalized(spark, dir))
      unitNormFrame(q0, cols = ("qid", "qv")) else q0
    val coarse = readArtifact(spark, s"$dir/coarse").collect()
      .sortBy(_.getInt(0)).map(_.getSeq[Double](1).toArray)
    require(coarse.nonEmpty, "empty coarse-centroid artifact")
    val books = readBooks(spark, dir)
    val m = books.length
    val sub = books.head.head.length
    val routed = routeQueries(q, coarse, nprobe)
    val bookLits = books.map(book =>
      array(book.map(cw => array(cw.map(lit): _*)): _*))
    val score = (0 until m).map { s =>
      VectorExpressions.dotProduct(
        element_at(bookLits(s), element_at(col("code"), s + 1)),
        slice(col("qv"), s * sub + 1, sub))
    }.reduceLeft(_ + _)
    // the same codes-width guard as pqProbeCodes: mismatched artifacts
    // fail loudly, never null-rank
    val checked = when(size(col("code")) === m, score)
      .otherwise(raise_error(concat(
        lit(s"pq codes artifact width "), size(col("code")).cast("string"),
        lit(s" does not match codebooks m=$m"))).cast("double"))
    listJoin(readCodesRetained(spark, dir), routed, q, nprobe,
        m * sub, maxBroadcastBytes)
      .where(col("vid") =!= col("qid"))
      .select(col("qid"), col("vid"), checked.as("adc_dot"))
      .withColumn("_rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("qid")
          .orderBy(col("adc_dot").desc, col("vid").asc)))
      .where(col("_rn") <= k).drop("_rn")
      .select(col("qid").as("query_id"), col("vid").as(id), col("adc_dot"))
      .orderBy(col("query_id"), col("adc_dot").desc, col(id))
  }

  /** Oracle for [[annJoin]] with the query set `vec_id < nq` drawn from
    * the corpus itself: the [[ivfSeededOracleSql]] CTE machinery with
    * the single query row generalized to a query TABLE — per-query
    * probe ranking and per-query top-k are the same window, partitioned
    * by qid. */
  /** [[annCandidates]]' oracle twin — the routed-candidate CTE chain
    * ending in `cand (query_id, vec_id, cos_sim)`, shared verbatim by
    * the plain top-k and the hard-negative band tails. */
  /** The coarse-assignment CTE chain `seeds, sim, asg (vec_id, pos)` —
    * the oracle twin of [[seededCentroids]] + [[NearestCentroid]],
    * shared by the candidate CTEs and the semantic-pack oracle. */
  private[graft] def coarseAsgCtes(nlist: Int, dim: Int = OracleDim): String =
    s"""WITH seeds AS (
       |  SELECT row_number() OVER (ORDER BY vec_id) AS pos, embedding AS ce
       |  FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT $nlist)),
       |sim AS (
       |  SELECT e.vec_id, s.pos, ${cosineSql("e.embedding", "s.ce", dim)} AS cs
       |  FROM embeddings e CROSS JOIN seeds s),
       |asg AS (
       |  SELECT vec_id, pos FROM (
       |    SELECT vec_id, pos,
       |           row_number() OVER (PARTITION BY vec_id ORDER BY cs DESC, pos ASC) AS rn
       |    FROM sim) WHERE rn = 1)""".stripMargin

  private def annCandidateCtes(nq: Long, nlist: Int, nprobe: Int,
                               dim: Int): String =
    s"""${coarseAsgCtes(nlist, dim)},
       |q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id < $nq),
       |qsim AS (
       |  SELECT q.qid, s.pos, ${cosineSql("q.qe", "s.ce", dim)} AS cs
       |  FROM q CROSS JOIN seeds s),
       |probe AS (
       |  SELECT qid, pos FROM (
       |    SELECT qid, pos,
       |           row_number() OVER (PARTITION BY qid ORDER BY cs DESC, pos ASC) AS rn
       |    FROM qsim) WHERE rn <= $nprobe),
       |cand AS (
       |  SELECT q.qid AS query_id, e.vec_id,
       |         ${cosineSql("e.embedding", "q.qe", dim)} AS cos_sim
       |  FROM embeddings e
       |  JOIN asg ON asg.vec_id = e.vec_id
       |  JOIN probe ON probe.pos = asg.pos
       |  JOIN q ON q.qid = probe.qid
       |  WHERE e.vec_id <> q.qid)""".stripMargin

  def annJoinOracleSql(nq: Long, k: Int, nlist: Int = 16, nprobe: Int = 4,
                       dim: Int = OracleDim): String =
    s"""${annCandidateCtes(nq, nlist, nprobe, dim)}
       |SELECT query_id, vec_id, cos_sim FROM (
       |  SELECT cand.*, row_number() OVER (
       |    PARTITION BY query_id ORDER BY cos_sim DESC, vec_id ASC) AS rn
       |  FROM cand)
       |WHERE rn <= $k
       |ORDER BY query_id, cos_sim DESC, vec_id""".stripMargin

  /** The [[hardNegatives]] oracle: the shared candidate CTEs with the
    * band predicate applied BEFORE the per-anchor rank (exactly where
    * the engine filters). `lo`/`hi` splice as decimal literals — both
    * engines parse them to the same nearest double, and the cosine
    * they cut on is already bit-identical. */
  def hardNegativesOracleSql(nq: Long, m: Int, lo: String, hi: String,
                             nlist: Int = 16, nprobe: Int = 4,
                             dim: Int = OracleDim): String =
    s"""${annCandidateCtes(nq, nlist, nprobe, dim)}
       |SELECT query_id, vec_id, cos_sim FROM (
       |  SELECT cand.*, row_number() OVER (
       |    PARTITION BY query_id ORDER BY cos_sim DESC, vec_id ASC) AS rn
       |  FROM cand
       |  WHERE cos_sim >= $lo AND cos_sim < $hi)
       |WHERE rn <= $m
       |ORDER BY query_id, cos_sim DESC, vec_id""".stripMargin

  /** Coarse-list probe selection — the driver loop shared by the fused
    * [[ivfPqTopK]] and the artifact probe [[ivfPqProbeFromDir]], so the
    * two paths can never rank lists differently: nearest `nprobe`
    * 1-based list positions by [[localCosine]], position ascending on
    * ties. */
  private def probedLists(coarse: Array[Array[Double]], qv: Array[Double],
                          nprobe: Int): Array[Int] =
    coarse.zipWithIndex
      .map { case (c, i) => (i + 1, localCosine(c, qv)) }
      .sortBy { case (pos, sim) => (-sim, pos) }
      .take(nprobe).map(_._1)

  /** IVF-PQ INDEXING AS PERSISTED ARTIFACTS (r8 VERDICT item 8) — the
    * production shape of [[ivfPqTopK]]: one indexing job writes
    *  - `dir/codebooks` (s, pos, codeword) — [[pqTrain]]'s layout;
    *  - `dir/coarse`    (pos, centroid)   — the `nlist` seeded coarse
    *    centroids (bounded metadata, collected at probe time);
    *  - `dir/codes`     (vid, list, code) — each vector's 1-based
    *    coarse-list assignment NEXT TO its m-byte PQ code, computed in
    *    the same single map-side pass (no join at write OR probe time).
    * A probe then reads tiny metadata + the codes table only — zero
    * training jobs, zero raw-vector reads; partitioning the codes write
    * by `list` (callers may repartition before writing at scale) turns
    * the probe's list filter into partition pruning. */
  def ivfPqWriteArtifacts(emb: DataFrame, id: String, vec: String,
                          dir: String, nlist: Int = 16, m: Int = DefaultM,
                          ks: Int = DefaultKs, iters: Int = 2,
                          dim: Int = OracleDim,
                          normalize: Boolean = false): Unit = {
    require(m >= 1 && dim % m == 0, s"dim=$dim must divide into m=$m subspaces")
    val sub = dim / m
    val spark = emb.sparkSession
    import spark.implicits._
    val mkV = doubleVecFactory(emb, id, vec, normalize)
    val v = mkV()
    // the normalization choice is an ARTIFACT property, not a caller
    // convention: a self-describing meta table makes every later
    // consumer (probes, appenders, batch joins) treat queries and new
    // vectors the same way the index was built — a mis-remembered flag
    // would silently rank against the wrong geometry. corpus_rows rides
    // along (one count the build path can afford) so the auto-shortlist
    // serving reads size themselves with ZERO extra jobs; appends
    // refresh it, and a count staled by a crash between a codes append
    // and its meta rewrite only UNDER-sizes a shortlist hint — sizing,
    // never correctness
    Seq(("normalized", normalize.toString),
        ("corpus_rows", v.count().toString)).toDF("key", "value")
      .write.mode("overwrite").parquet(s"$dir/meta")
    invalidateNormalizedMeta(spark, dir)
    val coarse = seededCentroids(v, nlist)
    val books = trainPqBooks(mkV, m, ks, iters, sub)
    books.zipWithIndex.flatMap { case (book, s) =>
      book.zipWithIndex.map { case (cw, c) => (s, c + 1, cw.toSeq) }
    }.toSeq.toDF("s", "pos", "codeword")
      .write.mode("overwrite").parquet(s"$dir/codebooks")
    coarse.zipWithIndex.map { case (c, i) => (i + 1, c.toSeq) }.toSeq
      .toDF("pos", "centroid")
      .write.mode("overwrite").parquet(s"$dir/coarse")
    v.select(col("vid"),
        NearestCentroid(col("v"), coarse).as("list"),
        array((0 until m).map { s =>
          NearestCentroid(slice(col("v"), s * sub + 1, sub), books(s))
        }: _*).as("code"))
      .write.mode("overwrite").parquet(s"$dir/codes")
  }

  /** Artifact-table read honoring an optional
    * [[graft.streaming.Snapshot]] manifest on the dir: when the caller
    * inited snapshots (typically on `codes`, the only growing table), a
    * probe lists files from the latest COMMITTED manifest — so a probe
    * concurrent with an in-flight [[pqAppendToDir]] or a compaction
    * sees a consistent committed row set, never a half-written file.
    * Plain directory read otherwise. */
  private def readArtifact(spark: org.apache.spark.sql.SparkSession,
                           path: String): DataFrame =
    (if (graft.streaming.Snapshot.enabled(spark, path))
       graft.streaming.Snapshot.readVersion(spark, path)
     else None).getOrElse(Tables.parquet(spark, path))

  // ---- vector tombstones (the retire channel on the ANN family) ----

  /** TOMBSTONES for a stored vector index: vectors leaving the corpus
    * append their ids to `$dir/retire/batch=<id>` under the same
    * `_SUCCESS` claim discipline as every other maintained family
    * (replay skips, torn shards heal) — no codes rewrite, no retrain.
    * Every codes-scanning probe reads through [[readCodesRetained]],
    * which anti-joins the channel: for SQ8 the served ranking is then
    * EXACTLY a fresh quantization of the retained corpus (per-vector
    * scales — no trained state), which `q_sim_sq_retire` pins to the
    * retained-set oracle; for PQ/IVF-PQ the codebooks and coarse lists
    * remain trained on the historical corpus (quantizer training is a
    * statistic, not membership — the FAISS remove_ids contract), and
    * `SimilaritySpec` pins the probe equal to one over a codes table
    * with the rows physically removed. Returns false iff the shard
    * already existed (replay). */
  def retireFromDir(vecIds: DataFrame, idCol: String, dir: String,
                    batchId: Long): Boolean =
    tombstones(dir).append(batchId, vecIds, col(idCol))

  private def tombstones(dir: String) =
    ShardWrite.Tombstones(s"$dir/retire", "vid")

  /** PHYSICAL tombstone fold — the maintenance-window completion of
    * [[retireFromDir]], FAISS `remove_ids` made byte-real: rewrite the
    * stored codes table WITHOUT the tombstoned rows, then CONSUME the
    * channel, so the serve-time anti-join cost stops growing with
    * takedown history. Serving is BIT-IDENTICAL before and after
    * ([[readCodesRetained]] already subtracted the channel — the fold
    * only moves the subtraction from read time to rest; the spec pins
    * it). Codebooks, coarse lists and the meta geometry stay untouched
    * (training is historical statistics, exactly the remove_ids
    * contract); the `corpus_rows` sizing hint refreshes to the
    * retained count. Loss-proof and crash-convergent through the
    * shared eviction kernel ([[graft.streaming.LakeMaintenance
    * .evictFromDir]]): the channel deletes LAST, so a death anywhere
    * inside the window reruns the fold to the same final bytes — run
    * it in the same paused window as compaction (mid-swap readers can
    * transiently see duplicated retained rows, the documented
    * compaction caveat). The consume deletes only the complete
    * tombstone shards the fold read ([[ShardWrite.Tombstones.consume]]),
    * so an in-flight append survives for the next fold. Returns true
    * iff a fold ran (false: no complete tombstone shard, or nothing
    * tombstoned intersects the codes). */
  def foldRetired(spark: org.apache.spark.sql.SparkSession,
                  dir: String): Boolean = {
    val tombs = tombstones(dir)
    val ids = tombs.live(spark).getOrElse(return false).persist()
    try {
      val rewrote = graft.streaming.LakeMaintenance.evictFromDir(
        spark, s"$dir/codes", ids, "vid",
        snapshotRoot = Some(s"$dir/codes"))
      // refresh the corpus_rows sizing hint UNCONDITIONALLY before the
      // channel delete: gating it on `rewrote` left a crash window —
      // death after a COMPLETED rewrite but before this refresh made
      // the rerun's evict a no-op (rewrote = false), the old code then
      // skipped the refresh and consumed the channel, freezing the
      // pre-takedown count forever. Recounting the codes is cheap
      // relative to the rewrite and convergent on any rerun.
      val (metaFs, metaP) = canonicalMeta(spark, dir)
      if (metaFs.exists(metaP)) {
        import spark.implicits._
        val rows = Tables.parquet(spark, s"$dir/codes").count()
        val kept = Tables.parquet(spark, metaP.toString)
          .collect().map(r => (r.getString(0), r.getString(1)))
          .filterNot(_._1 == "corpus_rows")
        (kept.toSeq :+ (("corpus_rows", rows.toString)))
          .toDF("key", "value")
          .write.mode("overwrite").parquet(metaP.toString)
        invalidateNormalizedMeta(spark, dir)
        corpusRowsCache.remove(metaP.toString)
      }
      // channel consumed only after the rewrite AND refresh landed —
      // the crash contract: a death before this consume reruns the fold
      tombs.consume(spark)
      rewrote
    } finally ids.unpersist()
  }

  /** The stored codes minus the live tombstones — what every probe
    * scans. A dir with no live tombstone reads unchanged (one listing,
    * no extra plan nodes). */
  private def readCodesRetained(spark: org.apache.spark.sql.SparkSession,
                                dir: String): DataFrame = {
    val codes = readArtifact(spark, s"$dir/codes")
    tombstones(dir).live(spark)
      .fold(codes)(codes.join(_, Seq("vid"), "left_anti"))
  }

  /** Whether the artifacts at `dir` were built over unit-normalized
    * vectors ([[ivfPqWriteArtifacts]]'s meta marker). Absent meta —
    * pre-r12 artifacts, or the [[pqWriteArtifacts]] layout — means
    * raw vectors.
    *
    * Memoized per dir on the driver, keyed by the CANONICAL (qualified)
    * path and invalidated by the meta table's modification time: a raw
    * string key would split aliases of the same dir (trailing slash,
    * relative vs absolute) into separate entries, and a forever-cache would
    * mis-remember the flag after ANOTHER process rebuilt the artifacts
    * with a flipped geometry — exactly the failure the meta marker was
    * introduced to eliminate (r12 ADVICE). The steady-state cost per
    * call is therefore ONE `getFileStatus` round-trip (no Spark job);
    * the one-row parquet read re-runs only when the marker's mtime
    * moved. [[ivfPqWriteArtifacts]] additionally evicts the entry when
    * it (re)writes a dir in this JVM, closing the same-process
    * same-millisecond rewrite window mtime granularity can't see. */
  private val normalizedMetaCache =
    new java.util.concurrent.ConcurrentHashMap[String, (Long, Boolean)]()

  /** Alias-proof cache key for `dir/meta`: scheme+authority qualified,
    * trailing slashes and `.` segments folded by the Path normalizer. */
  private def canonicalMeta(spark: org.apache.spark.sql.SparkSession,
                            dir: String): (org.apache.hadoop.fs.FileSystem,
                                           org.apache.hadoop.fs.Path) = {
    val raw = new org.apache.hadoop.fs.Path(dir, "meta")
    val fs = raw.getFileSystem(spark.sparkContext.hadoopConfiguration)
    (fs, fs.makeQualified(raw))
  }

  private[functions] def invalidateNormalizedMeta(
      spark: org.apache.spark.sql.SparkSession, dir: String): Unit =
    normalizedMetaCache.remove(canonicalMeta(spark, dir)._2.toString)

  private def artifactNormalized(spark: org.apache.spark.sql.SparkSession,
                                 dir: String): Boolean = {
    val (fs, p) = canonicalMeta(spark, dir)
    val stamp = if (fs.exists(p)) fs.getFileStatus(p).getModificationTime else -1L
    val cached = normalizedMetaCache.get(p.toString)
    if (cached != null && cached._1 == stamp) cached._2
    else {
      val flag = stamp >= 0 &&
        Tables.parquet(spark, p.toString)
          .where(col("key") === "normalized" && col("value") === "true")
          .head(1).nonEmpty
      normalizedMetaCache.put(p.toString, (stamp, flag))
      flag
    }
  }

  /** The stored codebooks as driver arrays — shared by the probes and
    * the incremental appenders so every consumer decodes the artifact
    * identically: `books(s)(c)` is subspace `s`'s codeword at 1-based
    * position `c + 1`. */
  private def readBooks(spark: org.apache.spark.sql.SparkSession,
                        dir: String): Array[Array[Array[Double]]] = {
    val collected = readArtifact(spark, s"$dir/codebooks")
      .select(col("s"), col("pos"), col("codeword")).collect()
    require(collected.nonEmpty, "empty codebooks artifact")
    val m = collected.map(_.getInt(0)).max + 1
    Array.tabulate(m) { s =>
      collected.filter(_.getInt(0) == s).sortBy(_.getInt(1))
        .map(_.getSeq[Double](2).toArray)
    }
  }

  /** INCREMENTAL INDEXING: encode NEW vectors with the STORED
    * codebooks (+ coarse centroids when the layout has them) and append
    * to `dir/codes` — the index-maintenance shape that makes the
    * artifacts append-forever: no retraining, no rewrite of existing
    * rows, one map-side encode pass per batch. Codebook drift under a
    * shifting corpus is handled by periodic re-train + re-encode (a new
    * dir), never per-append. Callers own id-disjointness — re-appending
    * an id duplicates it, like any append-only table. Works on both the
    * [[pqWriteArtifacts]] layout (codes = vid, code) and the
    * [[ivfPqWriteArtifacts]] layout (codes = vid, list, code — detected
    * by the `coarse` table's presence). */
  def pqAppendToDir(newVecs: DataFrame, id: String, vec: String,
                    dir: String): Unit = {
    val spark = newVecs.sparkSession
    val v0 = newVecs.select(col(id).as("vid"),
      transform(col(vec), _.cast("double")).as("v"))
    // appended vectors must enter the index's own geometry: a raw
    // append into a normalized index would encode magnitudes the
    // stored codes deliberately erased
    val v = if (artifactNormalized(spark, dir)) unitNormFrame(v0) else v0
    val books = readBooks(spark, dir)
    val m = books.length
    val sub = books.head.head.length
    val code = array((0 until m).map { s =>
      NearestCentroid(slice(col("v"), s * sub + 1, sub), books(s))
    }: _*).as("code")
    val coarsePath = new org.apache.hadoop.fs.Path(s"$dir/coarse")
    val hasCoarse = coarsePath
      .getFileSystem(spark.sparkContext.hadoopConfiguration).exists(coarsePath)
    val encoded =
      if (hasCoarse) {
        val coarse = readArtifact(spark, s"$dir/coarse").collect()
          .sortBy(_.getInt(0)).map(_.getSeq[Double](1).toArray)
        v.select(col("vid"), NearestCentroid(col("v"), coarse).as("list"), code)
      } else v.select(col("vid"), code)
    encoded.write.mode("append").parquet(s"$dir/codes")
    // snapshot-enabled codes table: publish the append atomically —
    // probes keep reading the previous manifest until this commit lands
    if (graft.streaming.Snapshot.enabled(spark, s"$dir/codes"))
      graft.streaming.Snapshot.commit(spark, s"$dir/codes", Seq(""))
    // refresh the meta corpus_rows sizing hint (when the layout carries
    // meta at all): read-modify-write of the tiny key/value table. A
    // crash before this rewrite leaves the hint one batch small — the
    // auto shortlist then under-sizes slightly until the next append;
    // sizing, never correctness (scores come from the codes table)
    val (metaFs, metaP) = canonicalMeta(spark, dir)
    if (metaFs.exists(metaP)) {
      import spark.implicits._
      val appended = v.count()
      val kept = Tables.parquet(spark, metaP.toString)
        .collect().map(r => (r.getString(0), r.getString(1)))
      val updated = kept.map {
        case ("corpus_rows", n) => ("corpus_rows", (n.toLong + appended).toString)
        case other => other
      }
      val withRows =
        if (updated.exists(_._1 == "corpus_rows")) updated.toSeq
        else updated.toSeq :+ (("corpus_rows",
          readArtifact(spark, s"$dir/codes").count().toString))
      withRows.toDF("key", "value")
        .write.mode("overwrite").parquet(metaP.toString)
      invalidateNormalizedMeta(spark, dir)
      corpusRowsCache.remove(metaP.toString)
    }
  }

  /** The probe half of [[ivfPqWriteArtifacts]]: select `nprobe` lists
    * against the stored coarse centroids, then ADC-score ONLY the codes
    * rows in those lists via [[pqProbeCodes]] — one filtered scan of
    * the codes table into TakeOrderedAndProject, zero training jobs,
    * zero joins. Bit-identical to the fused [[ivfPqTopK]] for the same
    * corpus/params ([[graft.SimilaritySpec]] pins it): same seeded
    * coarse quantizer, same probe-selection loop, same stored
    * assignments, same lut, same left-associated sum. */
  def ivfPqProbeFromDir(emb: DataFrame, id: String, vec: String,
                        dir: String, queryId: Long, k: Int,
                        nprobe: Int = 4): DataFrame = {
    val spark = emb.sparkSession
    val v = emb.select(col(id).as("vid"), transform(col(vec), _.cast("double")).as("v"))
    val qvRaw = collectQueryVector(v, queryId)
    // a normalized index must see a normalized query — the geometry is
    // an artifact property (meta marker), never a caller convention
    val qv = if (artifactNormalized(spark, dir)) localUnitNorm(qvRaw) else qvRaw
    val coarse = readArtifact(spark, s"$dir/coarse").collect()
      .sortBy(_.getInt(0)).map(_.getSeq[Double](1).toArray)
    require(coarse.nonEmpty, "empty coarse-centroid artifact")
    val probed = probedLists(coarse, qv, nprobe)
    val codes = readCodesRetained(spark, dir)
      .where(col("list").isin(probed.map(Integer.valueOf): _*))
    pqProbeCodes(readArtifact(spark, s"$dir/codebooks"), codes.drop("list"),
      qv, k, idOut = id, excludeId = Some(queryId))
  }

  /** IVF-PQ — the standard web-scale ANN composition (r7 VERDICT item
    * 5; Jégou et al. 2011 §IV): a coarse quantizer routes the probe to
    * `nprobe` of `nlist` inverted lists, and within the probed lists
    * docs score by the PQ ADC sum instead of raw-vector cosine. The
    * probe therefore scans ~nprobe/nlist of the CODES (m bytes/vector),
    * never the raw corpus — the two independent compressions compose.
    *
    * Determinism contract (what buys the DuckDB oracle,
    * [[ivfPqOracleSql]]): the coarse quantizer is the SEEDED one (first
    * `nlist` vectors by id, zero Lloyd — the [[ivfSeededTopK]]
    * contract); codebooks are the deterministic-fold trainer on raw
    * slices (the [[pqTopK]] contract, no residual encoding — Faiss's
    * `by_residual=false` variant); probe selection and ADC scoring
    * reuse the exact driver/executor loops of both parents.
    * Plan shape: one map-side scan — [[NearestCentroid]] list filter +
    * m code assignments + m literal lookups — into
    * TakeOrderedAndProject; zero shuffles, zero joins. */
  def ivfPqTopK(emb: DataFrame, id: String, vec: String, queryId: Long,
                k: Int, nlist: Int = 16, nprobe: Int = 4, m: Int = DefaultM,
                ks: Int = DefaultKs, iters: Int = 2,
                dim: Int = OracleDim,
                normalize: Boolean = false): DataFrame = {
    require(m >= 1 && dim % m == 0, s"dim=$dim must divide into m=$m subspaces")
    val sub = dim / m
    // normalize = true: cosine-faithful ADC ([[unitNormFrame]]) — the
    // quantizer trains on, and scores against, unit vectors, so
    // adc_dot approximates COSINE instead of the raw dot
    val mkV = doubleVecFactory(emb, id, vec, normalize)
    val v = mkV()
    val coarse = seededCentroids(v, nlist)
    val qv = collectQueryVector(v, queryId)
    val probed = probedLists(coarse, qv, nprobe)
    val books = trainPqBooks(mkV, m, ks, iters, sub)
    val lut = pqLut(books, qv, sub)
    val score = (0 until m).map { s =>
      element_at(array(lut(s).map(lit): _*),
        NearestCentroid(slice(col("v"), s * sub + 1, sub), books(s)))
    }.reduceLeft(_ + _)
    // plan shape unchanged from the parents: one map-side scan (coarse
    // filter + m assignments + m lookups) into TakeOrderedAndProject,
    // zero exchanges. The normalize path's cost pathology lived in the
    // old HOF unit-norm: predicate pushdown inlined it into this
    // filter with the norm dot INSIDE the lambda, re-evaluating it per
    // ELEMENT per reference (one 1.48 s scan task, ProfileProbe r18).
    // The codegen'd [[VectorExpressions.UnitNorm]] is opaque to that
    // tearing, so each reference costs one fused O(2*dim) loop.
    v.where(NearestCentroid(col("v"), coarse)
        .isin(probed.map(Integer.valueOf): _*))
      .where(col("vid") =!= queryId)
      .select(col("vid").as(id), score.as("adc_dot"))
      .orderBy(col("adc_dot").desc, col(id).asc)
      .limit(k)
  }

  /** IVF-PQ with EXACT RE-RANK — the standard recall-recovery knob of
    * every production PQ deployment (Jégou et al.'s IVFADC+R): the ADC
    * scan shortlists `shortlist` candidates cheaply (compressed codes,
    * probed lists only), then ONLY those rows fetch their raw vectors
    * for an exact-cosine re-rank of the final top-`k`. Quantization
    * error can reorder near-ties or admit a false positive into an ADC
    * top-k; re-ranking confines that error to the shortlist boundary
    * at the cost of `shortlist` raw-vector reads per query — the
    * cheap-filter/exact-verify split, with the expensive side bounded
    * by a constant. Scale shape: the parents' map-side ADC scan plus
    * one join of the `shortlist`-row candidate set back to the corpus
    * (AQE broadcasts the tiny side), so raw vectors are read for
    * `shortlist` rows, never the corpus. */
  def ivfPqRerankTopK(emb: DataFrame, id: String, vec: String, queryId: Long,
                      k: Int, shortlist: Int = AutoShortlist, nlist: Int = 16,
                      nprobe: Int = 4, m: Int = DefaultM, ks: Int = DefaultKs,
                      iters: Int = 2, dim: Int = OracleDim): DataFrame = {
    // AutoShortlist: scale with the candidate count ([[rerankShortlist]]
    // — the `ann_recall` tuning rule). The corpus count here is one
    // metadata-only parquet job next to the training scans this fused
    // path already pays; the stored-artifact twins derive it from the
    // codes table instead.
    val sl = if (shortlist == AutoShortlist)
      rerankShortlist(emb.count(), nlist, nprobe, k) else shortlist
    require(sl >= k, s"shortlist=$sl must cover k=$k")
    val cand = ivfPqTopK(emb, id, vec, queryId, sl, nlist, nprobe,
      m, ks, iters, dim).select(col(id))
    exactCosineRerank(cand, emb, id, vec, queryId, k)
  }

  /** The ONE exact-cosine re-rank tail shared by the fused
    * ([[ivfPqRerankTopK]]) and stored-artifact ([[ivfPqRerankFromDir]])
    * paths — the [[graft.functions.TextAnalysis]] shared-scoring-tail
    * discipline: the two are oracle-pinned to agree, so the tie-break,
    * cast, and cosine must have a single definition. */
  private def exactCosineRerank(cand: DataFrame, emb: DataFrame,
                                id: String, vec: String, queryId: Long,
                                k: Int): DataFrame = {
    val v = emb.select(col(id), transform(col(vec), _.cast("double")).as("v"))
    val qv = collectQueryVector(
      v.select(col(id).as("vid"), col("v")), queryId)
    cand.join(v, Seq(id))
      .select(col(id),
        VectorExpressions.cosineSim(col("v"), array(qv.map(lit): _*)).as("cos"))
      .orderBy(col("cos").desc, col(id).asc)
      .limit(k)
  }

  /** [[ivfPqRerankTopK]] SERVED from the persisted artifacts — the
    * production IVFADC+R split: the ADC shortlist comes from the STORED
    * coarse routing + codes (zero training jobs, ~nprobe/nlist of the
    * codes scanned), then only the `shortlist` candidates join back to
    * the raw corpus for the exact-cosine re-rank. Same oracle as the
    * fused path. */
  def ivfPqRerankFromDir(emb: DataFrame, id: String, vec: String,
                         dir: String, queryId: Long, k: Int,
                         shortlist: Int = AutoShortlist,
                         nprobe: Int = 4): DataFrame = {
    val sl = if (shortlist == AutoShortlist)
      storedShortlist(emb.sparkSession, dir, nprobe, k) else shortlist
    require(sl >= k, s"shortlist=$sl must cover k=$k")
    val cand = ivfPqProbeFromDir(emb, id, vec, dir, queryId, sl,
      nprobe).select(col(id))
    exactCosineRerank(cand, emb, id, vec, queryId, k)
  }

  /** [[rerankShortlist]] resolved against a PERSISTED index: corpus
    * rows from the artifact's meta `corpus_rows` row when the writer
    * recorded one (mtime-memoized like the geometry flag — steady
    * state is one `getFileStatus`, zero jobs), else a metadata-only
    * parquet count over the codes table; nlist from the tiny coarse
    * artifact. Callers on a hot path that know their corpus size pass
    * `shortlist` explicitly and skip even that. */
  private def storedShortlist(spark: org.apache.spark.sql.SparkSession,
                              dir: String, nprobe: Int, k: Int): Int = {
    val rows = metaCorpusRows(spark, dir).getOrElse(
      readArtifact(spark, s"$dir/codes").count())
    rerankShortlist(rows,
      readArtifact(spark, s"$dir/coarse").count().toInt, nprobe, k)
  }

  private val corpusRowsCache =
    new java.util.concurrent.ConcurrentHashMap[String, (Long, Option[Long])]()

  private def metaCorpusRows(spark: org.apache.spark.sql.SparkSession,
                             dir: String): Option[Long] = {
    val (fs, p) = canonicalMeta(spark, dir)
    if (!fs.exists(p)) return None
    val stamp = fs.getFileStatus(p).getModificationTime
    val cached = corpusRowsCache.get(p.toString)
    if (cached != null && cached._1 == stamp) cached._2
    else {
      val rows = Tables.parquet(spark, p.toString)
        .where(col("key") === "corpus_rows")
        .head(1).headOption.map(_.getString(1).toLong)
      corpusRowsCache.put(p.toString, (stamp, rows))
      rows
    }
  }

  /** BATCH IVFADC+R over the persisted index — the query-set twin of
    * [[ivfPqRerankFromDir]]: every query's `shortlist`-candidate ADC
    * set (from stored codes, [[annJoinPqFromDir]]) joins back to the
    * raw corpus ONCE, exact cosine re-scores, and a per-query top-k
    * window cuts the final k. Scale shape: the candidate frame is
    * nq × shortlist rows of (qid, vid) keys — the raw-vector join is
    * candidate-proportional (AQE broadcasts whichever side is small;
    * at corpus scale both hash-partition on the id), the query side
    * re-attaches by qid broadcast, and the top-k window runs over
    * shortlist-bounded partitions. Raw vectors are read for the
    * candidate set only, never corpus × queries. */
  def annJoinPqRerankFromDir(queries: DataFrame, corpus: DataFrame,
                             id: String, vec: String, dir: String, k: Int,
                             shortlist: Int = AutoShortlist, nprobe: Int = 4,
                             maxBroadcastBytes: Long = DefaultMaxBroadcastBytes): DataFrame =
    rankRescored(rescoredShortlist(queries, corpus, id, vec, dir, k,
      shortlist, nprobe, maxBroadcastBytes), k, id)

  /** STORED-INDEX hard-negative mining — [[hardNegatives]]' production
    * serve: the persisted IVFADC+R machinery shortlists (zero training
    * jobs, stored codes only), raw vectors are read for the candidate
    * set only and re-scored by EXACT cosine, and the [lo, hi) band +
    * per-anchor rank runs on those exact scores — the band must never
    * cut on quantized ADC values, or a presumed positive could slip
    * under `hi` by quantization error. Same shortlist-bounded shapes
    * as the rerank row. */
  def hardNegativesFromDir(queries: DataFrame, corpus: DataFrame,
                           id: String, vec: String, dir: String, m: Int,
                           lo: Double, hi: Double,
                           shortlist: Int = AutoShortlist, nprobe: Int = 4,
                           maxBroadcastBytes: Long = DefaultMaxBroadcastBytes): DataFrame = {
    require(lo < hi, s"empty band [$lo, $hi)")
    rankRescored(
      rescoredShortlist(queries, corpus, id, vec, dir, m, shortlist, nprobe,
        maxBroadcastBytes)
        .where(col("cos") >= lo && col("cos") < hi),
      m, id)
  }

  /** The exact-rescored candidate frame `(query_id, id, cos)` shared
    * by [[annJoinPqRerankFromDir]] and [[hardNegativesFromDir]] — one
    * copy of the stored-shortlist → raw-join → exact-cosine
    * composition. */
  private def rescoredShortlist(queries: DataFrame, corpus: DataFrame,
                                id: String, vec: String, dir: String, k: Int,
                                shortlist: Int, nprobe: Int,
                                maxBroadcastBytes: Long): DataFrame = {
    val sl = if (shortlist == AutoShortlist)
      storedShortlist(queries.sparkSession, dir, nprobe, k) else shortlist
    require(sl >= k, s"shortlist=$sl must cover k=$k")
    val cand = annJoinPqFromDir(queries, id, vec, dir, sl, nprobe,
      maxBroadcastBytes).select(col("query_id"), col(id))
    val v = corpus.select(col(id), transform(col(vec), _.cast("double")).as("v"))
    // NO broadcast hint on the query re-attach: a hint would override
    // the size checks the shortlist stage carefully honors
    // (maxBroadcastBytes gates listJoin) and force-collect a
    // corpus-scale query set onto the driver. Unhinted, AQE broadcasts
    // a small query side and falls back to a shuffled join past the
    // threshold — the same degradation contract as the ADC stage.
    val q = queries.select(col(id).as("query_id"),
      transform(col(vec), _.cast("double")).as("qv"))
    cand.join(v, Seq(id)).join(q, Seq("query_id"))
      .select(col("query_id"), col(id),
        VectorExpressions.cosineSim(col("v"), col("qv")).as("cos"))
  }

  /** Per-anchor (cos desc, id asc) top-k over a rescored frame —
    * the rerank family's cut, column names as the oracle compares. */
  private def rankRescored(frame: DataFrame, k: Int, id: String): DataFrame =
    frame
      .withColumn("_rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("query_id")
          .orderBy(col("cos").desc, col(id).asc)))
      .where(col("_rn") <= k).drop("_rn")
      .orderBy(col("query_id"), col("cos").desc, col(id))

  /** The exact-rescored shortlist CTE `rsc (query_id, vec_id, cos)` —
    * [[rescoredShortlist]]'s oracle twin, shared by the rerank and
    * stored-hard-negative tails. */
  private def rescoredCte(nq: Long, shortlist: Int, nlist: Int, nprobe: Int,
                          m: Int, ks: Int, iters: Int, dim: Int): String =
    s"""WITH rsc AS (
       |  SELECT t.query_id, t.vec_id,
       |         ${cosineSql("e.embedding", "qe.embedding", dim)} AS cos
       |  FROM (${annJoinPqOracleSql(nq, shortlist, nlist, nprobe, m, ks, iters, dim)}) t
       |  JOIN embeddings e ON e.vec_id = t.vec_id
       |  JOIN embeddings qe ON qe.vec_id = t.query_id)""".stripMargin

  /** Oracle for [[annJoinPqRerankFromDir]] with the query set
    * `vec_id < nq`: the verified batch-ADC machinery as a subquery
    * shortlist, exact-cosine re-scored per query. */
  def annJoinPqRerankOracleSql(nq: Long, k: Int, shortlist: Int = 20,
                               nlist: Int = 16, nprobe: Int = 4,
                               m: Int = DefaultM, ks: Int = DefaultKs, iters: Int = 2,
                               dim: Int = OracleDim): String =
    s"""${rescoredCte(nq, shortlist, nlist, nprobe, m, ks, iters, dim)}
       |SELECT query_id, vec_id, cos FROM (
       |  SELECT query_id, vec_id, cos,
       |         row_number() OVER (PARTITION BY query_id
       |                            ORDER BY cos DESC, vec_id ASC) AS rn
       |  FROM rsc) WHERE rn <= $k
       |ORDER BY query_id, cos DESC, vec_id""".stripMargin

  /** The [[hardNegativesFromDir]] oracle: the shared rescored CTE with
    * the band applied on the EXACT cosines before the per-anchor rank
    * — exactly where the engine filters. */
  def hardNegativesFromDirOracleSql(nq: Long, mTop: Int, lo: String, hi: String,
                                    shortlist: Int = 20,
                                    nlist: Int = 16, nprobe: Int = 4,
                                    m: Int = DefaultM, ks: Int = DefaultKs,
                                    iters: Int = 2,
                                    dim: Int = OracleDim): String =
    s"""${rescoredCte(nq, shortlist, nlist, nprobe, m, ks, iters, dim)}
       |SELECT query_id, vec_id, cos FROM (
       |  SELECT query_id, vec_id, cos,
       |         row_number() OVER (PARTITION BY query_id
       |                            ORDER BY cos DESC, vec_id ASC) AS rn
       |  FROM rsc WHERE cos >= $lo AND cos < $hi) WHERE rn <= $mTop
       |ORDER BY query_id, cos DESC, vec_id""".stripMargin

  /** Oracle for [[ivfPqRerankTopK]]: the verified ADC machinery as a
    * subquery shortlist, re-scored by the exact unrolled cosine. */
  def ivfPqRerankOracleSql(queryId: Long, k: Int, shortlist: Int = 50,
                           nlist: Int = 16, nprobe: Int = 4, m: Int = DefaultM,
                           ks: Int = DefaultKs, iters: Int = 2,
                           dim: Int = OracleDim,
                           candPred: String = ""): String =
    s"""SELECT t.vec_id, ${cosineSql("e.embedding", "q.qe", dim)} AS cos
       |FROM (${ivfPqOracleSql(queryId, shortlist, nlist, nprobe, m, ks, iters, dim, candPred)}) t
       |JOIN embeddings e ON e.vec_id = t.vec_id
       |CROSS JOIN (SELECT embedding AS qe FROM embeddings
       |            WHERE vec_id = $queryId) q
       |ORDER BY cos DESC, t.vec_id ASC LIMIT $k""".stripMargin

  /** The cosine-faithful IVFADC+R oracle: the NORMALIZED ADC machinery
    * shortlists ([[ivfPqCosOracleSql]] as a subquery), then the exact
    * cosine re-rank joins the RAW table — cosine is scale-invariant, so
    * the re-rank needs no normalized twin, exactly as the engine's
    * [[exactCosineRerank]] reads raw vectors under a meta-normalized
    * probe. */
  def ivfPqCosRerankOracleSql(queryId: Long, k: Int, shortlist: Int = 50,
                              nlist: Int = 16, nprobe: Int = 4, m: Int = DefaultM,
                              ks: Int = DefaultKs, iters: Int = 2,
                              dim: Int = OracleDim,
                              candPred: String = ""): String =
    s"""SELECT t.vec_id, ${cosineSql("e.embedding", "q.qe", dim)} AS cos
       |FROM (${ivfPqCosOracleSql(queryId, shortlist, nlist, nprobe, m, ks, iters, dim, candPred)}) t
       |JOIN embeddings e ON e.vec_id = t.vec_id
       |CROSS JOIN (SELECT embedding AS qe FROM embeddings
       |            WHERE vec_id = $queryId) q
       |ORDER BY cos DESC, t.vec_id ASC LIMIT $k""".stripMargin

  /** The engine's sequential dot-accumulator loop on driver-local
    * arrays — [[pqTopK]]'s LUT builder; bit-identical to the executor
    * loop and to a left-associated SQL `+` chain. */
  private def localDot(a: Array[Double], b: Array[Double]): Double = {
    val n = math.min(a.length, b.length)
    var ab = 0.0
    var i = 0
    while (i < n) { ab += a(i) * b(i); i += 1 }
    ab
  }

  /** The engine's sequential three-accumulator cosine (CosineSim /
    * NearestCentroid loop shape) on driver-local arrays — used for probe
    * selection so driver math is bit-identical to executor math. */
  private def localCosine(a: Array[Double], b: Array[Double]): Double = {
    val n = math.min(a.length, b.length)
    var ab = 0.0; var aa = 0.0; var bb = 0.0
    var i = 0
    while (i < n) { ab += a(i) * b(i); aa += a(i) * a(i); bb += b(i) * b(i); i += 1 }
    if (aa == 0.0 || bb == 0.0) 0.0 else ab / (math.sqrt(aa) * math.sqrt(bb))
  }

  /** Batch all-pairs near-neighbor candidates via shared LSH bucket —
    * bucket-local join, never the n² cross product. */
  def bucketPairs(emb: DataFrame, id: String, vec: String,
                  nPlanes: Int = 8, dim: Int = 64, minCos: Double = 0.8): DataFrame = {
    val planes = hyperplanes(nPlanes, dim)
    val b = emb.select(col(id).as("vid"), col(vec).as("v"))
      .withColumn("bucket", lshBucket(col("v"), planes))
    b.as("a").join(b.as("b"),
        col("a.bucket") === col("b.bucket") && col("a.vid") < col("b.vid"))
      .select(col("a.vid").as("id_a"), col("b.vid").as("id_b"),
        cosine(col("a.v"), col("b.v")).as("cos_sim"))
      .where(col("cos_sim") >= minCos)
  }

  // ---- oracle twins ----------------------------------------------------
  // DuckDB SQL replicating the LSH pipelines BIT-FOR-BIT. Two things make
  // float parity possible: the hyperplanes are driver-computed constants
  // (rendered below with 18 significant digits — exact double
  // round-trip), and every accumulation is written as an explicit
  // left-associative `a+b+c` chain, which is the same IEEE operation
  // order as the engine's sequential loops (CosineSim / DotProduct).
  // IVF has NO oracle twin on purpose: k-means centroid sums go through
  // Spark partial aggregation, whose merge order across shuffle
  // partitions is not deterministic, so centroid bits are not
  // reproducible by an external engine (nor run-to-run in the last ulp).

  /** Exact double literal for DuckDB: e-notation parses as DOUBLE there
    * (a bare decimal literal would be DECIMAL and change the math). */
  private def dlit(d: Double): String = "%.17e".formatLocal(java.util.Locale.ROOT, d)

  /** Σ col[i]·plane[i] as an explicit left-assoc chain (1-based SQL
    * array indexing; elements cast float→double like the engine). */
  private def dotPlaneSql(c: String, plane: Array[Double]): String =
    plane.zipWithIndex.map { case (p, i) =>
      s"CAST($c[${i + 1}] AS DOUBLE) * ${dlit(p)}"
    }.mkString(" + ")

  /** Sign-bit bucket id matching [[lshBucket]]. */
  private def bucketSql(c: String, planes: Array[Array[Double]]): String =
    planes.zipWithIndex.map { case (plane, p) =>
      s"(CASE WHEN ${dotPlaneSql(c, plane)} >= 0 THEN ${1L << p} ELSE 0 END)"
    }.mkString(" + ")

  /** Oracle for [[pqTopK]]: per subspace, the [[ivfIterOracleSql]] CTE
    * machinery over the embedding SLICE (same seeded init, same ordered
    * list_reduce centroid folds, same (cos DESC, pos ASC) assignment),
    * then the query-codeword dot as the same left-associated chain the
    * driver's LUT loop runs, and subspace scores added in subspace
    * order — every double retraces the engine's exact op sequence. */
  def pqOracleSql(queryId: Long, k: Int, m: Int = DefaultM, ks: Int = DefaultKs,
                  iters: Int = 2, dim: Int = OracleDim,
                  candPred: String = ""): String = {
    require(m >= 1 && dim % m == 0, s"dim=$dim must divide into m=$m subspaces")
    val sub = dim / m
    val joins = (1 until m)
      .map(s => s"  JOIN sc$s ON sc$s.vec_id = sc0.vec_id").mkString("\n")
    val sum = (0 until m).map(s => s"sc$s.d").mkString(" + ")
    // candPred (the ivfPqOracleCtes convention): restrict the
    // CANDIDATE set of the final ADC cut only — training CTEs stay
    // full-corpus, exactly the engine's retained-codes anti-join under
    // historical codebooks (the FAISS remove_ids contract)
    val cand = if (candPred.isEmpty) ""
      else s"\n    AND sc0.vec_id IN (SELECT vec_id FROM embeddings WHERE $candPred)"
    s"""WITH ${(0 until m).map(pqSubCtes(_, queryId, ks, iters, sub)).mkString(",\n")}
       |SELECT vec_id, adc_dot FROM (
       |  SELECT sc0.vec_id, $sum AS adc_dot
       |  FROM sc0
       |$joins
       |  WHERE sc0.vec_id <> $queryId$cand)
       |ORDER BY adc_dot DESC, vec_id ASC LIMIT $k""".stripMargin
  }

  /** One subspace's CTE block for the PQ oracles — slice extraction,
    * seeded init, `iters` unrolled deterministic-fold Lloyd rounds,
    * final assignment `fa{s}`, query LUT `lut{s}`, and per-doc subspace
    * score `sc{s}` — shared by [[pqOracleSql]] and [[ivfPqOracleSql]]
    * so the composition can never drift from the pure-PQ oracle. */
  /** The query-independent half of one subspace's ADC machinery:
    * slice extraction, seeded init, `iters` unrolled deterministic-fold
    * Lloyd rounds, final assignments (`fa$s`). Shared by the
    * single-query tail ([[pqSubCtes]]) and the query-table tail
    * ([[pqSubCtesBatch]]). */
  private def pqTrainCtes(s: Int, ks: Int, iters: Int, sub: Int,
                          tbl: String = "embeddings"): String = {
    val lo = s * sub + 1
    val hi = (s + 1) * sub
    val foldList = (1 to sub)
      .map(d => s"list_reduce(list_transform(ms, m -> m[$d]), (x, y) -> x + y) / n")
      .mkString("[", ", ", "]")
    val iterCtes = (1 to iters).map { i =>
      s"""s${s}_$i AS (
         |  SELECT e.vec_id, c.pos, ${cosineSql("e.ev", "c.ce", sub)} AS cs
         |  FROM e$s e CROSS JOIN c${s}_${i - 1} c),
         |a${s}_$i AS (
         |  SELECT vec_id, pos FROM (
         |    SELECT vec_id, pos,
         |           row_number() OVER (PARTITION BY vec_id ORDER BY cs DESC, pos ASC) AS rn
         |    FROM s${s}_$i) WHERE rn = 1),
         |g${s}_$i AS (
         |  SELECT a.pos AS cid, list(e.ev ORDER BY e.vec_id) AS ms, count(*) AS n
         |  FROM a${s}_$i a JOIN e$s e ON a.vec_id = e.vec_id GROUP BY a.pos),
         |c${s}_$i AS (
         |  SELECT row_number() OVER (ORDER BY cid) AS pos, $foldList AS ce
         |  FROM g${s}_$i)""".stripMargin
    }.mkString(",\n")
    s"""e$s AS (
       |  SELECT vec_id, list_transform(embedding[$lo:$hi], x -> CAST(x AS DOUBLE)) AS ev
       |  FROM $tbl),
       |c${s}_0 AS (
       |  SELECT row_number() OVER (ORDER BY vec_id) AS pos, ev AS ce
       |  FROM (SELECT vec_id, ev FROM e$s ORDER BY vec_id LIMIT $ks)),
       |$iterCtes,
       |fs$s AS (
       |  SELECT e.vec_id, c.pos, ${cosineSql("e.ev", "c.ce", sub)} AS cs
       |  FROM e$s e CROSS JOIN c${s}_$iters c),
       |fa$s AS (
       |  SELECT vec_id, pos FROM (
       |    SELECT vec_id, pos,
       |           row_number() OVER (PARTITION BY vec_id ORDER BY cs DESC, pos ASC) AS rn
       |    FROM fs$s) WHERE rn = 1)""".stripMargin
  }

  private def pqSubCtes(s: Int, queryId: Long, ks: Int, iters: Int,
                        sub: Int, tbl: String = "embeddings"): String =
    s"""${pqTrainCtes(s, ks, iters, sub, tbl)},
       |q$s AS (SELECT ev AS qe FROM e$s WHERE vec_id = $queryId),
       |lut$s AS (
       |  SELECT c.pos, ${dotSql("c.ce", "q.qe", sub)} AS d
       |  FROM c${s}_$iters c CROSS JOIN q$s q),
       |sc$s AS (
       |  SELECT fa.vec_id, l.d FROM fa$s fa JOIN lut$s l ON fa.pos = l.pos)""".stripMargin

  /** [[pqSubCtes]] with the single query generalized to the query TABLE
    * `vec_id < nq`: lut and scores carry a `qid` key. */
  private def pqSubCtesBatch(s: Int, nq: Long, ks: Int, iters: Int,
                             sub: Int, tbl: String = "embeddings"): String =
    s"""${pqTrainCtes(s, ks, iters, sub, tbl)},
       |q$s AS (SELECT vec_id AS qid, ev AS qe FROM e$s WHERE vec_id < $nq),
       |lut$s AS (
       |  SELECT q.qid, c.pos, ${dotSql("c.ce", "q.qe", sub)} AS d
       |  FROM c${s}_$iters c CROSS JOIN q$s q),
       |sc$s AS (
       |  SELECT l.qid, fa.vec_id, l.d
       |  FROM fa$s fa JOIN lut$s l ON fa.pos = l.pos)""".stripMargin

  /** Oracle for [[ivfPqTopK]]: [[ivfSeededOracleSql]]'s coarse
    * seeds/assignment/probe CTEs (prefixed `c`) composed with
    * [[pqSubCtes]]'s per-subspace ADC machinery — the final select is
    * the PQ score sum restricted to vec_ids whose coarse list is
    * probed. Every double retraces one of the two parents' already-
    * verified op sequences. */
  def ivfPqOracleSql(queryId: Long, k: Int, nlist: Int = 16,
                     nprobe: Int = 4, m: Int = DefaultM, ks: Int = DefaultKs,
                     iters: Int = 2, dim: Int = OracleDim,
                     candPred: String = ""): String =
    "WITH " + ivfPqOracleCtes(queryId, k, nlist, nprobe, m, ks, iters, dim,
      "embeddings", candPred)

  /** Oracle for `ivfPqTopK(normalize = true)`: the identical coarse +
    * per-subspace machinery run over a UNIT-NORMALIZED twin of the
    * embeddings table — norm as the same literal left-associated x·x
    * chain the engine's dotProduct folds, sqrt, per-element divide
    * (zero vectors pass through), so every downstream double is
    * bit-identical to the Spark path's. */
  def ivfPqCosOracleSql(queryId: Long, k: Int, nlist: Int = 16,
                        nprobe: Int = 4, m: Int = DefaultM, ks: Int = DefaultKs,
                        iters: Int = 2, dim: Int = OracleDim,
                        candPred: String = ""): String =
    s"""WITH embeddings_n AS (
       |${normalizedTableSql(dim)}),
       |""".stripMargin +
      ivfPqOracleCtes(queryId, k, nlist, nprobe, m, ks, iters, dim,
        "embeddings_n", candPred)

  private def normalizedTableSql(dim: Int): String = {
    val aa = (1 to dim)
      .map(i => s"CAST(embedding[$i] AS DOUBLE) * CAST(embedding[$i] AS DOUBLE)")
      .mkString(" + ")
    s"""  SELECT vec_id,
       |    list_transform(embedding,
       |      x -> CASE WHEN nrm = 0 THEN CAST(x AS DOUBLE)
       |                ELSE CAST(x AS DOUBLE) / nrm END) AS embedding
       |  FROM (SELECT vec_id, embedding, sqrt($aa) AS nrm FROM embeddings)""".stripMargin
  }

  /** `candPred` (e.g. `"vec_id % 10 <> 7"`): restrict the CANDIDATE
    * set of the final ADC cut without touching the training CTEs —
    * the retire-channel replay. The engine's tombstoned serve
    * anti-joins retired ids out of the stored CODES only; codebooks,
    * coarse lists and per-vector assignments remain trained on the
    * historical corpus (the FAISS remove_ids contract), which is
    * exactly a predicate on the final selection and nowhere else. */
  private def ivfPqOracleCtes(queryId: Long, k: Int, nlist: Int,
                              nprobe: Int, m: Int, ks: Int,
                              iters: Int, dim: Int, tbl: String,
                              candPred: String = ""): String = {
    require(m >= 1 && dim % m == 0, s"dim=$dim must divide into m=$m subspaces")
    val sub = dim / m
    val cand = if (candPred.isEmpty) ""
               else s"\n    AND sc0.vec_id IN (SELECT vec_id FROM $tbl WHERE $candPred)"
    val joins = (1 until m)
      .map(s => s"  JOIN sc$s ON sc$s.vec_id = sc0.vec_id").mkString("\n")
    val sum = (0 until m).map(s => s"sc$s.d").mkString(" + ")
    s"""cseeds AS (
       |  SELECT row_number() OVER (ORDER BY vec_id) AS pos, embedding AS ce
       |  FROM (SELECT vec_id, embedding FROM $tbl ORDER BY vec_id LIMIT $nlist)),
       |csim AS (
       |  SELECT e.vec_id, s.pos, ${cosineSql("e.embedding", "s.ce", dim)} AS cs
       |  FROM $tbl e CROSS JOIN cseeds s),
       |casg AS (
       |  SELECT vec_id, pos FROM (
       |    SELECT vec_id, pos,
       |           row_number() OVER (PARTITION BY vec_id ORDER BY cs DESC, pos ASC) AS rn
       |    FROM csim) WHERE rn = 1),
       |cqsim AS (
       |  SELECT s.pos, ${cosineSql("s.ce", "q.qe", dim)} AS cs
       |  FROM (SELECT embedding AS qe FROM $tbl WHERE vec_id = $queryId) q
       |  CROSS JOIN cseeds s),
       |cprobe AS (
       |  SELECT pos FROM (
       |    SELECT pos, row_number() OVER (ORDER BY cs DESC, pos ASC) AS rn
       |    FROM cqsim) WHERE rn <= $nprobe),
       |${(0 until m).map(pqSubCtes(_, queryId, ks, iters, sub, tbl)).mkString(",\n")}
       |SELECT vec_id, adc_dot FROM (
       |  SELECT sc0.vec_id, $sum AS adc_dot
       |  FROM sc0
       |$joins
       |  JOIN casg ON casg.vec_id = sc0.vec_id
       |  WHERE casg.pos IN (SELECT pos FROM cprobe)
       |    AND sc0.vec_id <> $queryId$cand)
       |ORDER BY adc_dot DESC, vec_id ASC LIMIT $k""".stripMargin
  }

  /** Oracle for [[annJoinPqFromDir]] with the query set `vec_id < nq`:
    * [[ivfPqOracleSql]]'s coarse + per-subspace machinery with every
    * query-dependent CTE generalized to carry a `qid` key
    * ([[pqSubCtesBatch]]); the artifact path replays the identical
    * doubles because codebooks/coarse/codes are a pure function of the
    * corpus and params. */
  def annJoinPqOracleSql(nq: Long, k: Int, nlist: Int = 16,
                         nprobe: Int = 4, m: Int = DefaultM, ks: Int = DefaultKs,
                         iters: Int = 2, dim: Int = OracleDim): String =
    "WITH " + annJoinPqOracleCtes(nq, k, nlist, nprobe, m, ks, iters, dim,
      "embeddings")

  /** Oracle for [[annJoinPqFromDir]] over NORMALIZED artifacts — the
    * batch twin of [[ivfPqCosOracleSql]]: identical machinery over the
    * unit-normalized SQL twin of the table (queries included: the
    * meta-driven in-frame normalization replays the same doubles). */
  def annJoinPqCosOracleSql(nq: Long, k: Int, nlist: Int = 16,
                            nprobe: Int = 4, m: Int = DefaultM, ks: Int = DefaultKs,
                            iters: Int = 2, dim: Int = OracleDim): String =
    s"""WITH embeddings_n AS (
       |${normalizedTableSql(dim)}),
       |""".stripMargin +
      annJoinPqOracleCtes(nq, k, nlist, nprobe, m, ks, iters, dim,
        "embeddings_n")

  private def annJoinPqOracleCtes(nq: Long, k: Int, nlist: Int,
                                  nprobe: Int, m: Int, ks: Int,
                                  iters: Int, dim: Int,
                                  tbl: String): String = {
    require(m >= 1 && dim % m == 0, s"dim=$dim must divide into m=$m subspaces")
    val sub = dim / m
    val joins = (1 until m)
      .map(s => s"    JOIN sc$s ON sc$s.qid = sc0.qid AND sc$s.vec_id = sc0.vec_id")
      .mkString("\n")
    val sum = (0 until m).map(s => s"sc$s.d").mkString(" + ")
    s"""cseeds AS (
       |  SELECT row_number() OVER (ORDER BY vec_id) AS pos, embedding AS ce
       |  FROM (SELECT vec_id, embedding FROM $tbl ORDER BY vec_id LIMIT $nlist)),
       |csim AS (
       |  SELECT e.vec_id, s.pos, ${cosineSql("e.embedding", "s.ce", dim)} AS cs
       |  FROM $tbl e CROSS JOIN cseeds s),
       |casg AS (
       |  SELECT vec_id, pos FROM (
       |    SELECT vec_id, pos,
       |           row_number() OVER (PARTITION BY vec_id ORDER BY cs DESC, pos ASC) AS rn
       |    FROM csim) WHERE rn = 1),
       |cq AS (SELECT vec_id AS qid, embedding AS qe FROM $tbl WHERE vec_id < $nq),
       |cqsim AS (
       |  SELECT cq.qid, s.pos, ${cosineSql("cq.qe", "s.ce", dim)} AS cs
       |  FROM cq CROSS JOIN cseeds s),
       |cprobe AS (
       |  SELECT qid, pos FROM (
       |    SELECT qid, pos,
       |           row_number() OVER (PARTITION BY qid ORDER BY cs DESC, pos ASC) AS rn
       |    FROM cqsim) WHERE rn <= $nprobe),
       |${(0 until m).map(pqSubCtesBatch(_, nq, ks, iters, sub, tbl)).mkString(",\n")}
       |SELECT query_id, vec_id, adc_dot FROM (
       |  SELECT cand.*, row_number() OVER (
       |    PARTITION BY query_id ORDER BY adc_dot DESC, vec_id ASC) AS rn
       |  FROM (
       |    SELECT sc0.qid AS query_id, sc0.vec_id, $sum AS adc_dot
       |    FROM sc0
       |$joins
       |    JOIN casg ON casg.vec_id = sc0.vec_id
       |    JOIN cprobe ON cprobe.qid = sc0.qid AND cprobe.pos = casg.pos
       |    WHERE sc0.vec_id <> sc0.qid) cand)
       |WHERE rn <= $k
       |ORDER BY query_id, adc_dot DESC, vec_id""".stripMargin
  }

  /** ⟨a,b⟩ as the left-associated chain matching the sequential
    * accumulator loop (0.0 + x₀ ≡ x₀ exactly, so the seedless chain and
    * the zero-seeded loop produce identical doubles). */
  private def dotSql(a: String, b: String, dim: Int): String =
    (0 until dim)
      .map(i => s"CAST($a[${i + 1}] AS DOUBLE) * CAST($b[${i + 1}] AS DOUBLE)")
      .mkString(" + ")

  /** cos(a,b) matching [[VectorExpressions.CosineSim]]: independent ab /
    * aa / bb chains (the fused loop's accumulators are independent), 0 on
    * zero norm. */
  private def cosineSql(a: String, b: String, dim: Int): String = {
    def chain(f: Int => String) = (0 until dim).map(f).mkString(" + ")
    val ab = chain(i => s"CAST($a[${i + 1}] AS DOUBLE) * CAST($b[${i + 1}] AS DOUBLE)")
    val aa = chain(i => s"CAST($a[${i + 1}] AS DOUBLE) * CAST($a[${i + 1}] AS DOUBLE)")
    val bb = chain(i => s"CAST($b[${i + 1}] AS DOUBLE) * CAST($b[${i + 1}] AS DOUBLE)")
    s"CASE WHEN ($aa) = 0 OR ($bb) = 0 THEN 0 ELSE ($ab) / (sqrt($aa) * sqrt($bb)) END"
  }

  /** Oracle for [[bucketPairs]]: same literal hyperplanes → same sign
    * bits → same buckets → same candidate pairs → same cosine doubles. */
  def bucketPairsOracleSql(nPlanes: Int = 8, dim: Int = 64,
                           minCos: Double = 0.8): String = {
    val planes = hyperplanes(nPlanes, dim)
    s"""WITH b AS (SELECT vec_id, embedding, ${bucketSql("embedding", planes)} AS bucket
       |           FROM embeddings)
       |SELECT id_a, id_b, cos_sim FROM (
       |  SELECT a.vec_id AS id_a, b2.vec_id AS id_b,
       |         ${cosineSql("a.embedding", "b2.embedding", dim)} AS cos_sim
       |  FROM b a JOIN b b2 ON a.bucket = b2.bucket AND a.vec_id < b2.vec_id)
       |WHERE cos_sim >= ${dlit(minCos)}""".stripMargin
  }

  /** Oracle for [[ivfSeededTopK]]: seeds are the first `nlist` rows by
    * id (row_number over that order = the engine's 1-based centroid
    * position); assignment is argmax cosine with ties to the LOWER
    * position (NearestCentroid's strict `>` keeps the earlier centroid);
    * probe selection is the same (cos desc, pos asc) top-`nprobe`; the
    * final scan is exact cosine within probed lists. Every cosine uses
    * the independent-accumulator chain form, so doubles are
    * bit-identical to the engine's fused loops. */
  def ivfSeededOracleSql(queryId: Long, k: Int, nlist: Int = 16,
                         nprobe: Int = 4, dim: Int = 64): String =
    s"""WITH seeds AS (
       |  SELECT row_number() OVER (ORDER BY vec_id) AS pos, embedding AS ce
       |  FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT $nlist)),
       |sim AS (
       |  SELECT e.vec_id, s.pos, ${cosineSql("e.embedding", "s.ce", dim)} AS cs
       |  FROM embeddings e CROSS JOIN seeds s),
       |asg AS (
       |  SELECT vec_id, pos FROM (
       |    SELECT vec_id, pos,
       |           row_number() OVER (PARTITION BY vec_id ORDER BY cs DESC, pos ASC) AS rn
       |    FROM sim) WHERE rn = 1),
       |qsim AS (
       |  SELECT s.pos, ${cosineSql("s.ce", "q.qe", dim)} AS cs
       |  FROM (SELECT embedding AS qe FROM embeddings WHERE vec_id = $queryId) q
       |  CROSS JOIN seeds s),
       |probe AS (
       |  SELECT pos FROM (
       |    SELECT pos, row_number() OVER (ORDER BY cs DESC, pos ASC) AS rn
       |    FROM qsim) WHERE rn <= $nprobe)
       |SELECT vec_id, cos_sim FROM (
       |  SELECT e.vec_id, ${cosineSql("e.embedding", "q.qe", dim)} AS cos_sim
       |  FROM embeddings e
       |  JOIN asg ON asg.vec_id = e.vec_id
       |  CROSS JOIN (SELECT embedding AS qe FROM embeddings WHERE vec_id = $queryId) q
       |  WHERE asg.pos IN (SELECT pos FROM probe) AND e.vec_id <> $queryId)
       |ORDER BY cos_sim DESC, vec_id ASC LIMIT $k""".stripMargin

  /** Oracle for [[ivfIterTopK]]: the Lloyd loop UNROLLED as one CTE
    * chain per iteration — assignment by the same argmax-cosine (ties to
    * the lower position), centroid update as `list(ev ORDER BY vec_id)`
    * + per-dim `list_reduce` left folds (bit-identical to the engine's
    * sorted sequential fold, seeded with the first member), positions
    * re-ranked by cid so empty clusters collapse exactly like the
    * engine's sortBy+position reindex. Probe/final phases mirror
    * [[ivfSeededOracleSql]] against the LAST iteration's centroids. */
  def ivfIterOracleSql(queryId: Long, k: Int, nlist: Int = 16,
                       nprobe: Int = 4, iters: Int = 2,
                       dim: Int = OracleDim): String = {
    // centroid per-dim ordered fold: [Σ_fold m[1], …, Σ_fold m[dim]] / n
    val foldList = (1 to dim)
      .map(d => s"list_reduce(list_transform(ms, m -> m[$d]), (x, y) -> x + y) / n")
      .mkString("[", ", ", "]")
    val iterCtes = (1 to iters).map { i =>
      s"""s$i AS (
         |  SELECT e.vec_id, c.pos, ${cosineSql("e.ev", "c.ce", dim)} AS cs
         |  FROM e CROSS JOIN c${i - 1} c),
         |a$i AS (
         |  SELECT vec_id, pos FROM (
         |    SELECT vec_id, pos,
         |           row_number() OVER (PARTITION BY vec_id ORDER BY cs DESC, pos ASC) AS rn
         |    FROM s$i) WHERE rn = 1),
         |g$i AS (
         |  SELECT a.pos AS cid, list(e.ev ORDER BY e.vec_id) AS ms, count(*) AS n
         |  FROM a$i a JOIN e ON a.vec_id = e.vec_id GROUP BY a.pos),
         |c$i AS (
         |  SELECT row_number() OVER (ORDER BY cid) AS pos, $foldList AS ce
         |  FROM g$i)""".stripMargin
    }.mkString(",\n")
    s"""WITH e AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ev
       |  FROM embeddings),
       |c0 AS (
       |  SELECT row_number() OVER (ORDER BY vec_id) AS pos, ev AS ce
       |  FROM (SELECT vec_id, ev FROM e ORDER BY vec_id LIMIT $nlist)),
       |$iterCtes,
       |qv AS (SELECT ev AS qe FROM e WHERE vec_id = $queryId),
       |fs AS (
       |  SELECT e.vec_id, c.pos, ${cosineSql("e.ev", "c.ce", dim)} AS cs
       |  FROM e CROSS JOIN c$iters c),
       |fasg AS (
       |  SELECT vec_id, pos FROM (
       |    SELECT vec_id, pos,
       |           row_number() OVER (PARTITION BY vec_id ORDER BY cs DESC, pos ASC) AS rn
       |    FROM fs) WHERE rn = 1),
       |qsim AS (
       |  SELECT c.pos, ${cosineSql("c.ce", "qv.qe", dim)} AS cs
       |  FROM c$iters c CROSS JOIN qv),
       |probe AS (
       |  SELECT pos FROM (
       |    SELECT pos, row_number() OVER (ORDER BY cs DESC, pos ASC) AS rn
       |    FROM qsim) WHERE rn <= $nprobe)
       |SELECT vec_id, cos_sim FROM (
       |  SELECT e.vec_id, ${cosineSql("e.ev", "qv.qe", dim)} AS cos_sim
       |  FROM e JOIN fasg ON fasg.vec_id = e.vec_id CROSS JOIN qv
       |  WHERE fasg.pos IN (SELECT pos FROM probe) AND e.vec_id <> $queryId)
       |ORDER BY cos_sim DESC, vec_id ASC LIMIT $k""".stripMargin
  }

  /** Oracle for [[lshTopK]]: same buckets, Hamming ≤ 1 probe, exact
    * cosine, same (cos desc, id asc) tie-break. */
  def lshTopKOracleSql(queryId: Long, k: Int,
                       nPlanes: Int = 8, dim: Int = 64): String = {
    val planes = hyperplanes(nPlanes, dim)
    s"""WITH b AS (SELECT vec_id, embedding, ${bucketSql("embedding", planes)} AS bucket
       |           FROM embeddings),
       |q AS (SELECT embedding AS qe, bucket AS qb FROM b WHERE vec_id = $queryId)
       |SELECT vec_id, cos_sim FROM (
       |  SELECT b.vec_id, ${cosineSql("b.embedding", "q.qe", dim)} AS cos_sim
       |  FROM b, q
       |  WHERE b.vec_id <> $queryId AND bit_count(xor(b.bucket, q.qb)) <= 1)
       |ORDER BY cos_sim DESC, vec_id ASC LIMIT $k""".stripMargin
  }

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic dedup via
    * cluster-then-cosine — coarse-quantize the corpus (same fixed seed
    * centroids as [[ivfSeededTopK]]: first `nlist` vectors by id, zero
    * Lloyd iterations, so every double is oracle-reproducible), then
    * compare cosine ONLY within each cluster and mark the higher-id
    * member of every pair above `minCos` as dropped. Output: one row per
    * vector — (id, cid, dropped 0/1).
    *
    * Scale shape: assignment is a map-side [[NearestCentroid]] projection
    * against driver-literal centroids (no join, no shuffle); the
    * candidate pair space is cluster-local via ONE self-join on `cid` —
    * never n² — and only (vid, cid) pairs travel into the final
    * marking join. The |cluster|² caveat is the same as
    * [[bucketPairs]]/LSH banding: at corpus scale `nlist` grows with n
    * (SemDeDup runs ~100k clusters on web-scale corpora) so clusters
    * stay bounded; the driver-side centroid collect is O(nlist·dim)
    * metadata, the [[kmeansLocalCentroids]] contract. */
  private def semAssign(emb: DataFrame, id: String, vec: String,
                        nlist: Int): DataFrame = {
    val v = emb.select(col(id).as("vid"), transform(col(vec), _.cast("double")).as("v"))
    v.select(col("vid"), col("v"),
      NearestCentroid(col("v"), seededCentroids(v, nlist)).as("cid"))
  }

  /** Higher-id member of every same-cluster pair with cosine >= minCos;
    * the join condition keeps the pair space cluster-local and the
    * cosine is the fused-loop expression, evaluated once per candidate.
    *
    * RETENTION SEMANTICS — pairwise drop, NOT keep-one-per-component:
    * every vector that is the higher id of ANY above-threshold pair is
    * dropped, even when its lower-id partner was itself dropped by an
    * earlier pair (transitive over-dropping). This is deliberately
    * STRICTER than the SemDeDup paper's keep-one-representative-per-
    * duplicate-group reading: within a near-dup chain a…b…c it keeps
    * only the minimum id, and it does so with ONE cluster-local join —
    * no connected-components rounds — which is also what makes it
    * expressible as plain SQL for the oracle. Callers wanting
    * paper-faithful keep-one-per-component retention should feed the
    * above-threshold pairs to [[Dedup.connectedComponents]] and keep
    * each component's min id; for dedup purposes the sets differ only
    * on chains whose links straddle the threshold. */
  private def semDroppedVids(assigned: DataFrame, minCos: Double): DataFrame =
    assigned.as("a").join(assigned.as("b"),
        col("a.cid") === col("b.cid") && col("a.vid") < col("b.vid"))
      .where(cosine(col("a.v"), col("b.v")) >= minCos)
      .select(col("b.vid").as("vid")).distinct()

  def semDedup(emb: DataFrame, id: String, vec: String,
               nlist: Int = 16, minCos: Double = 0.3): DataFrame = {
    val assigned = semAssign(emb, id, vec, nlist)
    assigned.select(col("vid"), col("cid"))
      .join(semDroppedVids(assigned, minCos).withColumn("d", lit(1)),
        Seq("vid"), "left")
      .select(col("vid").as(id), col("cid"),
        coalesce(col("d"), lit(0)).as("dropped"))
  }

  /** Just the dropped-id set — consumers that only anti-join the drops
    * (e.g. the q_pipeline_semantic composition) skip [[semDedup]]'s
    * per-vector marking join and full-corpus projection. */
  def semDedupDropped(emb: DataFrame, id: String, vec: String,
                      nlist: Int = 16, minCos: Double = 0.3): DataFrame =
    semDroppedVids(semAssign(emb, id, vec, nlist), minCos)
      .select(col("vid").as(id))

  /** PAPER-FAITHFUL keep-one-per-component SemDeDup — the alternative
    * retention the [[semDroppedVids]] note names, shipped as an option:
    * the same cluster-local above-threshold pairs feed
    * [[Dedup.connectedComponents]] and exactly one representative (the
    * component MINIMUM id) survives per near-dup group. Identical output
    * contract to [[semDedup]] — (id, cid, dropped 0/1) per vector. The
    * two variants differ only on chains whose links straddle the
    * threshold: pairwise-drop can drop a vector whose own partner was
    * already dropped (transitive over-dropping), keep-one never drops
    * below one survivor per component.
    *
    * Scale shape: the pair join is the same cluster-local one as
    * [[semDedup]]; only (vid, vid) pair keys enter the CC rounds
    * (bounded driver union-find fast path with the distributed
    * fallback), and the final marking is one key-only left join. */
  def semDedupCC(emb: DataFrame, id: String, vec: String,
                 nlist: Int = 16, minCos: Double = 0.3): DataFrame = {
    val assigned = semAssign(emb, id, vec, nlist)
    val pairs = assigned.as("a").join(assigned.as("b"),
        col("a.cid") === col("b.cid") && col("a.vid") < col("b.vid"))
      .where(cosine(col("a.v"), col("b.v")) >= minCos)
      .select(col("a.vid").as("doc_a"), col("b.vid").as("doc_b"))
    // pairs are unique by construction (one assigned row per vid, a<b)
    val comps = Dedup.connectedComponents(pairs, pairsDistinct = true)
      .select(col("doc_id").as("vid"), col("component_rep"))
    assigned.select(col("vid"), col("cid"))
      .join(comps, Seq("vid"), "left")
      .select(col("vid").as(id), col("cid"),
        when(col("component_rep").isNotNull &&
          col("component_rep") =!= col("vid"), 1)
          .otherwise(0).cast("int").as("dropped"))
  }

  /** The shared seeds/sim/asg assignment CTE block (the
    * [[ivfSeededOracleSql]] row_number argmax with the same
    * cs-DESC/pos-ASC tie-break as NearestCentroid) — one copy for both
    * semdedup oracles, zero drift. */
  private def semAssignCtes(nlist: Int, dim: Int): String =
    s"""seeds AS (
       |  SELECT row_number() OVER (ORDER BY vec_id) AS pos, embedding AS ce
       |  FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT $nlist)),
       |sim AS (
       |  SELECT e.vec_id, s.pos, ${cosineSql("e.embedding", "s.ce", dim)} AS cs
       |  FROM embeddings e CROSS JOIN seeds s),
       |asg AS (
       |  SELECT vec_id, CAST(pos AS INTEGER) AS cid FROM (
       |    SELECT vec_id, pos,
       |           row_number() OVER (PARTITION BY vec_id ORDER BY cs DESC, pos ASC) AS rn
       |    FROM sim) WHERE rn = 1)""".stripMargin

  /** Oracle for [[semDedup]]: the shared assignment CTEs, a
    * cluster-local pair join, and the same left-assoc cosine chains —
    * every compared double is bit-identical to the engine's fused
    * loops. */
  def semDedupOracleSql(nlist: Int = 16, minCos: Double = 0.3,
                        dim: Int = 64): String =
    s"""WITH ${semAssignCtes(nlist, dim)},
       |dropped AS (
       |  SELECT DISTINCT b.vec_id
       |  FROM asg a JOIN asg b ON a.cid = b.cid AND a.vec_id < b.vec_id
       |  JOIN embeddings ea ON ea.vec_id = a.vec_id
       |  JOIN embeddings eb ON eb.vec_id = b.vec_id
       |  WHERE ${cosineSql("ea.embedding", "eb.embedding", dim)} >= ${dlit(minCos)})
       |SELECT asg.vec_id, asg.cid,
       |  CAST(CASE WHEN dropped.vec_id IS NULL THEN 0 ELSE 1 END AS INTEGER) AS dropped
       |FROM asg LEFT JOIN dropped ON asg.vec_id = dropped.vec_id""".stripMargin

  // ---- cluster-balanced diversity sampling --------------------------------

  /** CLUSTER-BALANCED diversity sampling: cap every embedding cluster
    * at `quota` members so over-represented modes (template boilerplate,
    * near-duplicate spam regions of embedding space) stop dominating
    * the training mixture — the embedding-space complement of the
    * per-source mixture cap
    * ([[graft.queries.CurationQueries.mixApplyOf]]), and the
    * "cluster-then-balance" selection step the SemDeDup line of work
    * applies after dedup. Assignment is the seeded deterministic
    * quantizer ([[seededCentroids]] + [[NearestCentroid]], ties to the
    * lower centroid); retention within a cluster is the md5
    * hash-bucket draw (keep iff bucket(id) < rate·10⁶,
    * rate = min(1, quota/n)) — reproducible across engines and runs,
    * uncorrelated with id order.
    *
    * Output: one row per KEPT vector (id, cid, rate).
    *
    * Scale shape: assignment is one map-side fused projection (zero
    * corpus shuffle); cluster counts aggregate to `nlist` rows and
    * BROADCAST back; the draw is a per-row hash comparison. The only
    * corpus-scale movement is the one groupBy's map-side-combined
    * (cid) counts — fixed-width rows, nlist distinct keys. */
  def clusterSample(emb: DataFrame, id: String, vec: String,
                    quota: Int, nlist: Int = 16,
                    buckets: Int = 1000000): DataFrame = {
    val v = emb.select(col(id).as("vid"), asDouble(col(vec)).as("v"))
    val assigned = v.select(col("vid"),
      NearestCentroid(col("v"), seededCentroids(v, nlist)).as("cid"))
    val rates = assigned.groupBy("cid")
      .agg(count(lit(1)).as("n"))
      .select(col("cid"),
        least(lit(1.0), lit(quota).cast("double") / col("n")).as("rate"))
    assigned.join(broadcast(rates), Seq("cid"))
      .where(TextAnalysis.hashBucket(col("vid"), buckets).cast("double") <
        col("rate") * buckets)
      .select(col("vid").as(id), col("cid"), col("rate"))
  }

  /** Oracle for [[clusterSample]]: the shared seeded-assignment CTEs,
    * the same min(1, quota/n) rate arithmetic, the same md5 draw. */
  def clusterSampleOracleSql(quota: Int, nlist: Int = 16,
                             buckets: Int = 1000000,
                             dim: Int = OracleDim): String =
    s"""WITH ${semAssignCtes(nlist, dim)},
       |rates AS (
       |  SELECT cid, least(1.0, CAST($quota AS DOUBLE) / count(*)) AS rate
       |  FROM asg GROUP BY cid)
       |SELECT asg.vec_id, asg.cid, rates.rate
       |FROM asg JOIN rates USING (cid)
       |WHERE CAST(CAST(concat('0x', substr(md5(CAST(asg.vec_id AS VARCHAR)), 1, 15)) AS BIGINT)
       |        % $buckets AS DOUBLE) < rate * $buckets""".stripMargin

  /** Embedding OUTLIER report: vectors whose cosine to their NEAREST
    * seeded centroid is below `maxCos` — weakly attached to every mode
    * of the corpus, the "garbage embedding" candidates (encoder
    * failures, binary-decoded-as-text, off-distribution content) a
    * curation pass reviews or drops. One fused [[BestCosine]]
    * projection (assignment AND its cosine in a single map-side pass —
    * zero corpus shuffle, like [[clusterSample]]'s assignment but
    * keeping the similarity).
    *
    * Output: one row per OUTLIER (id, cid, cos_sim). */
  def embedOutliers(emb: DataFrame, id: String, vec: String,
                    maxCos: Double, nlist: Int = 16): DataFrame = {
    val v = emb.select(col(id).as("vid"), asDouble(col(vec)).as("v"))
    v.select(col("vid"),
        BestCosine(col("v"), seededCentroids(v, nlist)).as("bc"))
      .where(col("bc.cos") < maxCos)
      .select(col("vid").as(id), col("bc.pos").as("cid"),
        col("bc.cos").as("cos_sim"))
  }

  /** Oracle for [[embedOutliers]]: the shared seeded sim CTEs with the
    * argmax row keeping its cosine. */
  def embedOutliersOracleSql(maxCos: Double, nlist: Int = 16,
                             dim: Int = OracleDim): String =
    s"""WITH seeds AS (
       |  SELECT row_number() OVER (ORDER BY vec_id) AS pos, embedding AS ce
       |  FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT $nlist)),
       |sim AS (
       |  SELECT e.vec_id, s.pos, ${cosineSql("e.embedding", "s.ce", dim)} AS cs
       |  FROM embeddings e CROSS JOIN seeds s),
       |best AS (
       |  SELECT vec_id, CAST(pos AS INTEGER) AS cid, cs,
       |         row_number() OVER (PARTITION BY vec_id ORDER BY cs DESC, pos ASC) AS rn
       |  FROM sim)
       |SELECT vec_id, cid, cs AS cos_sim FROM best
       |WHERE rn = 1 AND cs < ${dlit(maxCos)}""".stripMargin

  // ---- semantic decontamination ------------------------------------------

  /** SEMANTIC benchmark decontamination — the embedding-space
    * complement of the shingle-overlap check
    * ([[graft.queries.CurationQueries.decontaminateAgainst]]): flag
    * training vectors whose cosine against ANY held-out benchmark
    * vector reaches `minCos`. Paraphrased or re-worded bench leakage
    * has near-identical embeddings but ZERO shared 5-gram shingles, so
    * the n-gram check misses exactly the contamination this one
    * catches.
    *
    * Scale shape: the bench side is the eval suite — bounded by
    * construction (the centroid/codebook collect precedent) — so it
    * collects once and rides into [[BestCosine]], ONE fused map-side
    * projection over the corpus: zero shuffle, zero join, the
    * [[NearestCentroid]] discipline with the similarity kept for the
    * threshold. Output: one row per CONTAMINATED train vector with its
    * best-matching bench id (cosine argmax, ties to the LOWER bench id)
    * and the cosine.
    *
    * Reference analogue: the repo's pipelines dedup on exact text only
    * (ref `crawl/dedup.py`-style exact keys); decontamination and its
    * semantic form are the LLM-pipeline extension families (SURVEY
    * §2.10). */
  def decontaminateSem(train: DataFrame, bench: DataFrame, id: String,
                       vec: String, minCos: Double): DataFrame = {
    // bounded collect: the bench set is MBs against a 100 TB corpus
    val rows = bench.select(col(id).cast("long"), asDouble(col(vec)))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
      .sortBy(_._1)
    decontaminateSemAgainst(train, rows.map(_._1), rows.map(_._2),
      id, vec, minCos)
  }

  /** The scoring tail both the recomputed and the stored path share:
    * ids/matrix are the bench set sorted by id, so [[BestCosine]]'s
    * tie-to-lower-POS is tie-to-lower bench id. */
  private def decontaminateSemAgainst(train: DataFrame, ids: Array[Long],
                                      matrix: Array[Array[Double]], id: String,
                                      vec: String, minCos: Double): DataFrame = {
    if (ids.isEmpty)
      // empty bench set → nothing can be contaminated; keep the contract schema
      return train.select(col(id),
        lit(null).cast("long").as("bench_id"),
        lit(null).cast("double").as("cos_sim")).limit(0)
    train
      .withColumn("bc", BestCosine(col(vec), matrix))
      .where(col("bc.cos") >= minCos)
      .select(col(id),
        element_at(lit(ids), col("bc.pos")).as("bench_id"),
        col("bc.cos").as("cos_sim"))
  }

  /** Persist the bench set's (id, double-cast vector) rows — the
    * semantic-decontamination artifact: bench sets are STATIC (a fixed
    * eval suite) while training corpora churn, so the write-once /
    * probe-per-batch split of `bench_shingles` / `q_sim_*_probe`
    * applies verbatim. */
  def benchVecArtifacts(bench: DataFrame, id: String, vec: String,
                        dir: String): Unit =
    bench.select(col(id).cast("long").as("bench_id"),
        asDouble(col(vec)).as("bv"))
      .write.mode("overwrite").parquet(s"$dir/bench_vecs")

  /** Decontaminate `train` against a PERSISTED bench vector set
    * ([[benchVecArtifacts]]) — zero bench-side compute per run;
    * identical scoring tail to [[decontaminateSem]], so the stored path
    * shares its oracle. */
  def decontaminateSemFromDir(train: DataFrame, id: String, vec: String,
                              dir: String, minCos: Double): DataFrame = {
    val rows = Tables.parquet(train.sparkSession, s"$dir/bench_vecs")
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
      .sortBy(_._1)
    decontaminateSemAgainst(train, rows.map(_._1), rows.map(_._2),
      id, vec, minCos)
  }

  /** Oracle for [[decontaminateSem]] over the fixture's md5-bucket
    * bench split: the same independent-accumulator cosine chains, the
    * argmax as the (cos DESC, bench_id ASC) row_number — bit-identical
    * doubles, identical tie-break. */
  def decontaminateSemOracleSql(benchBuckets: Int, benchBucket: Int,
                                minCos: Double, dim: Int = OracleDim): String =
    s"""WITH bkt AS (
       |  SELECT vec_id, embedding,
       |    CAST(concat('0x', substr(md5(CAST(vec_id AS VARCHAR)), 1, 15)) AS BIGINT)
       |      % $benchBuckets AS bucket
       |  FROM embeddings),
       |best AS (
       |  SELECT t.vec_id, b.vec_id AS bench_id,
       |    ${cosineSql("t.embedding", "b.embedding", dim)} AS cos_sim,
       |    row_number() OVER (PARTITION BY t.vec_id
       |      ORDER BY ${cosineSql("t.embedding", "b.embedding", dim)} DESC,
       |               b.vec_id ASC) AS rn
       |  FROM bkt t JOIN bkt b
       |    ON t.bucket <> $benchBucket AND b.bucket = $benchBucket)
       |SELECT vec_id, bench_id, cos_sim FROM best
       |WHERE rn = 1 AND cos_sim >= ${dlit(minCos)}""".stripMargin

  /** Spliceable CTE pair for audits that only need the CONTAMINATED id
    * set (EXISTS ≥ minCos ⟺ max ≥ minCos — the argmax itself isn't
    * needed): `ebkt` buckets the embeddings, `semc` yields one
    * doc_id per flagged train vector. Same chains, same cut as
    * [[decontaminateSemOracleSql]]. */
  def decontaminateSemIdsCte(benchBuckets: Int, benchBucket: Int,
                             minCos: Double, dim: Int = OracleDim): String =
    s"""ebkt AS (
       |  SELECT vec_id, embedding,
       |    CAST(concat('0x', substr(md5(CAST(vec_id AS VARCHAR)), 1, 15)) AS BIGINT)
       |      % $benchBuckets AS ebucket
       |  FROM embeddings),
       |semc AS (
       |  SELECT DISTINCT t.vec_id AS doc_id
       |  FROM ebkt t JOIN ebkt b2
       |    ON t.ebucket <> $benchBucket AND b2.ebucket = $benchBucket
       |  WHERE ${cosineSql("t.embedding", "b2.embedding", dim)} >= ${dlit(minCos)})""".stripMargin

  /** Oracle for [[semDedupCC]]: the same assignment + above-threshold
    * pair CTEs, then the [[Dedup.dedupGroupsOracleSql]] transitive-
    * closure walk — min(comp) per vertex is the component minimum the
    * engine's connectedComponents converges to; dropped = vertex in ≥1
    * pair whose component minimum is not itself. */
  def semDedupCCOracleSql(nlist: Int = 16, minCos: Double = 0.3,
                          dim: Int = 64): String =
    s"""WITH RECURSIVE ${semAssignCtes(nlist, dim)},
       |pairs AS (
       |  SELECT a.vec_id AS doc_a, b.vec_id AS doc_b
       |  FROM asg a JOIN asg b ON a.cid = b.cid AND a.vec_id < b.vec_id
       |  JOIN embeddings ea ON ea.vec_id = a.vec_id
       |  JOIN embeddings eb ON eb.vec_id = b.vec_id
       |  WHERE ${cosineSql("ea.embedding", "eb.embedding", dim)} >= ${dlit(minCos)}),
       |edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
       |          UNION SELECT doc_b AS src, doc_a AS dst FROM pairs),
       |walk(id, comp) AS (
       |  SELECT src, src FROM edges
       |  UNION
       |  SELECT e.src, w.comp FROM edges e JOIN walk w ON e.dst = w.id),
       |rep AS (SELECT id AS vec_id, min(comp) AS component_rep
       |        FROM walk GROUP BY id)
       |SELECT asg.vec_id, asg.cid,
       |  CAST(CASE WHEN rep.component_rep IS NOT NULL
       |              AND rep.component_rep <> asg.vec_id
       |       THEN 1 ELSE 0 END AS INTEGER) AS dropped
       |FROM asg LEFT JOIN rep ON asg.vec_id = rep.vec_id""".stripMargin

  // ---- MMR diversified top-k (Carbonell & Goldstein 1998) ----

  /** Maximal-marginal-relevance diversified top-k: greedily pick the
    * candidate maximizing λ·rel − (1−λ)·max_sim-to-already-selected —
    * the rerank that keeps a retrieval (or data-selection) head from
    * collapsing onto near-duplicates the dedup stack intentionally
    * kept (legitimate same-topic variants).
    *
    * Scale shape: the corpus-scale half is the SHORTLIST (exact
    * cosine top-N here — map-side scored, TakeOrderedAndProject, no
    * corpus shuffle; the stored-ANN probes are drop-in shortlist
    * sources). The greedy half is inherently sequential but runs on
    * the BOUNDED shortlist: k iterations, each a ≤N×k broadcast grid
    * + a 1-row argmax collect (the bounded-driver-artifact pattern).
    * MMR scores are rounded to 6 decimals before the argmax, with the
    * id tie-break, so the selection sequence is deterministic
    * cross-engine (the RRF rounded-score discipline); the oracle
    * unrolls the same greedy loop ([[mmrOracleSql]]). */
  def mmrTopK(emb: DataFrame, id: String, vec: String, queryId: Long,
              k: Int, shortlistN: Int, lambda: Double): DataFrame = {
    val q = emb.where(col(id) === queryId).select(col(vec).as("q_vec"))
    // the shortlist CUT orders by the ROUNDED relevance (6 decimals,
    // id tie-break) — the same rounded-score discipline the greedy
    // argmax uses: an FP boundary tie at the cut would otherwise flip
    // shortlist membership cross-engine, and the greedy rerank
    // amplifies one flip into a different selection sequence. The
    // emitted `rel` column stays the raw double (what the λ-blend
    // consumes); only the ordering is rounded, mirrored in
    // [[mmrOracleSql]]'s ORDER BY.
    mmrGreedy(emb.where(col(id) =!= queryId)
      .crossJoin(broadcast(q))
      .select(col(id).as("vec_id"), col(vec).as("emb"),
        cosine(col(vec), col("q_vec")).as("rel"))
      .orderBy(round(col("rel"), 6).desc, col("vec_id").asc)
      .limit(shortlistN), k, lambda)
  }

  /** The greedy MMR loop over ANY bounded shortlist frame
    * `(vec_id, emb, rel)` — [[mmrTopK]] feeds it the exact-cosine cut,
    * [[graft.queries.PipelineQueries]]'s ANN row feeds it the stored
    * IVFADC+R probe's re-ranked candidates (the production shape:
    * zero corpus-scale work at serve beyond the pruned probe). */
  /* The returned frame is the k picks themselves — bounded by
   * construction (like the merge tables and centroid frames), so its
   * LocalRelation plan is the right shape: the distributed work is the
   * shortlist job that already ran.
   *
   * r17 optimization: the greedy loop itself runs DRIVER-SIDE over the
   * collected shortlist instead of issuing k sequential Spark jobs
   * (each a broadcast grid + 1-row argmax collect — ~2 jobs per pick,
   * ~0.5–1 s of pure job-launch latency per MMR row at any scale). The
   * shortlist is BOUNDED by construction (≤ shortlistN rows — the same
   * bounded-driver-artifact class as the BPE merge table and the
   * k-means centroid frames), so one collect of (id, vec, rel) replaces
   * 2k round-trips while the corpus-scale work stays exactly where it
   * was: in the shortlist job. Bit-identical by construction:
   * [[localCosine]] is the same fused Σab/Σa²/Σb² loop as the codegen'd
   * [[CosineSim]], max over the selected set is order-insensitive, and
   * the 6-decimal HALF_UP round matches Spark's `round` (both go
   * through BigDecimal.valueOf(x).setScale(6, HALF_UP)) — MmrSpec pins
   * the selection sequence and the oracle rows hash-pin the doubles. */
  def mmrGreedy(shortlistDf: DataFrame, k: Int, lambda: Double): DataFrame = {
    val spark = shortlistDf.sparkSession
    // ONE bounded collect: (vec_id, vector-as-double, rel); ordering is
    // irrelevant — every pick below is an explicit (mmr DESC, id ASC)
    // argmax, never a positional cut
    val rows = shortlistDf
      .select(col("vec_id"), asDouble(col("emb")).as("emb"), col("rel"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray, r.getDouble(2)))
    def round6(x: Double): Double =
      // NaN/Inf pass through like Spark's round() (BigDecimal.valueOf
      // would throw NumberFormatException — r17 ADVICE)
      if (x.isNaN || x.isInfinite) x
      else java.math.BigDecimal.valueOf(x)
        .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
    val picks =
      scala.collection.mutable.ArrayBuffer.empty[(Int, Long, Double, Double)]
    val selected = scala.collection.mutable.ArrayBuffer.empty[Array[Double]]
    val taken = scala.collection.mutable.Set.empty[Long]
    var rank = 1
    while (rank <= k && taken.size < rows.length) {
      var bestId = Long.MinValue; var bestRel = 0.0
      var bestMmr = Double.NegativeInfinity; var found = false
      for ((id, emb, rel) <- rows if !taken.contains(id)) {
        val mmr =
          if (selected.isEmpty) round6(lambda * rel)
          else {
            var maxSim = Double.NegativeInfinity
            for (s <- selected) {
              val c = localCosine(emb, s)
              if (c > maxSim) maxSim = c
            }
            round6(lambda * rel - (1.0 - lambda) * maxSim)
          }
        if (!found || mmr > bestMmr || (mmr == bestMmr && id < bestId)) {
          found = true; bestId = id; bestRel = rel; bestMmr = mmr
        }
      }
      picks += ((rank, bestId, bestRel, bestMmr))
      taken += bestId
      selected += rows.find(_._1 == bestId).get._2
      rank += 1
    }
    import spark.implicits._
    picks.toSeq.toDF("sel_rank", "vec_id", "rel", "mmr")
  }

  /** The (mean relevance, mean pairwise cosine) of [[mmrTopK]]'s picks
    * — the measurement kernel behind SCALE.md's `MMR defaults` row and the
    * default-contract floor in [[graft.MmrSpec]]: relevance is the mean
    * query cosine of the selected k, diversity is the mean pairwise
    * cosine AMONG them (lower = more diverse; λ=1.0 degenerates to
    * pure-relevance top-k, the baseline both numbers are read against).
    * k is bounded, so the pairwise grid is driver-side arithmetic over
    * the collected pick vectors ([[localCosine]] — the engine's own op
    * order). */
  def mmrTradeoff(emb: DataFrame, id: String, vec: String, queryId: Long,
                  k: Int, shortlistN: Int, lambda: Double): (Double, Double) = {
    val rows = mmrTopK(emb, id, vec, queryId, k, shortlistN, lambda)
      .join(emb.select(col(id).as("vec_id"), asDouble(col(vec)).as("v")),
        Seq("vec_id"))
      .select(col("rel"), col("v")).collect()
      .map(r => (r.getDouble(0), r.getSeq[Double](1).toArray))
    val rel = rows.map(_._1).sum / rows.length
    val pairs = for {
      i <- rows.indices; j <- (i + 1) until rows.length
    } yield localCosine(rows(i)._2, rows(j)._2)
    (rel, if (pairs.isEmpty) 0.0 else pairs.sum / pairs.length)
  }

  /** Oracle for [[mmrTopK]]: the same shortlist cut, then the greedy
    * loop unrolled — per pick, the λ-blend over max cosine to the
    * accumulated selected set, rounded to 6 decimals with the id
    * tie-break (identical argmax sequence by construction). Every CTE
    * is MATERIALIZED: pick_i references all_{i-1} twice and all_i a
    * third time, so DuckDB's default inlining re-evaluates the corpus
    * cosine scan 3^k times — materialization makes the unrolled greedy
    * linear in k (1.3 s vs unbounded at sf0.01). */
  def mmrOracleSql(k: Int, shortlistN: Int, lambda: Double,
                   dim: Int = OracleDim): String =
    mmrGreedySql(
      s"""SELECT vec_id, embedding,
         ${cosineSql("embedding", "qe", dim)} AS rel
         FROM embeddings
         CROSS JOIN (SELECT embedding AS qe FROM embeddings
                     WHERE vec_id = 0) q
         WHERE vec_id <> 0
         ORDER BY round(rel, 6) DESC, vec_id ASC LIMIT $shortlistN""", k, lambda, dim)

  /** Oracle for the stored-ANN MMR composition: the verified IVFADC+R
    * machinery shortlists ([[ivfPqCosRerankOracleSql]] as a subquery),
    * raw embeddings joined back for the pairwise-similarity half, then
    * the same unrolled greedy. */
  def mmrAnnOracleSql(k: Int, topN: Int, lambda: Double,
                      shortlist: Int, m: Int, ks: Int,
                      dim: Int = OracleDim,
                      candPred: String = ""): String =
    mmrGreedySql(
      s"""SELECT t.vec_id, e.embedding, t.cos AS rel
         FROM (${ivfPqCosRerankOracleSql(0L, topN, shortlist, m = m, ks = ks,
           candPred = candPred)}) t
         JOIN embeddings e ON e.vec_id = t.vec_id""", k, lambda, dim)

  /** The unrolled greedy over any `(vec_id, embedding, rel)` shortlist
    * SQL. */
  private def mmrGreedySql(relSql: String, k: Int, lambda: Double,
                           dim: Int): String = {
    val l = dlit(lambda)
    val oml = dlit(1.0 - lambda)
    val sb = new StringBuilder
    sb ++= s"""WITH rel AS MATERIALIZED ($relSql),
sel1 AS MATERIALIZED (SELECT vec_id, rel, 1 AS sel_rank, round($l * rel, 6) AS mmr
         FROM rel ORDER BY round($l * rel, 6) DESC, vec_id ASC LIMIT 1),
all1 AS MATERIALIZED (SELECT vec_id, rel, sel_rank, mmr FROM sel1)"""
    for (i <- 2 to k) {
      sb ++= s""",
pick$i AS MATERIALIZED (SELECT r.vec_id, r.rel,
             round($l * r.rel - $oml *
               max(${cosineSql("r.embedding", "s.embedding", dim)}), 6) AS mmr
           FROM rel r JOIN rel s
             ON s.vec_id IN (SELECT vec_id FROM all${i - 1})
           WHERE r.vec_id NOT IN (SELECT vec_id FROM all${i - 1})
           GROUP BY r.vec_id, r.rel
           ORDER BY mmr DESC, r.vec_id ASC LIMIT 1),
all$i AS MATERIALIZED (SELECT * FROM all${i - 1}
          UNION ALL SELECT vec_id, rel, $i AS sel_rank, mmr FROM pick$i)"""
    }
    sb ++= s"\nSELECT sel_rank, vec_id, rel, mmr FROM all$k"
    sb.toString
  }
}
