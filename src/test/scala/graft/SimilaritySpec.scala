package graft

import org.apache.spark.sql.functions._
import graft.functions.Similarity

class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  test("cosine of identical vectors is 1, orthogonal is 0") {
    val df = Seq(
      (Seq(1.0f, 0.0f), Seq(1.0f, 0.0f)),
      (Seq(1.0f, 0.0f), Seq(0.0f, 2.0f)),
      (Seq(1.0f, 1.0f), Seq(-1.0f, -1.0f))
    ).toDF("a", "b").select(Similarity.cosine($"a", $"b").as("c"))
    val got = df.collect().map(_.getDouble(0))
    assert(math.abs(got(0) - 1.0) < 1e-12)
    assert(math.abs(got(1)) < 1e-12)
    assert(math.abs(got(2) + 1.0) < 1e-12)
  }

  test("bruteForceTopK returns k nearest by cosine, excluding the query") {
    val emb = Tables.embeddings(spark, sf0001)
    val got = Similarity.bruteForceTopK(emb, "vec_id", "embedding", 0L, 5).collect()
    assert(got.length == 5)
    assert(!got.map(_.getLong(0)).contains(0L))
    // descending similarity
    val sims = got.map(_.getDouble(1))
    assert(sims.sameElements(sims.sorted(Ordering[Double].reverse)))
  }

  test("lshTopK recalls planted near neighbors") {
    // 200 random background vectors + 5 planted tight neighbors of the
    // query: the contract of LSH ANN is recalling NEAR vectors, which
    // uniform random fixtures don't contain
    val rnd = new scala.util.Random(7)
    val dim = 64
    val q = Array.fill(dim)(rnd.nextGaussian().toFloat)
    def noisy() = q.map(x => x + 0.02f * rnd.nextGaussian().toFloat)
    val rows =
      (0L, q.toSeq) +:
      (1L to 5L).map(i => (i, noisy().toSeq)) ++:
      (6L until 206L).map(i => (i, Array.fill(dim)(rnd.nextGaussian().toFloat).toSeq))
    val emb = rows.toDF("vec_id", "embedding")
    val approx = Similarity.lshTopK(emb, "vec_id", "embedding", 0L, 5,
      nPlanes = 8, dim = dim).collect().map(_.getLong(0)).toSet
    assert((1L to 5L).toSet.intersect(approx).size >= 4,
      s"planted neighbors missed: got $approx")
  }

  test("semDedupCC keeps exactly one representative per near-dup component") {
    // a 3-vector near-dup CHAIN inside one cluster: a~b and b~c above
    // threshold, a~c below it. Pairwise-drop (semDedup) drops b AND c;
    // keep-one (semDedupCC) must also keep exactly {a} — and on a chain
    // whose a-c link straddles the threshold the component is still one
    // group, so both b and c drop with rep a. Also: vectors in NO pair
    // carry dropped = 0.
    val dim = 8
    def v(xs: Double*): Seq[Float] = {
      val a = xs.toArray ++ Array.fill(dim - xs.length)(0.0)
      a.map(_.toFloat).toSeq
    }
    // unit-ish vectors: cos(a,b)=cos(b,c)~0.95, cos(a,c)~0.81 — with
    // minCos=0.9 the chain's ends are NOT directly paired
    val a = v(1.0, 0.0)
    val b = v(0.95, 0.312)
    val c = v(0.81, 0.59)
    val far = v(0.0, 0.0, 1.0)
    val emb = Seq((1L, a), (2L, b), (3L, c), (9L, far))
      .toDF("vec_id", "embedding")
    val cc = Similarity.semDedupCC(emb, "vec_id", "embedding",
        nlist = 1, minCos = 0.9)
      .collect().map(r => r.getLong(0) -> r.getInt(2)).toMap
    assert(cc == Map(1L -> 0, 2L -> 1, 3L -> 1, 9L -> 0), cc.toString)
    // pairwise variant agrees here (chain middle + end both drop); the
    // variants differ only in which SURVIVOR count is guaranteed — CC
    // always keeps >= 1 per component
    val pw = Similarity.semDedup(emb, "vec_id", "embedding",
        nlist = 1, minCos = 0.9)
      .collect().map(r => r.getLong(0) -> r.getInt(2)).toMap
    assert(pw(1L) == 0 && pw(2L) == 1 && pw(3L) == 1)
  }

  test("deterministic-fold centroids track the partial-agg quantizer") {
    val rnd = new scala.util.Random(23)
    val dim = 16
    val emb = (0L until 120L)
      .map(i => (i, Array.fill(dim)(rnd.nextGaussian().toFloat).toSeq))
      .toDF("vec_id", "embedding")
    val det = Similarity.kmeansDeterministicLocalCentroids(emb, "vec_id", "embedding", 6, 2)
    val agg = Similarity.kmeansLocalCentroids(emb, "vec_id", "embedding", 6, 2)
    // identical run-to-run (the whole point) …
    val det2 = Similarity.kmeansDeterministicLocalCentroids(emb, "vec_id", "embedding", 6, 2)
    assert(det.map(_._2.toSeq).toSeq == det2.map(_._2.toSeq).toSeq)
    // … and numerically the same quantizer as the partial-agg path
    // (same assignments; only the FP summation order differs)
    assert(det.length == agg.length)
    det.zip(agg).foreach { case ((_, cd), (_, ca)) =>
      cd.zip(ca).foreach { case (x, y) => assert(math.abs(x - y) < 1e-9) }
    }
    // and on the FIXTURE embeddings (the registry's data shape, more
    // Lloyd rounds): a silent regression in the production partial-agg
    // path cannot hide behind its documented FP-merge-order freedom —
    // the two quantizers must stay within 1e-9 per centroid coordinate
    val fx = Tables.embeddings(spark, sf0001)
    val fd = Similarity.kmeansDeterministicLocalCentroids(fx, "vec_id", "embedding", 8, 3)
    val fa = Similarity.kmeansLocalCentroids(fx, "vec_id", "embedding", 8, 3)
    assert(fd.length == fa.length && fd.nonEmpty)
    fd.zip(fa).foreach { case ((cidD, cd), (cidA, ca)) =>
      assert(cidD == cidA)
      cd.zip(ca).foreach { case (x, y) => assert(math.abs(x - y) < 1e-9) }
    }
  }

  test("ivfIterTopK recalls planted near neighbors") {
    val rnd = new scala.util.Random(29)
    val dim = 32
    val q = Array.fill(dim)(rnd.nextGaussian().toFloat)
    def noisy() = q.map(x => x + 0.05f * rnd.nextGaussian().toFloat)
    val rows =
      (0L, q.toSeq) +:
      (1L until 301L).map(i => (i, Array.fill(dim)(rnd.nextGaussian().toFloat).toSeq)) ++:
      (301L to 305L).map(i => (i, noisy().toSeq))
    val emb = rows.toDF("vec_id", "embedding")
    val got = Similarity.ivfIterTopK(emb, "vec_id", "embedding", 0L, 5,
      nlist = 8, nprobe = 3, iters = 2).collect().map(_.getLong(0)).toSet
    assert((301L to 305L).toSet.intersect(got).size >= 4,
      s"iterative IVF missed planted neighbors: $got")
  }

  test("pqTopK: ADC recalls planted near neighbors, deterministically") {
    val rnd = new scala.util.Random(31)
    val dim = 32
    val q = Array.fill(dim)(rnd.nextGaussian().toFloat)
    def noisy() = q.map(x => x + 0.05f * rnd.nextGaussian().toFloat)
    val rows =
      (0L, q.toSeq) +:
      (1L until 201L).map(i => (i, Array.fill(dim)(rnd.nextGaussian().toFloat).toSeq)) ++:
      (201L to 205L).map(i => (i, noisy().toSeq))
    val emb = rows.toDF("vec_id", "embedding")
    def run() = Similarity.pqTopK(emb, "vec_id", "embedding", 0L, 5,
      m = 4, ks = 8, iters = 2, dim = dim).collect()
    val got = run()
    // ADC is an approximation of the dot product: near-copies of the
    // query reconstruct onto the query's own codewords, so most of the
    // top-5 must be planted neighbors
    assert((201L to 205L).toSet.intersect(got.map(_.getLong(0)).toSet).size >= 4,
      s"PQ ADC missed planted neighbors: ${got.map(_.getLong(0)).mkString(",")}")
    // scores descend and the whole result is run-to-run deterministic
    // (codebooks, LUTs, and ranking carry no randomness)
    assert(got.map(_.getDouble(1)).sliding(2).forall(p => p(0) >= p(1)))
    assert(run().map(r => (r.getLong(0), r.getDouble(1))).toSeq ==
      got.map(r => (r.getLong(0), r.getDouble(1))).toSeq)
  }

  test("pqProbeFromDir over persisted artifacts equals the fused pqTopK path") {
    val rnd = new scala.util.Random(37)
    val dim = 32
    val emb = (0L until 150L)
      .map(i => (i, Array.fill(dim)(rnd.nextGaussian().toFloat).toSeq))
      .toDF("vec_id", "embedding")
    val dir = java.nio.file.Files.createTempDirectory("pq_artifacts").toString
    Similarity.pqWriteArtifacts(emb, "vec_id", "embedding", dir,
      m = 4, ks = 8, iters = 2, dim = dim)
    // codes are the compressed representation: one array<int> of m per id
    val codes = spark.read.parquet(s"$dir/codes")
    assert(codes.count() == 150L)
    assert(codes.select(size($"code")).distinct().collect().map(_.getInt(0)).toSeq == Seq(4))
    val books = spark.read.parquet(s"$dir/codebooks")
    assert(books.count() == 4L * 8L)
    // probe from STORED codes (zero training jobs) must be bit-identical
    // to the fused train-in-query path: same assignments, same LUT loop,
    // same left-associated subspace sum
    val fused = Similarity.pqTopK(emb, "vec_id", "embedding", 0L, 10,
      m = 4, ks = 8, iters = 2, dim = dim)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val probe = Similarity.pqProbeFromDir(emb, "vec_id", "embedding", dir, 0L, 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(probe == fused, s"artifact probe diverged:\n$probe\nvs\n$fused")
    // MISMATCHED artifacts fail loudly: codes written at a different m
    // than the codebooks' must not silently null/mis-rank the score
    val dir2 = java.nio.file.Files.createTempDirectory("pq_artifacts_m8").toString
    Similarity.pqWriteArtifacts(emb, "vec_id", "embedding", dir2,
      m = 8, ks = 8, iters = 2, dim = dim)
    val ex = intercept[Exception] {
      Similarity.pqProbeCodes(spark.read.parquet(s"$dir/codebooks"),
        spark.read.parquet(s"$dir2/codes"),
        Array.fill(dim)(0.1), 10).collect()
    }
    assert(ex.getMessage != null &&
      (ex.getMessage.contains("does not match codebooks") ||
        String.valueOf(ex.getCause).contains("does not match codebooks")),
      s"wrong failure: $ex")
  }

  test("ivfPqProbeFromDir over persisted artifacts equals the fused ivfPqTopK path") {
    val rnd = new scala.util.Random(53)
    val dim = 32
    val emb = (0L until 200L)
      .map(i => (i, Array.fill(dim)(rnd.nextGaussian().toFloat).toSeq))
      .toDF("vec_id", "embedding")
    val dir = java.nio.file.Files.createTempDirectory("ivfpq_artifacts").toString
    Similarity.ivfPqWriteArtifacts(emb, "vec_id", "embedding", dir,
      nlist = 16, m = 4, ks = 8, iters = 2, dim = dim)
    // artifact shape: every vector carries a 1-based list id and an
    // m-int code; coarse holds the nlist seeded centroids
    val codes = spark.read.parquet(s"$dir/codes")
    assert(codes.count() == 200L)
    assert(codes.select(min($"list"), max($"list")).collect().map(r =>
      (r.getInt(0) >= 1) && (r.getInt(1) <= 16)).head)
    assert(spark.read.parquet(s"$dir/coarse").count() == 16L)
    // probe from STORED lists + codes (zero training jobs) must be
    // bit-identical to the fused train-in-query path: same seeded
    // quantizer, same probe-selection loop, same assignments, same sum
    val fused = Similarity.ivfPqTopK(emb, "vec_id", "embedding", 0L, 10,
      nlist = 16, nprobe = 4, m = 4, ks = 8, iters = 2, dim = dim)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val probe = Similarity.ivfPqProbeFromDir(emb, "vec_id", "embedding",
      dir, 0L, 10, nprobe = 4)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(probe == fused, s"ivfpq artifact probe diverged:\n$probe\nvs\n$fused")
  }

  test("annJoinPqFromDir: batch ADC over stored artifacts equals the single-query probe") {
    val rnd = new scala.util.Random(71)
    val dim = 32
    val emb = (0L until 200L)
      .map(i => (i, Array.fill(dim)(rnd.nextGaussian().toFloat).toSeq))
      .toDF("vec_id", "embedding")
    val dir = java.nio.file.Files.createTempDirectory("ivfpq_batch").toString
    Similarity.ivfPqWriteArtifacts(emb, "vec_id", "embedding", dir,
      nlist = 16, m = 4, ks = 8, iters = 2, dim = dim)
    val joined = Similarity.annJoinPqFromDir(
        emb.where($"vec_id" < 3), "vec_id", "embedding", dir, 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    // bit-exact, query by query, vs the single-query artifact probe:
    // same stored coarse routing (expression vs driver loop), same
    // stored codes, same asymmetric per-subspace sum (column-side
    // DotProduct vs driver lut literals)
    (0L until 3L).foreach { qid =>
      val single = Similarity.ivfPqProbeFromDir(emb, "vec_id", "embedding",
          dir, qid, 10)
        .collect().map(r => (qid, r.getLong(0), r.getDouble(1))).toSeq
      assert(joined.filter(_._1 == qid) == single, s"qid=$qid diverged")
    }
  }

  test("pqAppendToDir: incremental encode with stored codebooks, probes see appended rows") {
    val rnd = new scala.util.Random(67)
    val dim = 32
    def vec() = Array.fill(dim)(rnd.nextGaussian().toFloat)
    val base = (0L until 150L).map(i => (i, vec()))
    val emb = base.map { case (i, v) => (i, v.toSeq) }.toDF("vec_id", "embedding")
    val dir = java.nio.file.Files.createTempDirectory("ivfpq_incr").toString
    Similarity.ivfPqWriteArtifacts(emb, "vec_id", "embedding", dir,
      nlist = 16, m = 4, ks = 8, iters = 2, dim = dim)
    val probeBefore = Similarity.ivfPqProbeFromDir(emb, "vec_id", "embedding",
      dir, 0L, 10).collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    // append 50 new vectors, one a planted near-copy of the query
    val q0 = base(0)._2
    val extra = (150L until 200L).map { i =>
      val v = if (i == 170L) q0.map(x => x + 0.05f * rnd.nextGaussian().toFloat)
              else vec()
      (i, v.toSeq)
    }.toDF("vec_id", "embedding")
    Similarity.pqAppendToDir(extra, "vec_id", "embedding", dir)
    val codes = spark.read.parquet(s"$dir/codes")
    assert(codes.count() == 200L)
    // appended rows carry the SAME encoding the original write produces:
    // original rows are untouched and a probe sees old + new together
    val probeAfter = Similarity.ivfPqProbeFromDir(emb, "vec_id", "embedding",
      dir, 0L, 10).collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(probeAfter.map(_._1).contains(170L),
      s"appended near-copy not recalled: $probeAfter")
    // old candidates keep their exact ADC scores (codebooks unchanged)
    val afterMap = probeAfter.toMap
    probeBefore.foreach { case (vid, s) =>
      afterMap.get(vid).foreach(s2 => assert(s2 == s, s"score drifted for $vid"))
    }
    // determinism: appending the same batch to a twin dir yields
    // byte-identical code rows
    val dir2 = java.nio.file.Files.createTempDirectory("ivfpq_incr2").toString
    Similarity.ivfPqWriteArtifacts(emb, "vec_id", "embedding", dir2,
      nlist = 16, m = 4, ks = 8, iters = 2, dim = dim)
    Similarity.pqAppendToDir(extra, "vec_id", "embedding", dir2)
    def codeRows(d: String) = spark.read.parquet(s"$d/codes")
      .selectExpr("vid", "list", "cast(code as string)")
      .collect().map(_.toString).sorted.toSeq
    assert(codeRows(dir) == codeRows(dir2))
    // the flat PQ layout appends too (no coarse table -> no list column)
    val pdir = java.nio.file.Files.createTempDirectory("pq_incr").toString
    Similarity.pqWriteArtifacts(emb, "vec_id", "embedding", pdir,
      m = 4, ks = 8, iters = 2, dim = dim)
    Similarity.pqAppendToDir(extra, "vec_id", "embedding", pdir)
    val pcodes = spark.read.parquet(s"$pdir/codes")
    assert(pcodes.count() == 200L && !pcodes.columns.contains("list"))
  }

  test("ANN artifact snapshots: probes read committed manifests; in-flight appends invisible") {
    import graft.streaming.Snapshot
    import org.apache.hadoop.fs.Path
    val rnd = new scala.util.Random(79)
    val dim = 32
    def vec() = Array.fill(dim)(rnd.nextGaussian().toFloat).toSeq
    val emb = (0L until 150L).map(i => (i, vec())).toDF("vec_id", "embedding")
    val dir = java.nio.file.Files.createTempDirectory("ivfpq_snap").toString
    Similarity.ivfPqWriteArtifacts(emb, "vec_id", "embedding", dir,
      nlist = 16, m = 4, ks = 8, iters = 2, dim = dim)
    val codes = s"$dir/codes"
    val fs = new Path(codes).getFileSystem(spark.sparkContext.hadoopConfiguration)
    Snapshot.init(spark, codes)
    Snapshot.commit(spark, codes, Seq(""))
    def probe() = Similarity.ivfPqProbeFromDir(emb, "vec_id", "embedding",
      dir, 0L, 10).collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val before = probe()
    // simulate an IN-FLIGHT append (files landed, commit not yet):
    // hide the manifest dir during the append so its auto-commit is
    // skipped, exactly the crash/concurrency window
    val snapDir = new Path(codes, "_snapshots")
    val hidden = new Path(codes, ".snapshots_hidden")
    require(fs.rename(snapDir, hidden))
    val extra = (150L until 200L).map(i => (i, vec())).toDF("vec_id", "embedding")
    Similarity.pqAppendToDir(extra, "vec_id", "embedding", dir)
    require(fs.rename(hidden, snapDir))
    // a probe via the manifest must NOT see the uncommitted files
    assert(probe() == before, "probe saw an uncommitted append")
    // publish: the same full-re-list commit pqAppendToDir issues
    Snapshot.commit(spark, codes, Seq(""))
    assert(Snapshot.readVersion(spark, codes).get.count() == 200L)
    // and a snapshot-enabled append auto-commits a new version
    val v1 = Snapshot.latestVersion(spark, codes).get
    Similarity.pqAppendToDir(
      (200L until 210L).map(i => (i, vec())).toDF("vec_id", "embedding"),
      "vec_id", "embedding", dir)
    assert(Snapshot.latestVersion(spark, codes).get > v1)
    assert(Snapshot.readVersion(spark, codes).get.count() == 210L)
  }

  test("annJoin: per-query top-k equals the single-query IVF probe; planted recall") {
    val rnd = new scala.util.Random(61)
    val dim = 32
    def vec() = Array.fill(dim)(rnd.nextGaussian().toFloat)
    val base = (0L until 200L).map(i => (i, vec()))
    // plant: 150+i is a noisy copy of i for the three query ids
    val planted = base.map { case (i, v) =>
      if (i >= 150L && i < 153L) {
        val src = base((i - 150L).toInt)._2
        (i, src.map(x => x + 0.05f * rnd.nextGaussian().toFloat))
      } else (i, v)
    }
    val emb = planted.map { case (i, v) => (i, v.toSeq) }.toDF("vec_id", "embedding")
    val joined = Similarity.annJoin(emb,
        emb.where($"vec_id" < 3), "vec_id", "embedding", 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    // bit-exact parity with the already-oracled single-query probe,
    // query by query (same seeded centroids, same routing order, same
    // scoring loop)
    (0L until 3L).foreach { qid =>
      val single = Similarity.ivfSeededTopK(emb, "vec_id", "embedding", qid, 10)
        .collect().map(r => (qid, r.getLong(0), r.getDouble(1))).toSeq
      assert(joined.filter(_._1 == qid) == single, s"qid=$qid diverged")
    }
    // the planted near-copy is every query's top hit
    (0L until 3L).foreach { qid =>
      assert(joined.filter(_._1 == qid).head._2 == 150L + qid,
        s"qid=$qid did not recall its planted copy")
    }
  }

  test("hardNegatives: band excludes the planted positive; equals band-filtered candidates") {
    val rnd = new scala.util.Random(61)
    val dim = 32
    def vec() = Array.fill(dim)(rnd.nextGaussian().toFloat)
    val base = (0L until 200L).map(i => (i, vec()))
    // same planted construction as the annJoin spec: 150+i is a noisy
    // copy of query i — cosine ≈ 0.99, i.e. a POSITIVE a negative
    // miner must not return
    val planted = base.map { case (i, v) =>
      if (i >= 150L && i < 153L) {
        val src = base((i - 150L).toInt)._2
        (i, src.map(x => x + 0.05f * rnd.nextGaussian().toFloat))
      } else (i, v)
    }
    val emb = planted.map { case (i, v) => (i, v.toSeq) }.toDF("vec_id", "embedding")
    val (lo, hi) = (0.1, 0.9)
    val hn = Similarity.hardNegatives(emb, emb.where($"vec_id" < 3),
        "vec_id", "embedding", m = 10, lo = lo, hi = hi)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(hn.nonEmpty)
    assert(hn.forall(t => t._3 >= lo && t._3 < hi), "every mined cosine in band")
    assert(!hn.exists(t => t._2 == 150L + t._1),
      "the planted near-copy is a positive — the hi cut must exclude it")
    // exact parity: the unbanded candidate ranking (k = corpus), band-
    // filtered and re-cut per anchor, must reproduce the mined set —
    // the band commutes with the rank exactly
    val all = Similarity.annJoin(emb, emb.where($"vec_id" < 3),
        "vec_id", "embedding", 200)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    (0L until 3L).foreach { qid =>
      val want = all.filter(t => t._1 == qid && t._3 >= lo && t._3 < hi)
        .sortBy(t => (-t._3, t._2)).take(10)
      assert(hn.filter(_._1 == qid).toList == want.toList, s"qid=$qid diverged")
    }
  }

  test("annJoin size gate: shuffled fallback equals the broadcast path, plans differ") {
    val rnd = new scala.util.Random(131)
    val dim = 32
    def vec() = Array.fill(dim)(rnd.nextGaussian().toFloat)
    val emb = (0L until 300L).map(i => (i, vec().toSeq)).toDF("vec_id", "embedding")
    val queries = emb.where($"vec_id" < 20)
    def run(maxBytes: Long) = Similarity.annJoin(emb, queries,
        "vec_id", "embedding", 5, maxBroadcastBytes = maxBytes)
    // identical results either side of the gate — the fallback changes
    // ONLY the physical candidate join, never the semantics
    val bPath = run(Long.MaxValue)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val sPath = run(0L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(sPath == bPath, "shuffled ANN join diverged from broadcast path")
    // plan shapes: broadcast under the gate, list-partitioned
    // sort-merge over it (AQE off so the pre-execution plan is final)
    val aqe = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val bPlan = run(Long.MaxValue).queryExecution.executedPlan.toString
      val sPlan = run(0L).queryExecution.executedPlan.toString
      assert(bPlan.contains("BroadcastHashJoin"), s"no broadcast:\n$bPlan")
      assert(sPlan.contains("SortMergeJoin"), s"no merge join:\n$sPlan")
      assert(!sPlan.contains("BroadcastHashJoin"),
        s"shuffled path still broadcasts:\n$sPlan")
    } finally spark.conf.set("spark.sql.adaptive.enabled", aqe)
    // same gate on the persisted-index twin
    val pdir = java.nio.file.Files.createTempDirectory("annjoin_gate").toString
    Similarity.ivfPqWriteArtifacts(emb, "vec_id", "embedding", pdir,
      nlist = 16, m = 4, ks = 8, iters = 2, dim = dim)
    def runPq(maxBytes: Long) = Similarity.annJoinPqFromDir(queries,
      "vec_id", "embedding", pdir, 5, maxBroadcastBytes = maxBytes)
    val bPq = runPq(Long.MaxValue)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val sPq = runPq(0L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(sPq == bPq, "shuffled PQ ANN join diverged from broadcast path")
  }

  test("ivfPqTopK recalls planted near neighbors and agrees with PQ on probed lists") {
    val rnd = new scala.util.Random(41)
    val dim = 32
    val q = Array.fill(dim)(rnd.nextGaussian().toFloat)
    def noisy() = q.map(x => x + 0.05f * rnd.nextGaussian().toFloat)
    val rows =
      (0L, q.toSeq) +:
      (1L until 201L).map(i => (i, Array.fill(dim)(rnd.nextGaussian().toFloat).toSeq)) ++:
      (201L to 205L).map(i => (i, noisy().toSeq))
    val emb = rows.toDF("vec_id", "embedding")
    val got = Similarity.ivfPqTopK(emb, "vec_id", "embedding", 0L, 5,
      nlist = 8, nprobe = 3, m = 4, ks = 8, iters = 2, dim = dim).collect()
    assert((201L to 205L).toSet.intersect(got.map(_.getLong(0)).toSet).size >= 4,
      s"IVF-PQ missed planted neighbors: ${got.map(_.getLong(0)).mkString(",")}")
    // composition contract: IVF-PQ's scores are PQ's ADC scores — every
    // returned (id, score) must appear identically in the pure-PQ
    // ranking over the full corpus (IVF only FILTERS the candidate set)
    val pqAll = Similarity.pqTopK(emb, "vec_id", "embedding", 0L, 206,
      m = 4, ks = 8, iters = 2, dim = dim)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    got.foreach { r =>
      assert(pqAll(r.getLong(0)) == r.getDouble(1),
        s"score drift for ${r.getLong(0)}")
    }
  }

  test("hardNegativesFromDir: exhaustive settings degrade to the brute miner") {
    // the stored-index contract: with nothing pruned (nprobe == nlist,
    // corpus-wide shortlist) the stored shortlist covers everything,
    // the exact re-score IS the exact cosine, and the banded rank must
    // reproduce the brute-force hardNegatives result per anchor
    val emb = Tables.embeddings(spark, sf0001)
    val dir = java.nio.file.Files.createTempDirectory("ivfpq-hn").toString
    Similarity.ivfPqWriteArtifacts(emb, "vec_id", "embedding", dir, nlist = 4)
    val stored = Similarity.hardNegativesFromDir(
        emb.where($"vec_id" < 3), emb, "vec_id", "embedding", dir,
        m = 5, lo = 0.1, hi = 0.35, shortlist = 100000, nprobe = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    // brute miner over the same anchors: exact-cosine candidates,
    // band, rank — the stored path with no pruning must match exactly
    val brute = Similarity.hardNegatives(emb, emb.where($"vec_id" < 3),
        "vec_id", "embedding", m = 5, lo = 0.1, hi = 0.35,
        nlist = 1, nprobe = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(stored.nonEmpty, "band must be populated on the fixture")
    assert(stored.sorted == brute.sorted,
      s"stored miner with no pruning diverged from the brute miner")
    // every mined cosine sits inside the band
    assert(stored.forall(t => t._3 >= 0.1 && t._3 < 0.35))
  }

  test("ivfPqRerankTopK: exhaustive shortlist + full probes degrade to exact brute force") {
    // the IVFADC+R contract collapses to exact search when nothing is
    // pruned: nprobe == nlist (every list scanned) and a corpus-wide
    // shortlist mean the ADC stage only ORDERS candidates, and the
    // exact re-rank then reproduces bruteForceTopK bit-for-bit —
    // quantization error confined entirely to the (empty) boundary
    val emb = Tables.embeddings(spark, sf0001)
    val exact = Similarity.bruteForceTopK(emb, "vec_id", "embedding", 0L, 8)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val rr = Similarity.ivfPqRerankTopK(emb, "vec_id", "embedding", 0L,
        k = 8, shortlist = 100000, nlist = 4, nprobe = 4)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(rr == exact, s"rerank-with-no-pruning diverged:\n$rr\nvs\n$exact")
    // and at production settings the re-rank never returns a LOWER
    // exact cosine in its top-k than the pure ADC ordering would
    val adcIds = Similarity.ivfPqTopK(emb, "vec_id", "embedding", 0L, 8)
      .collect().map(_.getLong(0)).toSet
    val rrProd = Similarity.ivfPqRerankTopK(emb, "vec_id", "embedding", 0L,
        k = 8, shortlist = 24)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(rrProd.length == 8)
    assert(rrProd.map(_._2).sliding(2).forall(w => w.length < 2 || w(0) >= w(1)),
      "re-ranked scores must be exact-cosine descending")
    // the shortlist covers the ADC top-k, so re-rank can only improve
    assert(adcIds.subsetOf(
      Similarity.ivfPqTopK(emb, "vec_id", "embedding", 0L, 24)
        .collect().map(_.getLong(0)).toSet))
    // the PERSISTED-artifact serving path returns the identical result
    val dir = java.nio.file.Files.createTempDirectory("ivfpq-rr").toString
    Similarity.ivfPqWriteArtifacts(emb, "vec_id", "embedding", dir)
    val served = Similarity.ivfPqRerankFromDir(emb, "vec_id", "embedding",
        dir, 0L, k = 8, shortlist = 24)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(served == rrProd.toSeq,
      s"stored-artifact rerank diverged from fused:\n$served\nvs\n${rrProd.toSeq}")
    // and the BATCH query-set rerank agrees with the single-query path
    // for each of its queries
    val batch = Similarity.annJoinPqRerankFromDir(
        emb.where(col("vec_id") < 2), emb, "vec_id", "embedding", dir,
        k = 8, shortlist = 24)
      .where(col("query_id") === 0L)
      .select("vec_id", "cos").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(batch == served,
      s"batch rerank diverged from single-query:\n$batch\nvs\n$served")
  }

  test("random projection: deterministic, and pairwise distances hold within the JL distortion band") {
    val emb = Tables.embeddings(spark, sf0001).limit(20).cache()
    try {
      val orig = emb.collect()
        .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray)
        .toMap
      def proj(): Map[Long, Array[Double]] =
        Similarity.randomProject(emb, "vec_id", "embedding", outDim = 16)
          .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2)))
          .groupBy(_._1).view
          .mapValues(_.sortBy(_._2).map(_._3)).toMap
          .map { case (k, v) => k -> v.toArray }
      val p = proj()
      assert(p.values.forall(_.length == 16))
      // deterministic: the fixed-seed matrix reprojects bit-identically
      assert(proj().map { case (k, v) => k -> v.toSeq } ==
        p.map { case (k, v) => k -> v.toSeq })
      def d2(a: Array[Double], b: Array[Double]): Double =
        a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
      val ids = orig.keys.toSeq.sorted
      val ratios = for {
        i <- ids.indices; j <- (i + 1) until ids.length
        od = d2(orig(ids(i)), orig(ids(j))) if od > 0
      } yield d2(p(ids(i)), p(ids(j))) / od
      val mean = ratios.sum / ratios.size
      // 1/√outDim scaling makes the projection norm-preserving in
      // expectation; at outDim=16 the JL distortion band is wide but
      // bounded — the properties that make the projection USABLE, not
      // just deterministic
      assert(math.abs(mean - 1.0) < 0.25, s"mean distance ratio $mean")
      assert(ratios.forall(r => r > 0.25 && r < 2.5),
        s"distance ratio outside the JL band: min=${ratios.min} max=${ratios.max}")
    } finally emb.unpersist()
  }

  test("SQ8: int8 codes recall planted neighbors; stored probe equals fused; zero vectors score 0") {
    val rnd = new scala.util.Random(23)
    val dim = 64
    val q = Array.fill(dim)(rnd.nextGaussian().toFloat)
    def noisy() = q.map(x => x + 0.05f * rnd.nextGaussian().toFloat)
    val rows =
      (0L, q.toSeq) +:
      (1L until 201L).map(i => (i, Array.fill(dim)(rnd.nextGaussian().toFloat).toSeq)) ++:
      (201L to 205L).map(i => (i, noisy().toSeq)) :+
      (206L, Seq.fill(dim)(0.0f)) // zero vector: scale 0 → score 0
    val emb = rows.toDF("vec_id", "embedding")
    val fused = Similarity.sqTopK(emb, "vec_id", "embedding", 0L, 5, dim = dim)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    // 8-bit codes are near-exact: all 5 planted neighbors recalled
    assert((201L to 205L).toSet == fused.map(_._1).toSet,
      s"SQ8 missed planted neighbors: $fused")
    // the persisted int8 artifact serves the identical doubles
    val dir = java.nio.file.Files.createTempDirectory("sq8").toString
    Similarity.sqWriteArtifacts(emb, "vec_id", "embedding", dir)
    val stored = Similarity.sqProbeFromDir(emb, "vec_id", "embedding", dir, 0L, 5)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(stored == fused, s"stored SQ8 diverged:\n$stored\nvs\n$fused")
    // codes are genuine int8: every value in [-127, 127]
    val codes = spark.read.parquet(s"$dir/codes")
    import org.apache.spark.sql.functions.{exists => aexists}
    assert(codes.where(aexists(col("code"),
      c => c > 127 || c < -127)).count() == 0)
    // the zero vector scores exactly 0, never NaN
    val z = Similarity.sqProbeFromDir(emb, "vec_id", "embedding", dir, 0L, 207)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(z(206L) == 0.0 && !z.values.exists(_.isNaN))
    // exhaustive-shortlist rerank degrades to exact brute force
    val exact = Similarity.bruteForceTopK(emb, "vec_id", "embedding", 0L, 5)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val rr = Similarity.sqRerankTopK(emb, "vec_id", "embedding", 0L, 5,
        shortlist = 1000, dim = dim)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(rr == exact, s"SQ8 rerank-with-no-pruning diverged:\n$rr\nvs\n$exact")
  }

  test("vector tombstones: probes exclude retired ids; PQ serve equals a physically-filtered codes table") {
    val rnd = new scala.util.Random(91)
    val dim = 32
    val emb = (0L until 200L)
      .map(i => (i, Array.fill(dim)(rnd.nextGaussian().toFloat).toSeq))
      .toDF("vec_id", "embedding")
    val dir = java.nio.file.Files.createTempDirectory("ivfpq_retire").toString
    Similarity.ivfPqWriteArtifacts(emb, "vec_id", "embedding", dir,
      nlist = 16, m = 4, ks = 8, iters = 2, dim = dim)
    val retired = (0L until 200L).filter(_ % 10 == 7)
    assert(Similarity.retireFromDir(
      retired.toDF("vec_id"), "vec_id", dir, 0L))
    // replay-idempotent
    assert(!Similarity.retireFromDir(
      retired.toDF("vec_id"), "vec_id", dir, 0L))
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val served = ids(Similarity.ivfPqProbeFromDir(
      emb, "vec_id", "embedding", dir, 0L, 10, nprobe = 16))
    assert(served.nonEmpty && !served.exists(r => retired.contains(r._1)))
    // the FAISS remove_ids contract: codebooks/coarse stay trained on
    // the historical corpus, membership changes — so the tombstoned
    // serve must equal a probe over a codes table with the rows
    // PHYSICALLY removed under the same quantizer artifacts
    val dir2 = java.nio.file.Files.createTempDirectory("ivfpq_retire2").toString
    Seq("codebooks", "coarse", "meta").foreach { t =>
      spark.read.parquet(s"$dir/$t").write.parquet(s"$dir2/$t") }
    spark.read.parquet(s"$dir/codes")
      .where(!col("vid").isin(retired.map(java.lang.Long.valueOf): _*))
      .write.parquet(s"$dir2/codes")
    assert(served == ids(Similarity.ivfPqProbeFromDir(
      emb, "vec_id", "embedding", dir2, 0L, 10, nprobe = 16)))
    // SQ8 probes read through the same channel
    val sdir = java.nio.file.Files.createTempDirectory("sq_retire").toString
    Similarity.sqWriteArtifacts(emb, "vec_id", "embedding", sdir)
    Similarity.retireFromDir(retired.toDF("vec_id"), "vec_id", sdir, 0L)
    val sqServed = Similarity.sqProbeFromDir(
      emb, "vec_id", "embedding", sdir, 0L, 10)
      .collect().map(_.getLong(0))
    assert(sqServed.nonEmpty && !sqServed.exists(retired.contains))
  }

  test("meta corpus_rows: recorded at write, refreshed by appends, serves the auto shortlist") {
    val rnd = new scala.util.Random(17)
    val dim = 32
    def vecs(from: Long, until: Long) = (from until until)
      .map(i => (i, Array.fill(dim)(rnd.nextGaussian().toFloat).toSeq))
      .toDF("vec_id", "embedding")
    val emb = vecs(0L, 150L)
    val dir = java.nio.file.Files.createTempDirectory("meta_rows").toString
    Similarity.ivfPqWriteArtifacts(emb, "vec_id", "embedding", dir,
      nlist = 16, m = 4, ks = 8, iters = 2, dim = dim)
    def metaRows: Long = spark.read.parquet(s"$dir/meta")
      .where(col("key") === "corpus_rows").head().getString(1).toLong
    assert(metaRows == 150L)
    // the appender keeps the sizing hint current
    Similarity.pqAppendToDir(vecs(150L, 200L), "vec_id", "embedding", dir)
    assert(metaRows == 200L)
    assert(spark.read.parquet(s"$dir/codes").count() == 200L)
    // the geometry flag survived the meta rewrite
    assert(spark.read.parquet(s"$dir/meta")
      .where(col("key") === "normalized").head().getString(1) == "false")
  }

  test("bucketPairs only emits pairs above the cosine floor") {
    val emb = Tables.embeddings(spark, sf0001)
    val pairs = Similarity.bucketPairs(emb, "vec_id", "embedding", minCos = 0.5)
    assert(pairs.where($"cos_sim" < 0.5).count() == 0)
  }

  test("normalized IVF-PQ ranks direction over magnitude; meta governs probes and appends") {
    // the defect the normalize flag fixes, planted: query q; A is
    // direction-aligned with q at small norm (true cosine neighbor),
    // B is a far-direction vector at huge norm (dot(q,B) > dot(q,A)).
    // Raw ADC ranks B first; cosine-faithful ADC ranks A first.
    val dim = 8
    def v(xs: Double*) = xs.padTo(dim, 0.0)
    val qv = v(1.0, 0.0)
    val rows = Seq(
      0L -> qv,                          // the query
      1L -> v(0.30, 0.01),               // A: aligned, small norm
      2L -> v(40.0, 69.0),               // B: ~60° off, huge norm
      // filler so nlist=2/ks=2 training has material
      3L -> v(0.0, 1.0), 4L -> v(-1.0, 0.5), 5L -> v(0.5, -0.5),
      6L -> v(0.2, 0.9), 7L -> v(-0.3, -0.8))
    val emb = rows.toDF("vec_id", "embedding")
    def top1(normalize: Boolean): Long =
      Similarity.ivfPqTopK(emb, "vec_id", "embedding", 0L, 1,
        nlist = 2, nprobe = 2, m = 2, ks = 4, dim = dim,
        normalize = normalize).collect()(0).getLong(0)
    assert(top1(normalize = false) == 2L,
      "raw ADC should prefer the huge-norm decoy (the defect)")
    assert(top1(normalize = true) == 1L,
      "normalized ADC must prefer the direction-aligned neighbor")

    // stored twin: normalized artifacts + meta-driven query norm are
    // bit-identical to the fused normalized path
    val dir = java.nio.file.Files.createTempDirectory("ivfpq-cos").toString
    Similarity.ivfPqWriteArtifacts(emb, "vec_id", "embedding", dir,
      nlist = 2, m = 2, ks = 4, dim = dim, normalize = true)
    val fused = Similarity.ivfPqTopK(emb, "vec_id", "embedding", 0L, 5,
      nlist = 2, nprobe = 2, m = 2, ks = 4, dim = dim, normalize = true)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val stored = Similarity.ivfPqProbeFromDir(emb, "vec_id", "embedding",
      dir, 0L, 5, nprobe = 2)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(fused == stored,
      s"stored normalized probe diverged from fused:\n$fused\n$stored")

    // append honors the meta geometry: a 3x-scaled copy of vector 1
    // must encode to the same unit vector, hence the same ADC score
    val dup = Seq(99L -> rows(1)._2.map(_ * 3.0)).toDF("vec_id", "embedding")
    Similarity.pqAppendToDir(dup, "vec_id", "embedding", dir)
    val scores = Similarity.ivfPqProbeFromDir(emb.unionByName(dup),
      "vec_id", "embedding", dir, 0L, 9, nprobe = 2)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(scores.contains(99L) && scores(99L) == scores(1L),
      s"scaled append must land on the same unit code: $scores")
  }

  test("IVFADC+R recall floor: exact re-rank never loses to the plain ADC top-k") {
    // the invariant behind the rerank knob: both the ADC top-k and the
    // rerank top-k are subsets of the same `shortlist`-candidate set,
    // and the rerank selects the shortlist's exact-cosine best — so any
    // true-top-k member inside the shortlist is KEPT by the rerank,
    // making recall@k(rerank) >= recall@k(adc) per query, at every
    // nprobe. (SCALE.md's `ann_recall` row has the absolute curve at sf0.1;
    // this pins the ordering on the fixture.)
    val emb = Tables.embeddings(spark, sf0001).cache()
    val dir = java.nio.file.Files.createTempDirectory("ann-recall-floor").toString
    Similarity.ivfPqWriteArtifacts(emb, "vec_id", "embedding", dir)
    val k = 10
    def ids(df: org.apache.spark.sql.DataFrame): Set[Long] =
      df.collect().map(_.getLong(0)).toSet
    var strictlyBetter = 0
    for (q <- 0L until 8L; np <- Seq(1, 4)) {
      val exact = ids(Similarity.bruteForceTopK(emb, "vec_id", "embedding", q, k))
      val adc = ids(Similarity.ivfPqProbeFromDir(
        emb, "vec_id", "embedding", dir, q, k, nprobe = np))
      val rr = ids(Similarity.ivfPqRerankFromDir(
        emb, "vec_id", "embedding", dir, q, k, shortlist = 50, nprobe = np))
      val (ra, rb) = ((adc & exact).size, (rr & exact).size)
      assert(rb >= ra,
        s"q=$q nprobe=$np: rerank recall $rb < adc recall $ra")
      if (rb > ra) strictlyBetter += 1
    }
    // the knob must be observable, not vacuous: somewhere in the sweep
    // the re-rank actually recovered a quantization-lost neighbor
    assert(strictlyBetter > 0,
      "re-rank never improved on ADC anywhere in the sweep — fixture too easy")
    emb.unpersist()
  }

  test("clusterSample caps over-quota clusters, passes small ones through") {
    // two well-separated directions; seeds (first nlist rows by id) are
    // one of each, so assignment is the planted split: 40 A-members vs
    // 5 B-members. quota=10 → A rate 0.25 (binding), B rate 1.0
    // (pass-through) — both branches of min(1, quota/n) exercised.
    val dim = 8
    def v(xs: Double*): Seq[Float] = {
      val a = xs.toArray ++ Array.fill(dim - xs.length)(0.0)
      a.map(_.toFloat).toSeq
    }
    val rows =
      (0L, v(1, 0)) +: (1L, v(0, 1)) +:
      (2L until 41L).map(i => (i, v(1, 0.01 * i))) ++:
      (41L until 45L).map(i => (i, v(0.01 * i, 1)))
    val emb = rows.toDF("vec_id", "embedding")
    val got = Similarity.clusterSample(emb, "vec_id", "embedding",
        quota = 10, nlist = 2)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2)))
    val (a, b) = got.partition(_._2 == 1)
    // cluster B (5 members incl. seed) is under quota: ALL kept, rate 1
    assert(b.length == 5 && b.forall(_._3 == 1.0), s"B side wrong: ${b.toSeq}")
    // cluster A (40 members) rate = 10/40; the md5 draw keeps a strict
    // nonempty subset
    assert(a.forall(_._3 == 0.25), s"A rate wrong: ${a.toSeq}")
    assert(a.nonEmpty && a.length < 40, s"A kept ${a.length} of 40")
    // deterministic: a second run returns the identical set
    val again = Similarity.clusterSample(emb, "vec_id", "embedding",
        quota = 10, nlist = 2)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2)))
    assert(got.sortBy(_._1).sameElements(again.sortBy(_._1)))
  }

  test("embedOutliers flags only the weakly-clustered tail") {
    val dim = 8
    def v(xs: Double*): Seq[Float] = {
      val a = xs.toArray ++ Array.fill(dim - xs.length)(0.0)
      a.map(_.toFloat).toSeq
    }
    // seeds (first 2 by id) define two modes; members hug a mode, the
    // stray is near-orthogonal to both
    val rows = Seq(
      (0L, v(1, 0)), (1L, v(0, 1)),              // the seeds themselves
      (2L, v(1, 0.05)), (3L, v(0.05, 1)),        // well-attached members
      (4L, v(0.1, 0.1, 1)))                      // stray: cos ≈ 0.1 to both
    val emb = rows.toDF("vec_id", "embedding")
    val got = Similarity.embedOutliers(emb, "vec_id", "embedding",
        maxCos = 0.5, nlist = 2)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2)))
    assert(got.map(_._1).toSet == Set(4L), s"outliers wrong: ${got.toSeq}")
    assert(got.head._3 < 0.2, s"stray cosine should be ~0.1: ${got.head}")
    // seeds score 1.0 against themselves; members ~0.998 — none flagged
  }

  test("decontaminateSem flags planted leaks, ties to the lower bench id") {
    val dim = 8
    def v(xs: Double*): Seq[Float] = {
      val a = xs.toArray ++ Array.fill(dim - xs.length)(0.0)
      a.map(_.toFloat).toSeq
    }
    // bench: two orthogonal "eval" vectors
    val bench = Seq(
      (100L, v(1, 0)), (101L, v(0, 1))).toDF("vec_id", "embedding")
    val train = Seq(
      (1L, v(0.99, 0.01)),   // near-copy of bench 100 → contaminated
      (2L, v(0.01, 0.99)),   // near-copy of bench 101 → contaminated
      (3L, v(0, 0, 0, 1)),   // orthogonal to both → clean
      (4L, v(1, 1))          // cos(·,100) == cos(·,101) exactly: a TIE —
                             // must resolve to the LOWER bench id, and
                             // cos = 1/√2 < 0.95 keeps it below the cut
    ).toDF("vec_id", "embedding")
    val got = Similarity.decontaminateSem(
        train, bench, "vec_id", "embedding", minCos = 0.95)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(got.keySet == Set(1L, 2L), s"contaminated set wrong: $got")
    assert(got(1L)._1 == 100L && got(2L)._1 == 101L)
    assert(got(1L)._2 > 0.95 && got(2L)._2 > 0.95)
    // the tie itself, below a loose floor: lower bench id wins
    val tied = Similarity.decontaminateSem(
        train.where($"vec_id" === 4L), bench, "vec_id", "embedding",
        minCos = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(tied == Set((4L, 100L)), s"tie must pick bench 100: $tied")
  }

  test("decontaminateSem: stored-artifact path equals recomputed, empty bench is empty") {
    val emb = Tables.embeddings(spark, sf0001)
    val bucket = graft.functions.TextAnalysis.hashBucket($"vec_id", 16)
    val train = emb.where(bucket =!= 15)
    val bench = emb.where(bucket === 15)
    // the fixture's synthetic embeddings are near-orthogonal (max
    // pairwise cos ≈ 0.51), so the exercising cut sits at 0.35 — the
    // registry row's value
    val direct = Similarity.decontaminateSem(
      train, bench, "vec_id", "embedding", minCos = 0.35)
    val dir = java.nio.file.Files.createTempDirectory("decon-sem").toString
    Similarity.benchVecArtifacts(bench, "vec_id", "embedding", dir)
    val stored = Similarity.decontaminateSemFromDir(
      train, "vec_id", "embedding", dir, minCos = 0.35)
    val a = direct.collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getDouble(2))).sortBy(_._1)
    val b = stored.collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getDouble(2))).sortBy(_._1)
    assert(a.sameElements(b), "stored path must be bit-identical to recomputed")
    // the fixture must actually exercise the positive branch
    assert(a.nonEmpty, "fixture produced zero contaminated rows — cut too high")
    // empty bench: the contract schema survives with zero rows
    val none = Similarity.decontaminateSem(
      train, bench.limit(0), "vec_id", "embedding", minCos = 0.35)
    assert(none.columns.toSeq == Seq("vec_id", "bench_id", "cos_sim"))
    assert(none.count() == 0)
  }
}
