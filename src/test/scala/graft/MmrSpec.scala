package graft

import org.apache.spark.sql.functions.col

import graft.functions.Similarity

/** MMR diversified top-k on planted geometry: relevance alone would
  * pick a near-duplicate pair back-to-back; the λ-blend demotes the
  * duplicate below a less-relevant-but-novel candidate. The registry
  * row (q_mmr) pins the exact greedy sequence against the unrolled
  * DuckDB twin on the real fixture; this spec pins the diversification
  * semantics on vectors where the right answer is hand-checkable.
  */
class MmrSpec extends SparkSpec {
  import spark.implicits._

  // 4-dim unit-ish vectors: query along e1; a and a2 nearly identical
  // high-relevance; b moderately relevant but orthogonal to a.
  private def emb = Seq(
    (0L, Array(1.0f, 0.0f, 0.0f, 0.0f)),            // query
    (1L, Array(0.9f, 0.1f, 0.0f, 0.0f)),            // a    rel≈0.994
    (2L, Array(0.9f, 0.11f, 0.0f, 0.0f)),           // a2   rel≈0.993, cos(a,a2)≈1
    (3L, Array(0.6f, 0.0f, 0.8f, 0.0f)),            // b    rel=0.6, cos(a,b)≈0.6
    (4L, Array(0.5f, 0.0f, 0.0f, 0.87f))            // c    rel≈0.5
  ).toDF("vec_id", "embedding")

  test("greedy MMR demotes the near-duplicate of an earlier pick") {
    // λ=0.5: a2 scores 0.5·0.993 − 0.5·(cos≈1) < 0 while b scores
    // 0.5·0.6 − 0.5·0.596 > 0 — the duplicate drops behind BOTH
    // novel candidates (at λ=0.7 its relevance would still win: the
    // blend, not relevance alone, decides)
    val got = Similarity.mmrTopK(emb, "vec_id", "embedding", 0L,
        k = 3, shortlistN = 4, lambda = 0.5)
      .orderBy("sel_rank").collect()
    assert(got.map(_.getLong(1)).toSeq == Seq(1L, 3L, 4L))
    // pure relevance order would have been 1, 2, 3 — the a2 duplicate
    // (cos≈1 to pick 1) must fall behind both orthogonal candidates
    assert(got.map(_.getInt(0)).toSeq == Seq(1, 2, 3))
  }

  test("lambda = 1 degenerates to pure relevance order") {
    val got = Similarity.mmrTopK(emb, "vec_id", "embedding", 0L,
        k = 3, shortlistN = 4, lambda = 1.0)
      .orderBy("sel_rank").collect().map(_.getLong(1)).toSeq
    assert(got == Seq(1L, 2L, 3L))
  }

  test("k beyond the shortlist returns the whole shortlist, ranked") {
    val got = Similarity.mmrTopK(emb, "vec_id", "embedding", 0L,
        k = 10, shortlistN = 2, lambda = 0.7)
      .collect()
    assert(got.length == 2)
    assert(got.map(_.getInt(0)).sorted.toSeq == Seq(1, 2))
  }

  test("default contract holds the measured trade floor on the probe fixture") {
    // SCALE.md's `MMR defaults` row (r17) swept λ and
    // the shortlist N on sf0.1: at the registry defaults (λ=0.7,
    // N=2.5k) the picks' mean pairwise cosine improved 19-51% over the
    // pure-relevance baseline at ≤3.6% mean-relevance give-up across
    // probe queries, and N=k is DEGENERATE (the whole shortlist is
    // selected, so λ cannot act). Regressing any of that fails here,
    // not just a prose doc.
    val emb01 = Tables.embeddings(spark, "/root/testdata/sf0.1")
      .select(col("vec_id"), col("embedding")).cache()
    try {
      val k = 8
      for (q <- Seq(0L, 1L, 2L)) {
        val (relBase, divBase) = Similarity.mmrTradeoff(emb01, "vec_id",
          "embedding", q, k, shortlistN = 20, lambda = 1.0)
        val (relMmr, divMmr) = Similarity.mmrTradeoff(emb01, "vec_id",
          "embedding", q, k, shortlistN = 20, lambda = 0.7)
        assert(divMmr <= 0.9 * divBase,
          s"q=$q: defaults must improve diversity ≥10%: $divMmr vs $divBase")
        assert(relMmr >= 0.95 * relBase,
          s"q=$q: defaults must retain ≥95% relevance: $relMmr vs $relBase")
        // N = k leaves MMR nothing to choose from — the measured reason
        // the default shortlist is 2.5k, pinned so nobody "optimizes"
        // the shortlist down to k
        val degenerate = Similarity.mmrTopK(emb01, "vec_id", "embedding",
            q, k, shortlistN = k, lambda = 0.3)
          .collect().map(_.getLong(1)).toSet
        val topk = Similarity.mmrTopK(emb01, "vec_id", "embedding",
            q, k, shortlistN = k, lambda = 1.0)
          .collect().map(_.getLong(1)).toSet
        assert(degenerate == topk,
          "N=k must select exactly the shortlist regardless of λ")
      }
    } finally emb01.unpersist()
  }
}
