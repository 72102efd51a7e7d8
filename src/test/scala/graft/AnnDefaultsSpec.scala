package graft

import graft.functions.Similarity

/** Pins the r13 production-default contract for the ANN serving layer:
  * the defaults a user gets WITHOUT reading SCALE.md must be the
  * configuration SCALE.md's `ann_recall` row measured as good (dense m=8/ks=16
  * codebook + candidate-proportional re-rank shortlist), not the
  * 12-bit fixture pin the oracle rows use. The recall floor asserted
  * here (mean recall@10 ≥ 0.5 on the probe fixture) is the measured
  * dense-code rerank@50 floor from SCALE.md's `ann_recall` row —
  * regressing the defaults below it fails this suite, not just a prose
  * doc. */
class AnnDefaultsSpec extends SparkSpec {

  private def sf01 = "/root/testdata/sf0.1"

  test("scaledNlist keeps the per-list population flat as the corpus grows") {
    // the probes' empirical rule made algebraic: ≈160 vectors/list
    assert(Similarity.scaledNlist(2000L) == 13)
    assert(Similarity.scaledNlist(40000L) == 250)   // the semdedup probe's 256-ballpark
    assert(Similarity.scaledNlist(100000L) == 625)  // the ann_join probe's 512-ballpark
    // candidates per probe stay ≈ nprobe·target at both scales
    for (n <- Seq(10000L, 10000000L)) {
      val perList = n.toDouble / Similarity.scaledNlist(n)
      assert(perList >= 80 && perList <= 200, s"n=$n perList=$perList")
    }
    // floors and caps
    assert(Similarity.scaledNlist(0L) == 1)
    assert(Similarity.scaledNlist(Long.MaxValue / 4) == (1 << 20))
  }

  test("rerankShortlist scales with the candidate count and floors at 4k") {
    // probe-fixture shape: 2 000 vectors, nlist=16, nprobe=4 → 500
    // candidates → shortlist 125 (= candidates/4, above the 40 floor)
    assert(Similarity.rerankShortlist(2000L, 16, 4, 10) == 125)
    // doubling nprobe doubles the candidate set and the shortlist with
    // it — the anti-dilution rule (a FIXED shortlist fell 0.55 → 0.38
    // as nprobe grew in the r12 probe)
    assert(Similarity.rerankShortlist(2000L, 16, 8, 10) == 250)
    // tiny corpus: the 4·k floor binds so the re-rank keeps a useful
    // margin over k
    assert(Similarity.rerankShortlist(100L, 16, 1, 10) == 40)
    // shortlist grows linearly with the corpus at fixed routing — the
    // 100 TB story: candidates ∝ corpus, so the shortlist follows
    assert(Similarity.rerankShortlist(2000000L, 16, 4, 10) == 125000)
  }

  test("default-config IVFADC+R holds the measured dense-code recall floor on the probe fixture") {
    val emb = Tables.embeddings(spark, sf01).cache()
    try {
      val dir = java.nio.file.Files.createTempDirectory("ann-defaults").toString
      // ALL defaults: m=DefaultM, ks=DefaultKs — the exact call a user
      // copies from the scaladoc
      Similarity.ivfPqWriteArtifacts(emb, "vec_id", "embedding", dir)
      val k = 10
      val recalls = (0L until 8L).map { q =>
        val exact = Similarity.bruteForceTopK(emb, "vec_id", "embedding", q, k)
          .collect().map(_.getLong(0)).toSet
        // default AUTO shortlist — resolved from the stored codes count
        val rr = Similarity.ivfPqRerankFromDir(emb, "vec_id", "embedding",
            dir, q, k)
          .collect().map(_.getLong(0)).toSet
        (rr & exact).size.toDouble / k
      }
      val mean = recalls.sum / recalls.length
      assert(mean >= 0.5,
        s"default-config recall@10 fell below the dense-code floor: " +
          s"mean=$mean per-query=${recalls.mkString(",")}")
    } finally emb.unpersist()
  }
}
