package graft

import org.apache.spark.sql.functions._
import graft.functions.Bpe

/** BPE tokenizer semantics on planted vocabularies: the greedy merge
  * sequence (hand-computed), left-to-right non-overlap application,
  * the stored-artifact round-trip, and the maintained word-count
  * channel (replay idempotence, retire subtraction, compaction
  * bit-stability). The registry rows pin engine ≡ DuckDB on the real
  * fixtures; this spec pins the semantics a SQL twin can't isolate.
  */
class BpeSpec extends SparkSpec {
  import spark.implicits._

  private def wc(rows: (String, Long)*) = rows.toSeq.toDF("word", "wc")

  test("trainMerges reproduces the hand-computed greedy sequence") {
    // classic Sennrich toy: pairs counted over the vocabulary weighted
    // by word frequency.
    //   low:5 lower:2 newest:6 widest:3
    // iteration 1: (e,s) = 6+3 = 9 wins (t,?): es
    // iteration 2: (es,t) = 9: est
    // iteration 3: (l,o) = 5+2 = 7: lo
    // iteration 4: (lo,w) = 7: low
    val m = Bpe.trainMerges(
      wc("low" -> 5L, "lower" -> 2L, "newest" -> 6L, "widest" -> 3L), 4)
    assert(m.map(x => (x.x, x.y, x.cnt)) == Seq(
      ("e", "s", 9L), ("es", "t", 9L), ("l", "o", 7L), ("lo", "w", 7L)))
    assert(m.map(_.merge_rank) == Seq(1, 2, 3, 4))
  }

  test("ties break on (cnt DESC, x ASC, y ASC) — binary string order") {
    // ab:1 cd:1 -> pairs (a,b)=1, (c,d)=1; (a,b) wins the tie
    val m = Bpe.trainMerges(wc("ab" -> 1L, "cd" -> 1L), 1)
    assert(m.head.x == "a" && m.head.y == "b")
  }

  test("vocabulary materialization cadence does not change the merges") {
    val wcT = wc("low" -> 5L, "lower" -> 2L, "newest" -> 6L, "widest" -> 3L)
    val ref = Bpe.trainMerges(wcT, 6)
    for (k <- Seq(1, 2, 5))
      assert(Bpe.trainMerges(wcT, 6, persistEvery = k) == ref,
        s"persistEvery=$k diverged")
  }

  test("training stops early when the pair space runs dry") {
    // single-char words have no adjacent pairs after zero merges
    assert(Bpe.trainMerges(wc("a" -> 9L, "b" -> 3L), 5).isEmpty)
    // one mergeable pair, then dry: "ab" -> [ab]
    val m = Bpe.trainMerges(wc("ab" -> 2L), 5)
    assert(m.size == 1 && m.head.x == "a" && m.head.y == "b")
  }

  test("application is greedy left-to-right, non-overlapping") {
    val merges = Seq(Bpe.Merge(1, "a", "a", 0L))
    val enc = Seq("aaaa", "aaa", "a", "baab").toDF("word")
      .select(col("word"),
        Bpe.tokenCountExpr(col("word"), merges).as("n"),
        Bpe.symbols(Bpe.encodeExpr(col("word"), merges)).as("toks"))
      .collect().map(r => r.getString(0) ->
        (r.getInt(1), r.getSeq[String](2))).toMap
    assert(enc("aaaa") == ((2, Seq("aa", "aa"))))   // not 3 overlapping
    assert(enc("aaa") == ((2, Seq("aa", "a"))))     // leftmost first
    assert(enc("a") == ((1, Seq("a"))))
    assert(enc("baab") == ((3, Seq("b", "aa", "b"))))
  }

  test("merges apply in rank order — later merges see earlier output") {
    // (a,b) then (ab,c): "abc" -> [abc]; reversed priority would stop
    // at [a, bc]... which rank order makes unreachable
    val merges =
      Seq(Bpe.Merge(1, "a", "b", 0L), Bpe.Merge(2, "ab", "c", 0L))
    val toks = Seq("abc").toDF("word")
      .select(Bpe.symbols(Bpe.encodeExpr(col("word"), merges)).as("t"))
      .head().getSeq[String](0)
    assert(toks == Seq("abc"))
  }

  test("multi-byte code points delimit per code point, not per char") {
    // pairs (é,t) and (t,é) tie at 3; binary byte order puts
    // "t" (0x74) before "é" (0xC3A9), so (t,é) wins — the same order
    // DuckDB's UTF-8 binary collation produces
    val merges = Bpe.trainMerges(wc("été" -> 3L), 1)
    assert(merges.head.x == "t" && merges.head.y == "é")
    val n = Seq("été").toDF("word")
      .select(Bpe.tokenCountExpr(col("word"), merges).as("n"))
      .head().getInt(0)
    assert(n == 2) // [é, té]
  }

  test("stored artifact round-trips bit-identically") {
    val dir = java.nio.file.Files.createTempDirectory("bpe-art").toString
    val trained = Bpe.trainMerges(
      wc("low" -> 5L, "lower" -> 2L, "newest" -> 6L, "widest" -> 3L), 4)
    Bpe.writeMerges(spark, trained, dir)
    assert(Bpe.readMerges(spark, dir) == trained)
  }

  private val docs = Seq(
    (0L, "low low lower"), (1L, "newest widest"), (2L, "newest newest"),
    (7L, "zzz zzz zzz zzz zzz zzz zzz zzz")    // retired under %10==7
  ).toDF("doc_id", "text")

  test("shard-maintained word counts train identically to batch") {
    val dir = java.nio.file.Files.createTempDirectory("bpe-incr").toString
    for (b <- 0L until 3L)
      Bpe.wordCountsAppend(docs.where(pmod(col("doc_id"), lit(3)) === b),
        "text", dir, b)
    // replayed batch is a no-op (claim already taken)
    assert(!Bpe.wordCountsAppend(docs, "text", dir, 1L))
    val online = Bpe.trainMerges(Bpe.wordCountsFromShards(spark, dir), 4)
    val batch = Bpe.trainMerges(
      Bpe.wordCounts(docs, "text"), 4)
    assert(online == batch)
    // compaction folds to one m-shard per channel, training bit-stable
    Bpe.compactWordCounts(spark, dir)
    assert(Bpe.trainMerges(Bpe.wordCountsFromShards(spark, dir), 4) == batch)
  }

  test("retire channel subtraction ≡ retraining on the retained corpus") {
    val dir = java.nio.file.Files.createTempDirectory("bpe-ret").toString
    Bpe.wordCountsAppend(docs, "text", dir, 0L)
    Bpe.wordCountsRetire(docs.where(col("doc_id") === 7L), "text", dir, 0L)
    val online = Bpe.trainMerges(Bpe.wordCountsFromShards(spark, dir), 4)
    val retrain = Bpe.trainMerges(
      Bpe.wordCounts(docs.where(col("doc_id") =!= 7L), "text"), 4)
    assert(online == retrain)
    // the takedown actually changed the tokenizer: with doc 7 in, the
    // dominant pair is (z,z) from 8 copies of "zzz"
    val withAll = Bpe.trainMerges(Bpe.wordCounts(docs, "text"), 1)
    assert(withAll.head.x == "z" && withAll.head.y == "z")
    assert(online.head.x != "z")
  }

  test("native encoder ≡ the literal-replace chain, symbol for symbol") {
    // overlap runs, rank-order composition, multi-byte code points,
    // merges that can't occur, and the empty word — plus merges
    // trained on the fixture corpus applied to every fixture word
    val merges = Bpe.trainMerges(Bpe.wordCounts(docs, "text"), 6) ++
      Seq(Bpe.Merge(7, "q", "q", 0L))    // a pair absent from every word
    val words = docs
      .select(explode(split(col("text"), " ")).as("word"))
      .union(Seq("aaaa", "", "été", "zzz", "xyzzy").toDF("word"))
    val rows = words.select(
        Bpe.symbols(Bpe.encodeExpr(col("word"), merges)).as("chain"),
        Bpe.encodeNative(col("word"), merges).as("native"))
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getSeq[String](0) == r.getSeq[String](1),
        s"chain=${r.getSeq[String](0)} native=${r.getSeq[String](1)}")
    }
  }

  test("vocab ranks symbols by frequency with the symbol tie-break") {
    val merges = Seq(Bpe.Merge(1, "l", "o", 0L), Bpe.Merge(2, "lo", "w", 0L))
    // "low low lower": low→[low]×2, lower→[low,e,r] → low:3, e:1, r:1
    val v = Bpe.vocab(docs.where(col("doc_id") === 0L), "text", merges)
      .orderBy("token_id").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2))).toSeq
    assert(v == Seq((1, "low", 3L), (2, "e", 1L), (3, "r", 1L)))
  }

  test("the HOF per-doc count equals the exploded per-doc count") {
    val merges = Bpe.trainMerges(Bpe.wordCounts(docs, "text"), 4)
    val hof = docs.select(col("doc_id"),
        Bpe.docTokenCountExpr(col("text"), merges).cast("long").as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val exploded = Bpe.docTokenStats(docs, "doc_id", "text", merges)
      .collect()
      .map(r => r.getLong(0) -> r.getAs[Long]("n_bpe_tokens")).toMap
    assert(hof == exploded)
  }

  test("end-of-word sentinel changes the trained sequence as published") {
    // Sennrich toy with </w>: merges 1-2 are unchanged ((e,s), (es,t)
    // still dominate at 9), but merge 3 becomes (est, </w>) = 9 —
    // word-final "est" is now a distinct token — where the
    // sentinel-free default learned (l,o) = 7
    val wcT = wc("low" -> 5L, "lower" -> 2L, "newest" -> 6L, "widest" -> 3L)
    val eow = Bpe.trainMerges(wcT, 3, eow = true)
    assert(eow.map(x => (x.x, x.y)) == Seq(
      ("e", "s"), ("es", "t"), ("est", Bpe.Sentinel)))
    val plain = Bpe.trainMerges(wcT, 3)
    assert(plain.map(x => (x.x, x.y)) == Seq(
      ("e", "s"), ("es", "t"), ("l", "o")))
  }

  test("eow application: chain ≡ native, sentinel merges into the tail") {
    val wcT = wc("low" -> 5L, "lower" -> 2L, "newest" -> 6L, "widest" -> 3L)
    val merges = Bpe.trainMerges(wcT, 4, eow = true)
    val rows = Seq("newest", "widest", "low", "", "est")
      .toDF("word")
      .select(col("word"),
        Bpe.symbols(Bpe.encodeExpr(col("word"), merges, eow = true)).as("chain"),
        Bpe.encodeNative(col("word"), merges, eow = true).as("native"))
      .collect()
    rows.foreach { r =>
      assert(r.getSeq[String](1) == r.getSeq[String](2),
        s"word=${r.getString(0)}: chain=${r.getSeq[String](1)} " +
          s"native=${r.getSeq[String](2)}")
    }
    val byWord = rows.map(r => r.getString(0) -> r.getSeq[String](1)).toMap
    // merge 3 is (est, </w>): word-final "est" is one token CARRYING
    // the sentinel — the published behavior the default mode lacks
    assert(byWord("newest") == Seq("n", "e", "w", "est" + Bpe.Sentinel))
    assert(byWord("est") == Seq("est" + Bpe.Sentinel))
    assert(byWord("") == Seq(Bpe.Sentinel)) // empty word = sentinel only
  }

  test("minWc floor ≡ training on the pre-filtered vocabulary") {
    val wcT = wc("low" -> 5L, "lower" -> 2L, "newest" -> 6L, "widest" -> 3L)
    assert(Bpe.trainMerges(wcT, 4, minWc = 3L) ==
      Bpe.trainMerges(wcT.where(col("wc") >= 3L), 4))
  }

  test("minWc floor is NOT transparent: tail mass can decide the argmax") {
    // the (w,y) pair owns 6 counts spread across three tail words of
    // wc 2 each; the head word "xy" owns (x,y) = 4. Unfloored, the
    // tail wins; minWc = 3 evicts the tail and flips merge 1.
    val wcT = wc("xy" -> 4L, "awy" -> 2L, "bwy" -> 2L, "cwy" -> 2L)
    val unfloored = Bpe.trainMerges(wcT, 1)
    assert(unfloored.head.x == "w" && unfloored.head.y == "y" &&
      unfloored.head.cnt == 6L)
    val floored = Bpe.trainMerges(wcT, 1, minWc = 3L)
    assert(floored.head.x == "x" && floored.head.y == "y" &&
      floored.head.cnt == 4L)
  }

  test("streaming count sink ≡ batch recount across replay and compaction") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.Trigger
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("bpe-sink").toString
    val cp = java.nio.file.Files.createTempDirectory("bpe-sink-cp").toString
    val mem = MemoryStream[(Long, String)]
    val q = Bpe.startBpeCountSink(
      mem.toDF().toDF("doc_id", "text"), "text", dir, cp,
      trigger = Trigger.ProcessingTime(0), compactEvery = 2)
    try {
      mem.addData((0L, "low low lower"), (1L, "newest widest"))
      q.processAllAvailable()
      mem.addData((2L, "newest newest"))
      q.processAllAvailable()
      mem.addData((3L, "low est"))
      q.processAllAvailable()
    } finally q.stop()
    val streamed = Bpe.wordCountsFromShards(spark, dir)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val batch = Bpe.wordCounts(docs.where(col("doc_id") < 3L)
        .unionByName(Seq((3L, "low est")).toDF("doc_id", "text")), "text")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(streamed == batch, s"streamed=$streamed batch=$batch")
    // replaying a committed batch id by hand is a no-op (the sink's
    // foreachBatch retry path): the claim is already taken or folded
    assert(!Bpe.wordCountsAppend(
      Seq((9L, "poison poison")).toDF("doc_id", "text"), "text", dir, 1L))
    assert(Bpe.wordCountsFromShards(spark, dir)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap == batch)
  }

  test("docTokenStats counts words and subword tokens per document") {
    val merges = Seq(Bpe.Merge(1, "l", "o", 0L), Bpe.Merge(2, "lo", "w", 0L))
    val got = Bpe.docTokenStats(docs.where(col("doc_id") === 0L),
        "doc_id", "text", merges)
      .head()
    // "low low lower": 3 words; low->1 tok ×2, lower->[low,e,r]=3
    assert(got.getAs[Long]("n_words") == 3L)
    assert(got.getAs[Long]("n_bpe_tokens") == 5L)
  }
}
