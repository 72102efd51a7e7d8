package graft

import org.apache.spark.sql.functions._
import graft.functions.{TextAnalysis => TA}

/** Gopher-style quality rules, deterministic hash splits, PII scrub. */
class TextRulesSpec extends SparkSpec {
  import spark.implicits._

  private val stop = Seq("the", "a", "of", "and", "to", "in", "is")
  // 60 words, prose-like: passes every rule
  private val good = ("the quick brown fox jumps over the lazy dog and " * 6).trim

  test("gopher flags pass on prose and fail on degenerate docs") {
    val df = Seq(
      (1L, good),                         // all pass
      (2L, "too short"),                  // fails word_count
      (3L, ("#### " * 60).trim),          // fails symbol ratio + stopwords
      (4L, ("aaaaaaaaaaaaaaaaaaaaaaaa " * 60).trim) // fails mean word len
    ).toDF("doc_id", "text")
    val flags = df.select(col("doc_id") +:
      TA.gopherFlags(col("text"), stop).map { case (n, c) => c.as(n) } :+
      TA.gopherPass(col("text"), stop).as("pass"): _*)
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(flags(1L).getAs[Int]("pass") == 1)
    assert(flags(2L).getAs[Int]("word_count_ok") == 0 && flags(2L).getAs[Int]("pass") == 0)
    assert(flags(3L).getAs[Int]("symbol_ratio_ok") == 0 && flags(3L).getAs[Int]("pass") == 0)
    assert(flags(4L).getAs[Int]("mean_word_len_ok") == 0 && flags(4L).getAs[Int]("pass") == 0)
  }

  test("hash split is deterministic, complete, and roughly proportioned") {
    val ids = spark.range(0, 2000).toDF("id")
    val s1 = ids.select(col("id"), TA.splitLabel(col("id")).as("s"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val s2 = ids.select(col("id"), TA.splitLabel(col("id")).as("s"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(s1 == s2)
    val byLabel = s1.values.groupBy(identity).view.mapValues(_.size).toMap
    // 98% / 1% / 1% nominal on 2000 ids: generous bands
    assert(byLabel("train") > 1900)
    assert(byLabel.getOrElse("val", 0) + byLabel.getOrElse("test", 0) < 100)
  }

  test("repetitionStats: planted top-word and distinct fractions") {
    val df = Seq(
      (1L, "a a b"),            // top 2/3, distinct 2/3
      (2L, "x y z"),            // top 1/3, distinct 1
      (3L, "spam spam spam spam")
    ).toDF("doc_id", "text")
    val got = TA.repetitionStats(df, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    assert(got(1L) == (2.0 / 3, 2.0 / 3))
    assert(got(2L) == (1.0 / 3, 1.0))
    assert(got(3L) == (1.0, 0.25))
  }

  test("dupNgramFrac: planted repeats, short docs NULL, gram counts") {
    val df = Seq(
      (1L, "a b a b a"),       // bigrams: ab,ba,ab,ba → 4 grams, 2 distinct
      (2L, "v w x y z"),       // all bigrams distinct
      (3L, "one"),             // < 2 tokens: no grams
      (4L, "p q p q p q p q")  // 7 bigrams {pq,qp} → dup 5/7
    ).toDF("doc_id", "text")
    val got = df.select(col("doc_id"),
        size(TA.ngrams(col("text"), 2)).as("n"),
        TA.dupNgramFrac(col("text"), 2).as("f"))
      .collect()
      .map(r => r.getLong(0) -> (r.getInt(1), Option(r.get(2)))).toMap
    assert(got(1L) == (4, Some(0.5)))
    assert(got(2L) == (4, Some(0.0)))
    assert(got(3L) == (0, None))
    assert(got(4L) == (7, Some(5.0 / 7)))
    // 5-grams: doc 4 has 4 of them, "p q p q p" repeating → 2 distinct
    val g5 = df.where(col("doc_id") === 4)
      .select(TA.dupNgramFrac(col("text"), 5)).head().getDouble(0)
    assert(g5 == 0.5)
  }

  test("ngramRepetition (native) == dupNgramFrac (HOF) on fixture docs") {
    val docs = Tables.documents(spark, sf0001).limit(200)
    for (n <- Seq(2, 5)) {
      val diff = docs.select(
          TA.ngramRepetition(col("text"), n).as("r"),
          size(TA.ngrams(col("text"), n)).as("hof_n"),
          TA.dupNgramFrac(col("text"), n).as("hof_f"))
        // null-safe BOTH halves: a plain =!= is null-blind and would
        // hide a NULL-vs-0 divergence instead of failing on it
        .where(!(col("r.n_grams") <=> col("hof_n")) ||
          !(col("r.dup_frac") <=> col("hof_f")))
      assert(diff.count() == 0, s"native/HOF divergence at n=$n")
    }
    // crafted boundary rows: exact repeats, the below-n NULL, null text
    val df = Seq((1L, Option("a b a b a")), (2L, Option("one")),
      (3L, None: Option[String])).toDF("doc_id", "text")
    val got = df.select(col("doc_id"), TA.ngramRepetition(col("text"), 2).as("r"))
      .select(col("doc_id"), col("r.n_grams"), col("r.dup_frac"))
      .collect().map(r => r.getLong(0) -> (r.getInt(1), Option(r.get(2)))).toMap
    assert(got(1L) == (4, Some(0.5)))
    assert(got(2L) == (0, None))
    assert(got(3L) == (0, None)) // null text == HOF's empty-gram result
  }

  test("dupLineFrac: planted duplicate lines, single-line docs score 0") {
    val df = Seq(
      (1L, "one line only"),              // 1 line, 0 dups
      (2L, "head\nbody\nhead"),           // 3 lines, "head" repeats -> 1/3
      (3L, "x\nx\nx\nx"),                 // 4 lines, 1 distinct -> 3/4
      (4L, "a\nb")                        // all distinct -> 0
    ).toDF("doc_id", "text")
    val got = df.select(col("doc_id"), TA.lineCount(col("text")).as("n"),
        TA.dupLineFrac(col("text")).as("f"))
      .collect().map(r => r.getLong(0) -> (r.getInt(1), r.getDouble(2))).toMap
    assert(got == Map(1L -> (1, 0.0), 2L -> (3, 1.0 / 3), 3L -> (4, 0.75),
      4L -> (2, 0.0)))
  }

  test("bpeTokenCount: subword pieces per GPT-2 pre-tokenizer grammar") {
    val df = Seq(
      (1L, "hello world"),   // "hello", " world"            -> 2 pieces, 2 words
      (2L, "don't stop"),    // "don", "'t", " stop"         -> 3 pieces, 2 words
      (3L, "x=1+2"),         // letter/symbol/digit runs     -> 5 pieces, 1 word
      (4L, ""),              // no pieces; split("") = [""]  -> 0 pieces, 1 word
      (5L, "a\u000Bb")       // vertical tab: excluded from symbol runs by
                             // the explicit class (Java and RE2 disagree
                             // on \s for exactly this char) -> 2 pieces
    ).toDF("doc_id", "text")
    val got = df.select(col("doc_id"), TA.bpeTokenCount(col("text")).as("p"),
        TA.tokenCount(col("text")).as("w"))
      .collect().map(r => r.getLong(0) -> (r.getInt(1), r.getInt(2))).toMap
    assert(got == Map(1L -> (2, 2), 2L -> (3, 2), 3L -> (5, 1), 4L -> (0, 1),
      5L -> (2, 2)))
  }

  test("ngramRepetition stays inside whole-stage codegen") {
    // the `*(n)` prefix marks a WholeStageCodegen stage; a codegen
    // fallback would print a bare `Project`
    val plan = Tables.documents(spark, sf0001)
      .select(TA.ngramRepetition(col("text"), 2).as("r"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("*(1) Project"), plan)
  }

  test("scrubPii replaces emails and phones and counts them") {
    val df = Seq(
      (1L, "mail me at jane.doe+x@mail.example.org or call 555-123-4567 ok"),
      (2L, "no pii here")
    ).toDF("doc_id", "text")
    val out = df.select(col("doc_id"), TA.piiCount(col("text")).as("n"),
        TA.scrubPii(col("text")).as("s"))
      .collect().map(r => r.getLong(0) -> (r.getInt(1), r.getString(2))).toMap
    assert(out(1L)._1 == 2)
    assert(out(1L)._2 == "mail me at <EMAIL> or call <PHONE> ok")
    assert(out(2L) == (0, "no pii here"))
  }

  test("lossMask emits exact PII token positions, email precedence, masked rows only") {
    import graft.queries.PipelineQueries
    val df = Seq(
      // pos:     0    1  2  3                          4  5    6
      (1L, "mail me at jane.doe+x@mail.example.org or call 555-123-4567 ok"),
      (2L, "no pii here"),
      (3L, "555-123-4567 starts and ends 777 888-999-0000")
    ).toDF("doc_id", "text")
    val out = PipelineQueries.lossMaskOf(df, col("text"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet
    assert(out == Set(
      (1L, 3, "pii_email"), (1L, 6, "pii_phone"),
      (3L, 0, "pii_phone"), (3L, 5, "pii_phone")),
      s"got $out")
    // a partial hit inside a longer token must NOT mask (anchored match)
    val part = PipelineQueries.lossMaskOf(
      Seq((9L, "x555-123-4567y embedded")).toDF("doc_id", "text"), col("text"))
    assert(part.count() == 0, "embedded pattern inside a token is not a PII token")
  }

  test("zipfShapeOf: spectrum regression, degenerate-spectrum null, exact ttr") {
    import graft.queries.PipelineQueries
    // "zipfy": an exact power-law SPECTRUM — 64 words once, 16 words
    // twice, 4 words x4, 1 word x8: n_words(wc) = 64/wc², so the
    // log-log fit is an exact line of slope -2.  "flat": 10 words
    // x 5 occurrences each — a ONE-POINT spectrum: no line to fit
    val zipfyWords = Seq(1 -> 64, 2 -> 16, 4 -> 4, 8 -> 1).flatMap {
      case (wc, nw) => (0 until nw).flatMap(i => Seq.fill(wc)(s"w${wc}_$i"))
    }
    val flatWords = (0 until 10).flatMap(i => Seq.fill(5)(s"f$i"))
    val docs = Seq((1L, "zipfy", zipfyWords.mkString(" ")),
      (2L, "flat", flatWords.mkString(" "))).toDF("doc_id", "source", "text")
    val out = PipelineQueries.zipfShapeOf(docs)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3),
          if (r.isNullAt(4)) None else Some(r.getDouble(4))))).toMap
    val (fTok, fTyp, fTtr, fSlope) = out("flat")
    assert(fTok == 50L && fTyp == 10L && fTtr == 0.2 && fSlope.isEmpty,
      "a one-point spectrum has no slope (null), ttr exact")
    val (zTok, zTyp, zSlope) = (out("zipfy")._1, out("zipfy")._2, out("zipfy")._4)
    assert(zTok == zipfyWords.size.toLong && zTyp == 85L)
    // independent hand fit over the spectrum (count value -> #words)
    val spectrum = zipfyWords.groupBy(identity).values.map(_.size)
      .groupBy(identity).map { case (wc, g) => (wc, g.size) }
    val pts = spectrum.toSeq.map { case (wc, nw) =>
      (math.log(wc.toDouble), math.log(nw.toDouble)) }
    val n = pts.size.toDouble
    val (sx, sy) = (pts.map(_._1).sum, pts.map(_._2).sum)
    val sxy = pts.map(p => p._1 * p._2).sum
    val sxx = pts.map(p => p._1 * p._1).sum
    val want = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    assert(math.abs(zSlope.get - want) < 1e-9,
      s"zipfy slope ${zSlope.get} vs hand fit $want")
    assert(math.abs(zSlope.get - (-2.0)) < 1e-9,
      "the exact 64/wc² spectrum must fit slope -2")
  }

  test("dsirWeights ranks target-like source docs above unrelated ones") {
    def toks(pfx: String, n: Int) = (0 until n).map(i => s"$pfx${i % 6}").mkString(" ")
    val docs = Seq(
      // target domain: the "med" vocabulary
      (1L, toks("med", 24), true),
      (2L, toks("med", 24), true),
      // source pool: one doc in target vocabulary, one disjoint, one mixed
      (10L, toks("med", 24), false),
      (11L, toks("web", 24), false),
      (12L, s"${toks("med", 12)} ${toks("web", 12)}", false)
    ).toDF("doc_id", "text", "is_t")
    val w = TA.dsirWeights(docs, "doc_id", "text", col("is_t"))
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(w.keySet == Set(1L, 2L, 10L, 11L, 12L))
    // target-like source doc scores highest, disjoint lowest, mixed between
    assert(w(10L) > w(12L) && w(12L) > w(11L), w.toString)
    // target-domain docs score like the target-like source doc (same text)
    assert(math.abs(w(1L) - w(10L)) < 1e-9)
    // the log-importance SIGN separates the domains: target-like
    // positive, disjoint negative (source vocab dominates p_source)
    assert(w(10L) > 0 && w(11L) < 0, w.toString)
  }

  test("NfcNormalize composes decomposed sequences, passes NFC text through") {
    val df = Seq(
      (1L, "cafe\u0301"),         // decomposed -> composes to 4 chars
      (2L, "caf\u00e9"),           // already NFC → unchanged
      (3L, "plain ascii"),         // NFC-invariant
      (4L, null.asInstanceOf[String])
    ).toDF("id", "t")
    val got = df.select($"id", graft.functions.NfcNormalize($"t").as("n"),
        length(graft.functions.NfcNormalize($"t")).as("len"))
      .collect().map(r => r.getLong(0) -> (r.getString(1), if (r.isNullAt(2)) -1 else r.getInt(2))).toMap
    assert(got(1L)._1 == "caf\u00e9" && got(1L)._2 == 4,
      s"composition failed: ${got(1L)}")
    assert(got(2L)._1 == "caf\u00e9" && got(3L)._1 == "plain ascii")
    assert(got(4L)._1 == null, "null must propagate")
    // idempotent: normalizing twice is the identity on the first pass
    val twice = df.where($"id" === 1L).select(
      graft.functions.NfcNormalize(graft.functions.NfcNormalize($"t"))).head().getString(0)
    assert(twice == "caf\u00e9")
  }

  test("incremental DSIR counts: 3-batch maintenance is bit-identical to batch retrain") {
    def toks(pfx: String, n: Int) = (0 until n).map(i => s"$pfx${i % 6}").mkString(" ")
    val docs = (0L until 30L).map { i =>
      val pfx = if (i % 3 == 0) "med" else if (i % 3 == 1) "web" else "mix"
      (i, toks(pfx, 12 + (i % 5).toInt), i % 3 == 0)
    }.toDF("doc_id", "text", "is_t")
    val dir = java.nio.file.Files.createTempDirectory("dsir-incr").toString
    // three disjoint arrival batches covering the corpus
    for (b <- 0L until 3L)
      assert(TA.dsirCountsAppend(docs.where($"doc_id" % 3 === b),
        "doc_id", "text", col("is_t"), dir, b))
    val incr = TA.dsirModelFromCounts(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val batch = TA.dsirModel(docs, "doc_id", "text", col("is_t"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(incr.size == 1024 && batch.size == 1024)
    // counts are exact integers and the log-ratio arithmetic is shared:
    // the maintained model must be BIT-identical, not just close
    assert(incr == batch, "incremental model diverged from batch retrain")
    // replaying a batch is a no-op by construction (shard exists)
    assert(!TA.dsirCountsAppend(docs.where($"doc_id" % 3 === 1L),
      "doc_id", "text", col("is_t"), dir, 1L))
    val replayed = TA.dsirModelFromCounts(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(replayed == incr, "replay changed the model")
    // scoring through the maintained model equals the fused path
    val viaCounts = TA.dsirScoreWith(docs, "doc_id", "text",
        TA.dsirModelFromCounts(spark, dir))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val fused = TA.dsirWeights(docs, "doc_id", "text", col("is_t"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(viaCounts == fused, "maintained-model scoring diverged")
  }

  test("count-shard appends heal TORN shards instead of skipping them") {
    // a writer killed mid-write leaves the shard DIRECTORY present but
    // no _SUCCESS marker — a bare exists() replay check would skip the
    // retry and silently lose the batch's counts (an additive table
    // can't detect a missing addend). The claim must rewrite it.
    def toks(pfx: String, n: Int) = (0 until n).map(i => s"$pfx${i % 6}").mkString(" ")
    val docs = (0L until 12L).map(i =>
      (i, toks(if (i % 2 == 0) "med" else "web", 10), i % 2 == 0))
      .toDF("doc_id", "text", "is_t")
    val dir = java.nio.file.Files.createTempDirectory("dsir-torn").toString
    // batch 0 written cleanly
    assert(TA.dsirCountsAppend(docs.where($"doc_id" < 6), "doc_id", "text",
      col("is_t"), dir, 0L))
    // batch 1: simulate the crash — directory with debris, NO _SUCCESS
    val torn = new java.io.File(s"$dir/counts/batch=1")
    torn.mkdirs()
    java.nio.file.Files.writeString(
      new java.io.File(torn, "part-00000.parquet").toPath, "garbage")
    // the retry must claim (heal) it, not skip
    assert(TA.dsirCountsAppend(docs.where($"doc_id" >= 6), "doc_id", "text",
      col("is_t"), dir, 1L), "torn shard was skipped as a replay")
    val healed = TA.dsirModelFromCounts(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val clean = TA.dsirModel(docs, "doc_id", "text", col("is_t"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(healed == clean, "healed shards diverged from the clean build")
    // and a COMPLETE shard still skips on replay
    assert(!TA.dsirCountsAppend(docs.where($"doc_id" >= 6), "doc_id", "text",
      col("is_t"), dir, 1L))
  }

  test("unigram count shards: incremental scoring equals batch; replay skips; torn shard heals") {
    val docs = (0L until 9L).map(i => (i, s"tok${i % 3} common filler"))
      .toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("uni-incr").toString
    assert(TA.unigramCountsAppend(docs.where($"doc_id" < 5), "doc_id", "text", dir, 0L))
    assert(TA.unigramCountsAppend(docs.where($"doc_id" >= 5), "doc_id", "text", dir, 1L))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val incr = rows(TA.unigramXentFromCounts(docs, "doc_id", "text", dir))
    assert(incr == rows(TA.unigramXent(docs, "doc_id", "text")),
      "count-derived scoring diverged from the batch recount")
    // replay: the complete shard skips, nothing changes
    assert(!TA.unigramCountsAppend(docs.where($"doc_id" >= 5), "doc_id", "text", dir, 1L))
    assert(rows(TA.unigramXentFromCounts(docs, "doc_id", "text", dir)) == incr)
    // torn shard (no _SUCCESS) heals by rewrite instead of skipping
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.delete(
      new org.apache.hadoop.fs.Path(s"$dir/counts/batch=1/_SUCCESS"), false))
    assert(TA.unigramCountsAppend(docs.where($"doc_id" >= 5), "doc_id", "text", dir, 1L),
      "torn shard was skipped as a replay")
    assert(rows(TA.unigramXentFromCounts(docs, "doc_id", "text", dir)) == incr)
  }

  test("naive bayes: planted vocabularies classify correctly; priors break even evidence; stored model identical") {
    // two classes with disjoint planted vocabularies + shared filler;
    // class 'a' has 3x the documents of 'b' (priors must matter)
    val train = (
      (0L until 6L).map(i => (i, "a", "alpha beta shared filler")) ++
      (6L until 8L).map(i => (i, "b", "gamma delta shared filler"))
    ).toDF("doc_id", "lang", "text")
    val model = TA.nbModel(train, "doc_id", "text", "lang")
    // complete grid: both classes carry all 1024 buckets
    assert(model.groupBy("label").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap ==
      Map("a" -> 1024L, "b" -> 1024L))
    def preds(df: org.apache.spark.sql.DataFrame): Map[Long, String] =
      TA.nbClassify(df, "doc_id", "text", model)
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    // class-distinct evidence wins regardless of priors
    val got = preds(Seq((100L, "alpha beta beta"), (101L, "delta gamma"))
      .toDF("doc_id", "text"))
    assert(got == Map(100L -> "a", 101L -> "b"), got.toString)
    // evidence-neutral text (shared vocab only): the 3:1 prior decides
    assert(preds(Seq((102L, "shared filler")).toDF("doc_id", "text")) ==
      Map(102L -> "a"))
    // null text carries no features, hence no row (the absent-row
    // contract; empty STRING tokenizes to one empty token in both
    // engines, so it scores like any single-feature doc)
    assert(preds(Seq((103L, null: String)).toDF("doc_id", "text")).isEmpty)
    // a persisted model round-trips to the identical classification
    val dir = java.nio.file.Files.createTempDirectory("nb-model").toString + "/model"
    model.write.parquet(dir)
    val stored = TA.nbClassify(
        Seq((100L, "alpha beta beta"), (102L, "shared filler"))
          .toDF("doc_id", "text"),
        "doc_id", "text", spark.read.parquet(dir))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSet
    val fused = TA.nbClassify(
        Seq((100L, "alpha beta beta"), (102L, "shared filler"))
          .toDF("doc_id", "text"),
        "doc_id", "text", model)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSet
    assert(stored == fused)
  }

  test("naive bayes count shards: incremental model is bit-identical to batch; split-write crash heals") {
    val train = (
      (0L until 6L).map(i => (i, "a", "alpha beta shared filler")) ++
      (6L until 8L).map(i => (i, "b", "gamma delta shared filler"))
    ).toDF("doc_id", "lang", "text")
    val dir = java.nio.file.Files.createTempDirectory("nb-incr").toString
    assert(TA.nbCountsAppend(train.where($"doc_id" < 4), "doc_id", "text",
      "lang", dir, 0L))
    assert(TA.nbCountsAppend(train.where($"doc_id" >= 4), "doc_id", "text",
      "lang", dir, 1L))
    def modelRows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r =>
        (r.getString(0), r.getLong(1), r.getDouble(2), r.getDouble(3))).toSet
    val incr = modelRows(TA.nbModelFromCounts(spark, dir))
    assert(incr == modelRows(TA.nbModel(train, "doc_id", "text", "lang")),
      "count-assembled model diverged from the batch retrain")
    // full replay: the shard is complete → skipped, model unchanged
    assert(!TA.nbCountsAppend(train.where($"doc_id" >= 4), "doc_id", "text",
      "lang", dir, 1L))
    assert(modelRows(TA.nbModelFromCounts(spark, dir)) == incr)
    // torn shard: batch 1's claim lost its _SUCCESS — the replay
    // rewrites it, and the model heals
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.delete(
      new org.apache.hadoop.fs.Path(s"$dir/counts/batch=1/_SUCCESS"), false))
    assert(TA.nbCountsAppend(train.where($"doc_id" >= 4), "doc_id", "text",
      "lang", dir, 1L), "torn count shard was skipped as a replay")
    assert(modelRows(TA.nbModelFromCounts(spark, dir)) == incr)
    // crash WINDOW: batch 2's shard is written but its claim never
    // completes — the reader must NOT assemble a model from any part of
    // it (likelihoods without priors); the unclaimed batch is invisible
    val extra = Seq((8L, "b", "epsilon zeta shared")).toDF(
      "doc_id", "lang", "text")
    assert(TA.nbCountsAppend(extra, "doc_id", "text", "lang", dir, 2L))
    // rewind to the crash point: the shard's _SUCCESS gone, rows kept
    assert(fs.delete(
      new org.apache.hadoop.fs.Path(s"$dir/counts/batch=2/_SUCCESS"), false))
    assert(modelRows(TA.nbModelFromCounts(spark, dir)) == incr,
      "half-committed batch leaked into the assembled model")
    // the replayed append completes the claim → now counted
    assert(TA.nbCountsAppend(extra, "doc_id", "text", "lang", dir, 2L))
    assert(modelRows(TA.nbModelFromCounts(spark, dir)) ==
      modelRows(TA.nbModel(train.union(extra), "doc_id", "text", "lang")))
  }
}
