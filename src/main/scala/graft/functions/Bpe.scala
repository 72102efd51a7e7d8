package graft.functions

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Byte-pair-encoding tokenizer training and application — the
  * subword step a training-data pipeline runs between curation and
  * packing (token budgets, context-window packing, and per-source
  * mixture shares are all denominated in TOKENIZER tokens, not
  * whitespace words; `q_token_budget`/`q_pack` upstream of this file
  * count whitespace tokens, which over-budgets agglutinative and
  * under-budgets CJK text).
  *
  * Semantics (Sennrich et al. 2016, the standard greedy variant):
  * training iterates "count adjacent symbol pairs over the word
  * vocabulary, merge the most frequent pair everywhere" for a fixed
  * number of merges; application replays the learned merges in rank
  * order over each word. By default no end-of-word sentinel is
  * appended (a documented simplification); the published `</w>`
  * semantics is the OPT-IN `eow` flag on train/encode, oracle-pinned
  * by its own registry row (`q_bpe_train_eow`).
  *
  * Scale shape: the ONLY corpus-scale job is the initial word count
  * (one map-side-combinable groupBy). Training then iterates over the
  * VOCABULARY table — bounded by distinct words, not corpus size — and
  * each iteration is one explode+groupBy plus a 1-row argmax collect
  * (the bounded-driver-artifact pattern: kmeans centroids, WAND
  * bounds). Application is a chain of literal `replace` string ops —
  * whole-stage-codegen'd, zero shuffles before the final doc-keyed
  * aggregation, and the merge list itself is a tiny broadcast-free
  * driver literal (the dsirScoreInRow precedent). At a production
  * merge count (tens of thousands) the training loop materializes the
  * re-delimited vocabulary every `persistEvery` merges instead of
  * growing the replace chain, and application switches to the native
  * [[BpeEncode]] expression; the oracle rows pin the semantics at a
  * small count.
  *
  * Symbol representation: a word's symbol sequence is one string with
  * every symbol wrapped in single spaces — adjacent symbols are
  * separated by exactly TWO spaces ("abc" → " a  b  c "). Whitespace
  * tokenization guarantees no symbol contains a space, so the pattern
  * " x  y " matches the pair (x, y) exactly at symbol boundaries
  * (a prefix/suffix of a longer symbol lacks the flanking spaces), and
  * one left-to-right non-overlapping `replace` pass IS the greedy BPE
  * merge: merging (x, y) consumes y and emits xy ≠ y, so a single pass
  * can never create a new (x, y) adjacency. Spark's `StringReplace`
  * and DuckDB's `replace` share that left-to-right non-overlap
  * contract, which is what lets the oracle replay training verbatim.
  */
object Bpe {

  /** Merge count for the oracle rows — small enough that the DuckDB
    * twin unrolls the training loop, large enough that merged symbols
    * merge again (multi-character tokens appear). */
  val DefaultMerges = 8

  /** The OPT-IN end-of-word sentinel symbol (Sennrich et al.'s `</w>`)
    * — appended to every word's symbol stream when `eow = true`, so
    * word-final subwords train and apply as distinct tokens ("est" vs
    * "est</w>"). Off by default: the registry's primary rows pin the
    * sentinel-free semantics; `q_bpe_train_eow` pins this one (the
    * `q_ema_ref` checkable-deviation precedent). Standard-caveat note:
    * a corpus word containing the literal characters `<`,`/`,`w`,`>`
    * can MERGE into a symbol equal to the sentinel (the delimited form
    * wraps code points, so the raw string never collides, but merges
    * can rebuild it) — the same ambiguity every published `</w>`
    * implementation shares. */
  val Sentinel = "</w>"

  /** One learned merge: rank is 1-based priority order. */
  final case class Merge(merge_rank: Int, x: String, y: String, cnt: Long)

  /** The delimited symbol form: every code point wrapped in spaces.
    * `(?s)` so the dot crosses the line-terminator class — Java and
    * RE2 disagree on U+2028/U+0085 without it, and `\s+` word
    * splitting only strips the ASCII whitespace class. */
  private[graft] def delimited(word: Column): Column =
    regexp_replace(word, "(?s)(.)", " $1 ")

  /** [[delimited]] with the optional sentinel appended as one more
    * symbol: `" a  b  c "` → `" a  b  c  </w> "` (the trailing single
    * space of the delimited form plus the literal's leading space make
    * the exactly-two-space separator). */
  private[graft] def delim(word: Column, eow: Boolean): Column =
    if (eow) concat(delimited(word), lit(s" $Sentinel ")) else delimited(word)

  /** Symbols of a delimited string (inverse of [[delimited]] modulo
    * merges). `trim` strips the outer single spaces; symbols are
    * separated by exactly two. */
  private[graft] def symbols(ds: Column): Column = split(trim(ds), "  ")

  /** Literal search/replacement strings for merging (x, y) → xy. */
  private[graft] def mergePattern(x: String, y: String): (String, String) =
    (s" $x  $y ", s" $x$y ")

  /** The (word, wc) vocabulary table — BPE training's one corpus-scale
    * job. Tokenization matches [[TextAnalysis.tokens]] (and the TOKS
    * SQL twin) so counts reconcile with every other text row. */
  def wordCounts(docs: DataFrame, text: String): DataFrame =
    docs.select(explode(TextAnalysis.tokens(col(text))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("wc"))

  /** Train up to numMerges merges over a (word, wc) vocabulary table.
    * Ties break on (cnt DESC, x ASC, y ASC) — binary string order on
    * both engines — so the sequence is deterministic. Stops early if
    * the pair space runs dry (single-symbol vocabulary).
    *
    * `persistEvery`: iteration i normally re-scans the cached base
    * through i−1 chained replaces — quadratic in merge count, fine at
    * the oracle rows' 8, wrong at a production tokenizer's tens of
    * thousands. Every `persistEvery` accepted merges the re-delimited
    * vocabulary is MATERIALIZED into a fresh cached frame and the
    * chain resets — per-iteration work becomes one scan + ≤k replaces
    * at any merge count. Materialization changes plan shape only:
    * merges are bit-identical for any k ([[graft.BpeSpec]] pins it).
    *
    * `minWc`: frequency floor on the vocabulary — words with wc <
    * minWc never enter pair counting. A 100 TB crawl's distinct-word
    * table is 10⁸–10⁹ rows dominated by a typo/URL tail; the floor
    * bounds what the merge loop scans every iteration (real trainers
    * floor for exactly this reason). NOT a transparent optimization:
    * dropping tail mass CHANGES the pair counts and therefore can
    * change the trained sequence — [[graft.BpeSpec]] pins both the
    * sensitivity and floor ≡ pre-filtered-vocabulary equivalence.
    *
    * `eow`: append the [[Sentinel]] to every word's symbol stream
    * (published Sennrich semantics — word-final tokens distinct);
    * changes the trained sequence by construction. */
  def trainMerges(wordCounts: DataFrame, numMerges: Int,
                  persistEvery: Int = 64, minWc: Long = 1L,
                  eow: Boolean = false): Seq[Merge] = {
    require(persistEvery >= 1, s"persistEvery must be >= 1: $persistEvery")
    require(minWc >= 1, s"minWc must be >= 1: $minWc")
    var base = wordCounts
      .where(col("wc") >= minWc)
      .select(delim(col("word"), eow).as("ds"), col("wc").cast("long").as("wc"))
      .persist()
    try {
      val out = scala.collection.mutable.ArrayBuffer.empty[Merge]
      // the re-delimit chain since the last materialization: iteration
      // scans the cached base plus ≤persistEvery codegen'd replaces
      var chain: Column = col("ds")
      var chainLen = 0
      var rank = 1
      var dry = false
      while (rank <= numMerges && !dry) {
        val syms = symbols(chain)
        // per-merge argmax in ONE job (r18, verdict item 5): the
        // DataFrame groupBy+TakeOrdered shape paid 2 AQE stage-jobs per
        // merge — pure scheduling latency on a contractually sequential
        // loop (8 merges = 8 actions, nothing to batch). The RDD shape
        // is the same aggregation (reduceByKey = map-side combine +
        // one count shuffle, exactly the partial/final agg it
        // replaces) folded to a single 1-candidate-per-partition
        // action. BIT-EXACT by construction: counts are Long sums
        // (order-free), and the (cnt DESC, x ASC, y ASC) tie-break
        // compares the strings as unsigned UTF-8 bytes — Spark's
        // UTF8String binary order, the order the old `orderBy` and the
        // DuckDB oracle use (Java String.compareTo would diverge on
        // surrogate pairs). BpeSpec pins the trained sequences.
        val pairCounts = base.select(col("wc"),
            explode(zip_with(
              slice(syms, lit(1), size(syms) - 1),
              slice(syms, lit(2), size(syms) - 1),
              (l, r) => struct(l.as("x"), r.as("y")))).as("p"))
          .select(col("p.x").as("x"), col("p.y").as("y"), col("wc"))
          .rdd
          .map(r => ((r.getString(0), r.getString(1)), r.getLong(2)))
          .reduceByKey(_ + _)
        def utf8Lt(a: String, b: String): Boolean =
          java.util.Arrays.compareUnsigned(
            a.getBytes(java.nio.charset.StandardCharsets.UTF_8),
            b.getBytes(java.nio.charset.StandardCharsets.UTF_8)) < 0
        def pick(l: Option[((String, String), Long)],
                 r: Option[((String, String), Long)])
            : Option[((String, String), Long)] = (l, r) match {
          case (None, b) => b
          case (a, None) => a
          case (Some(a @ ((ax, ay), ac)), Some(b @ ((bx, by), bc))) =>
            if (ac != bc) { if (ac > bc) Some(a) else Some(b) }
            else if (ax != bx) { if (utf8Lt(ax, bx)) Some(a) else Some(b) }
            else if (utf8Lt(ay, by) || ay == by) Some(a) else Some(b)
        }
        val best = pairCounts
          .map(Option(_))
          .fold(Option.empty[((String, String), Long)])(pick)
        if (best.isEmpty) dry = true
        else {
          val ((bx, by), bc) = best.get
          val m = Merge(rank, bx, by, bc)
          out += m
          val (pat, rep) = mergePattern(m.x, m.y)
          chain = replace(chain, lit(pat), lit(rep))
          chainLen += 1
          if (chainLen >= persistEvery) {
            val next = base.select(chain.as("ds"), col("wc")).persist()
            try next.count() // materialize before dropping the parent
            catch { case t: Throwable => next.unpersist(); throw t }
            base.unpersist()
            base = next
            chain = col("ds")
            chainLen = 0
          }
          rank += 1
        }
      }
      out.toSeq
    } finally { base.unpersist() }
  }

  /** Encode a word column under an ORDERED merge list as the literal
    * replace chain — ONE nested replace per merge. This is the oracle
    * reference form (DuckDB replays it verbatim) and stays exact at
    * the registry rows' merge count, but the plan grows with |merges|:
    * production tokenizers use [[encodeNative]], which implements the
    * identical pass semantics in one expression ([[graft.BpeSpec]]
    * pins chain ≡ native). */
  def encodeExpr(word: Column, merges: Seq[Merge],
                 eow: Boolean = false): Column =
    merges.foldLeft(delim(word, eow)) { (c, m) =>
      val (pat, rep) = mergePattern(m.x, m.y)
      replace(c, lit(pat), lit(rep))
    }

  /** The native encoder ([[BpeEncode]]): same rank-order one-pass
    * merge semantics, constant plan size at any merge count, the
    * merge table a plan reference object. Returns the symbol array
    * directly (the chain form's [[symbols]] split included). */
  def encodeNative(word: Column, merges: Seq[Merge],
                   eow: Boolean = false): Column = {
    import org.apache.spark.sql.graftext.ColumnBridge
    ColumnBridge.column(BpeEncode(
      ColumnBridge.expression(word), merges.map(m => (m.x, m.y)), eow))
  }

  /** Subword token count of one word under the merges (native path). */
  def tokenCountExpr(word: Column, merges: Seq[Merge],
                     eow: Boolean = false): Column =
    size(encodeNative(word, merges, eow))

  /** Per-document tokenizer statistics: whitespace word count and the
    * BPE token count under the merges — the numbers `q_token_budget`/
    * `q_pack` should be denominated in. One explode + one doc-keyed
    * aggregation; the encode itself never shuffles. Encodes every word
    * OCCURRENCE — and stays the measured default even on a repeat-heavy
    * corpus (`BpeProbe`: the native encode undercuts the shuffles the
    * distinct-word shape adds); [[docTokenStatsDistinct]] is the
    * heavy-encode-regime alternative. */
  def docTokenStats(docs: DataFrame, id: String, text: String,
                    merges: Seq[Merge]): DataFrame =
    docs.select(col(id), explode(TextAnalysis.tokens(col(text))).as("word"))
      .select(col(id), tokenCountExpr(col("word"), merges).as("nt"))
      .groupBy(id).agg(
        count(lit(1)).as("n_words"),
        sum(col("nt")).as("n_bpe_tokens"))

  /** [[docTokenStats]] with the encode run ONCE PER DISTINCT WORD and
    * the per-(doc, word) occurrence counts joined back — a
    * vocabulary-sized shuffle bought back by corpus_occurrences/|vocab|
    * fewer encode calls. MEASURED verdict (`BpeProbe` @8M occurrences,
    * mean word frequency 160): the per-occurrence [[docTokenStats]]
    * WINS (2.3 vs 7.0 s) — the native [[BpeEncode]] costs ~0.26 µs/word,
    * cheaper than what this shape's two extra shuffles cost per row, so
    * the Zipf-folklore "encode the vocabulary once" default comes from
    * regex/interpreter-cost encoders, not this one. Reach for this
    * variant only when per-word encode dominates the shuffle — very
    * long words, 10⁴-merge tables with dense presence-set hits, or an
    * encode that leaves codegen. [[graft.BpeSpec]] pins the two shapes
    * equal row-for-row. */
  def docTokenStatsDistinct(docs: DataFrame, id: String, text: String,
                            merges: Seq[Merge]): DataFrame = {
    val occ = docs
      .select(col(id), explode(TextAnalysis.tokens(col(text))).as("word"))
      .groupBy(col(id), col("word")).agg(count(lit(1)).as("occ"))
    val dict = occ.select("word").distinct()
      .select(col("word"), tokenCountExpr(col("word"), merges).as("nt"))
    occ.join(dict, Seq("word"))
      .groupBy(id).agg(
        sum(col("occ")).as("n_words"),
        sum(col("occ") * col("nt")).as("n_bpe_tokens"))
  }

  /** The token-id vocabulary under the merges — the artifact a trainer
    * actually loads: every surviving symbol with its corpus occurrence
    * count and a deterministic id (frequency-ranked, symbol tie-break).
    * The id window runs over the SYMBOL vocabulary — bounded by
    * |alphabet| + numMerges, never corpus- or word-vocab-scale. */
  def vocab(docs: DataFrame, text: String,
            merges: Seq[Merge]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    docs.select(explode(TextAnalysis.tokens(col(text))).as("word"))
      .select(explode(encodeNative(col("word"), merges)).as("symbol"))
      .groupBy("symbol").agg(count(lit(1)).as("n_occ"))
      .withColumn("token_id", row_number().over(
        Window.orderBy(col("n_occ").desc, col("symbol").asc)))
      .select(col("token_id"), col("symbol"), col("n_occ"))
  }

  /** Training + application CTE chain (train, then each merge applied
    * to the document word stream in rank order) — ONE copy shared by
    * every apply-side oracle (tokens, vocab, pack). Each step LEFT
    * JOINs its (≤1-row) trained merge b_i so a dried-up training run
    * (b_i empty past the last learnable merge) degrades e_i to e_{i-1}
    * — matching the engine, which gracefully applies the shorter merge
    * list — instead of emptying every downstream CTE through a CROSS
    * JOIN with zero rows. */
  private def applyCtes(toks: String, m: Int): String = {
    val sb = new StringBuilder
    sb ++= trainCtes(toks, m)
    sb ++= ",\ne0 AS (SELECT doc_id, regexp_replace(word, '(?s)(.)', ' \\1 ', 'g') AS ds FROM toks)"
    for (i <- 1 to m)
      sb ++= s""",
e$i AS (SELECT doc_id,
          CASE WHEN x IS NULL THEN ds
               ELSE replace(ds, ' '||x||'  '||y||' ', ' '||x||y||' ') END AS ds
        FROM e${i - 1} LEFT JOIN b$i ON TRUE)"""
    sb.toString
  }

  /** Oracle for [[vocab]]: the apply chain's final delimited form,
    * re-exploded to symbols. */
  def vocabOracleSql(toks: String, m: Int = DefaultMerges): String =
    applyCtes(toks, m) + s"""
SELECT CAST(row_number() OVER (ORDER BY n_occ DESC, symbol ASC) AS INTEGER)
         AS token_id,
       symbol, n_occ FROM (
  SELECT symbol, CAST(count(*) AS BIGINT) AS n_occ FROM (
    SELECT unnest(string_split(trim(ds), '  ')) AS symbol FROM e$m)
  GROUP BY symbol)"""

  /** Per-document BPE token count as ONE expression (higher-order
    * functions: transform each word to its subword count, aggregate-
    * sum) — no explode, no shuffle: the form a downstream consumer
    * (packing, token budgets) composes into its own plan. The exploded
    * twin [[docTokenStats]] is the oracle row; equality is pinned by
    * `q_pack_bpe` sharing the apply oracle's count. */
  def docTokenCountExpr(text: Column, merges: Seq[Merge]): Column =
    aggregate(
      transform(TextAnalysis.tokens(text),
        w => tokenCountExpr(w, merges)),
      lit(0), (a, x) => a + x)

  /** The `t (doc_id, n_tokens)` oracle CTE chain for BPE-denominated
    * consumers: training unrolled, merges applied to the word stream,
    * counts summed per document. Composable with any tail that reads
    * `t` (the pack-rows twin). */
  def docTokenCountCtes(toks: String, m: Int = DefaultMerges): String =
    applyCtes(toks, m) + s""",
t AS (SELECT doc_id, CAST(sum(len(string_split(trim(ds), '  '))) AS INTEGER)
        AS n_tokens
      FROM e$m GROUP BY doc_id)"""

  /** Merges as a DataFrame (the registry/serving shape). */
  def mergesDf(spark: SparkSession, merges: Seq[Merge]): DataFrame = {
    import spark.implicits._
    merges.toDF()
  }

  // ---- stored tokenizer artifact (the q_dsir_stored discipline) ----

  /** Persist a trained merge list as the tokenizer artifact: train
    * once per corpus fingerprint, every downstream job reads the
    * rank-ordered parquet instead of re-counting pairs. */
  def writeMerges(spark: SparkSession, merges: Seq[Merge],
                  dir: String): Unit =
    mergesDf(spark, merges).repartition(1)
      .write.mode("overwrite").parquet(s"$dir/bpe_merges")

  /** Read the stored merge list back in rank order — a bounded
    * driver-side artifact (merge-count rows). */
  def readMerges(spark: SparkSession, dir: String): Seq[Merge] =
    mergesFrom(spark.read.parquet(s"$dir/bpe_merges"))

  /** A merge-table FRAME back to the driver-side rank-ordered list —
    * the consumer half of [[mergesDf]] (any stage/registry parquet of
    * the merge schema, not just the `bpe_merges` artifact layout). */
  def mergesFrom(df: DataFrame): Seq[Merge] =
    df.orderBy(col("merge_rank"))
      .collect()
      .map(r => Merge(r.getAs[Int]("merge_rank"), r.getAs[String]("x"),
        r.getAs[String]("y"), r.getAs[Long]("cnt")))
      .toSeq

  // ---- maintained word-count channel (the unigram-LM discipline) ----
  // Word counts are exact integers and additive, so ingest − retire ≡
  // a batch recount over the retained corpus, and the trained merges
  // are IDENTICAL (same counts → same argmax sequence). The channel is
  // value-keyed (vocabulary-bounded, not history-bounded), so it keeps
  // subtract-at-read like the other count families; compaction folds
  // history (CountChannelGrowthProbe measured the curve).

  private def countChannel(dir: String) = ShardWrite.CountChannel(
    s"$dir/counts", s"$dir/retire", "word STRING, wc BIGINT", Seq("word"))

  /** Append one ingest batch's (word, wc) contribution as a
    * `_SUCCESS`-claimed shard. Returns false iff replayed. */
  def wordCountsAppend(docs: DataFrame, text: String,
                       dir: String, batchId: Long): Boolean =
    countChannel(dir).append(batchId, wordCounts(docs, text))

  /** The retire channel: tombstoned docs replay their word counts here;
    * [[wordCountsFromShards]] subtracts at read. */
  def wordCountsRetire(docs: DataFrame, text: String,
                       dir: String, batchId: Long): Boolean =
    countChannel(dir).retire(batchId, wordCounts(docs, text))

  /** The vocabulary table from the accumulated shards: ingest − retire,
    * vanished words net to wc = 0 and drop (a zero-count word must not
    * reach pair counting). Reads through the m-shard watermark rule. */
  def wordCountsFromShards(spark: SparkSession, dir: String): DataFrame =
    countChannel(dir).netted(spark)

  /** Fold both channels to one merged m-shard each (watermark
    * discipline; counts re-SUM, so training is bit-stable across the
    * rewrite). */
  def compactWordCounts(spark: SparkSession,
                        dir: String): ((Int, Int), (Int, Int)) =
    countChannel(dir).compact(spark)

  /** The STREAMING sink twin of [[wordCountsAppend]] (the
    * `startTfIndexSink` discipline every other maintained family has):
    * a document stream continuously feeds the tokenizer's (word, wc)
    * ingest channel, one `_SUCCESS`-claimed shard per micro-batch —
    * replay-idempotent through [[graft.functions.ShardWrite.appendBatch]]
    * (a foreachBatch retry of a committed batch id is a no-op, and a
    * batch at/below a compaction watermark never double-counts).
    * `compactEvery > 0` folds both channels to one m-shard every N
    * batches inside the sink's own maintenance window; training reads
    * [[wordCountsFromShards]] at any point and sees exactly the
    * documents ingested so far ([[graft.BpeSpec]] pins sink-fed ≡
    * batch recount across replays and compaction). */
  def startBpeCountSink(docs: DataFrame, text: String, dir: String,
                        checkpoint: String,
                        trigger: org.apache.spark.sql.streaming.Trigger =
                          org.apache.spark.sql.streaming.Trigger
                            .ProcessingTime("10 seconds"),
                        compactEvery: Int = 0)
      : org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .outputMode("append")
      .trigger(trigger)
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        wordCountsAppend(batch, text, dir, batchId)
        if (compactEvery > 0 && batchId % compactEvery == compactEvery - 1)
          compactWordCounts(batch.sparkSession, dir)
        ()
      }
      .start()

  // ---- DuckDB oracle twins (generated from the same literals) ----

  /** The unrolled-training CTE chain: w (vocabulary), d0 (delimited),
    * then per merge i: pair counts p_i, argmax b_i, re-delimited d_i.
    * Returned WITHOUT a final SELECT so train and apply rows share it.
    * `toks` is the tokenizer SQL snippet (PipelineQueries.TOKS). */
  private def trainCtes(toks: String, m: Int,
                        eow: Boolean = false, minWc: Long = 1L): String = {
    val sentinel = if (eow) s" || ' $Sentinel '" else ""
    val floor = if (minWc > 1L) s" WHERE wc >= $minWc" else ""
    val sb = new StringBuilder
    sb ++= s"WITH toks AS (SELECT doc_id, unnest($toks) AS word FROM documents),\n"
    sb ++= "w AS (SELECT word, count(*) AS wc FROM toks GROUP BY word),\n"
    sb ++= s"d0 AS (SELECT regexp_replace(word, '(?s)(.)', ' \\1 ', 'g')$sentinel AS ds, wc FROM w$floor)"
    for (i <- 1 to m) {
      sb ++= s""",
p$i AS (SELECT syms[i] AS x, syms[i+1] AS y, wc FROM (
  SELECT string_split(trim(ds), '  ') AS syms, wc,
         unnest(range(1, len(string_split(trim(ds), '  ')))) AS i
  FROM d${i - 1})),
b$i AS (SELECT x, y, CAST(sum(wc) AS BIGINT) AS cnt FROM p$i GROUP BY x, y
        ORDER BY cnt DESC, x ASC, y ASC LIMIT 1),
d$i AS (SELECT CASE WHEN x IS NULL THEN ds
                    ELSE replace(ds, ' '||x||'  '||y||' ', ' '||x||y||' ') END AS ds,
               wc
        FROM d${i - 1} LEFT JOIN b$i ON TRUE)"""
    }
    sb.toString
  }

  /** Oracle for the trained merge list itself. */
  def trainOracleSql(toks: String, m: Int = DefaultMerges,
                     eow: Boolean = false, minWc: Long = 1L): String =
    trainCtes(toks, m, eow, minWc) + "\n" +
      (1 to m).map(i =>
        s"SELECT $i AS merge_rank, x, y, cnt FROM b$i")
        .mkString("", "\nUNION ALL\n", "")

  /** Oracle for per-document token stats: replays training, then
    * applies the b_i merges to the document word stream in rank order
    * (each b_i is one row — the cross joins are scalar). */
  def applyOracleSql(toks: String, m: Int = DefaultMerges): String =
    applyCtes(toks, m) + s"""
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
       CAST(sum(len(string_split(trim(ds), '  '))) AS BIGINT) AS n_bpe_tokens
FROM e$m GROUP BY doc_id"""
}
