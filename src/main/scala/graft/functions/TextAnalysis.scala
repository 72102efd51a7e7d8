package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis operators for LLM-data pipelines (builder brief §extensions):
  * tokenization stats, quality scoring, heuristic language-ID, document
  * fingerprinting. All pure Column expressions — codegen-friendly, no UDFs,
  * no shuffles until the caller aggregates — so they run per-row at scan
  * speed over 100 TB of text.
  */
object TextAnalysis {

  /** Strip ALL leading/trailing whitespace. Built-in `trim` strips only
    * ASCII spaces (in Spark AND the oracle engine), so \t/\n edges would
    * still diverge: Java split drops TRAILING empty strings but keeps
    * leading ones, while the oracle's regex split keeps both. The oracle
    * twin is `regexp_replace(x, '^\s+|\s+$', '', 'g')`.
    *
    * KNOWN `\s` ENGINE DIVERGENCE: Java's `\s` is `[ \t\n\x0B\f\r]` while
    * RE2's (DuckDB's) is `[ \t\n\f\r]` — vertical tab (U+000B) is the one
    * ASCII character they disagree on. Every `\s`-based twin (tokens,
    * shingles, simhash, repetition) inherits this: a corpus containing
    * literal vertical tabs would tokenize differently in the two engines.
    * Accepted as out-of-contract for these twins (U+000B essentially does
    * not occur in text corpora; normalize F9-style stripping removes it
    * upstream); [[BpeTokenRe]] — written later, with the claim made
    * explicit — spells out the class instead. */
  def wsTrim(c: Column): Column = regexp_replace(c, "^\\s+|\\s+$", "")

  /** Whitespace tokenizer: split on runs of whitespace; punctuation kept
    * attached as in raw web text. ([[bpeTokenCount]] is the
    * subword-style counterpart.) */
  def tokens(text: Column): Column = split(wsTrim(text), "\\s+")

  def tokenCount(text: Column): Column = size(tokens(text))

  /** GPT-2-style pre-tokenizer pattern: contraction suffixes, then
    * space-prefixed letter runs / digit runs / symbol runs. This is the
    * piece-boundary grammar BPE vocabularies are trained over, so its
    * match count tracks "how many subword tokens will this text cost"
    * far better than whitespace words (code and punctuation-dense text
    * fan out; prose stays ~1 piece per word). Two deliberate deviations
    * from the original GPT-2 regex, both for engine-portability: no
    * `\s+(?!\S)` lookahead branch (RE2 — the oracle engine's regex — has
    * no lookahead) and no standalone-whitespace branch (a token COUNT
    * wants pieces, not separators; the scanner skips unmatched
    * whitespace on its own). Alternation is leftmost-first in BOTH Java
    * regex and RE2, so the same string yields the same matches — and the
    * whitespace exclusion is the EXPLICIT class `[ \t\n\x0B\f\r]`, not
    * `\s`, because Java's `\s` includes vertical tab while RE2's does
    * not (the one ASCII character the two engines disagree on — see the
    * [[wsTrim]] note for where `\s` remains). */
  val BpeTokenRe: String =
    "'s|'t|'re|'ve|'m|'ll|'d| ?\\p{L}+| ?\\p{N}+| ?[^ \\t\\n\\x0B\\f\\r\\p{L}\\p{N}]+"

  /** Subword-piece count under [[BpeTokenRe]] — the "BPE-ish regex"
    * token counter: one codegen'd regexp_extract_all per row, no UDF. */
  def bpeTokenCount(text: Column): Column =
    size(regexp_extract_all(text, lit(BpeTokenRe), lit(0)))

  def charCount(text: Column): Column = length(text)

  /** Mean token length — a classic quality signal. */
  def avgWordLen(text: Column): Column =
    (length(text) - tokenCount(text) + 1).cast("double") / tokenCount(text)

  /** Fraction of tokens in a stopword list — high for natural prose,
    * low for boilerplate/code/gibberish. */
  def stopwordRatio(text: Column, stopwords: Seq[String]): Column = {
    val hits = filter(tokens(text), t => t.isInCollection(stopwords))
    size(hits).cast("double") / tokenCount(text)
  }

  /** Ratio of punctuation characters to total characters. */
  def punctRatio(text: Column): Column =
    (length(text) - length(regexp_replace(text, "[\\p{Punct}]", ""))).cast("double") /
      length(text)

  /** Composite quality score in [0,1]: blends stopword density, length
    * band, and word-length plausibility. Deterministic and SQL-expressible
    * so it can be oracle-checked; weights are heuristic. */
  def qualityScore(text: Column, stopwords: Seq[String]): Column = {
    val lenScore = least(tokenCount(text).cast("double") / 50.0, lit(1.0))
    val stopScore = least(stopwordRatio(text, stopwords) * 5.0, lit(1.0))
    val wordLen = avgWordLen(text)
    val wordScore = when(wordLen >= 3.0 && wordLen <= 10.0, 1.0).otherwise(0.0)
    lenScore * 0.4 + stopScore * 0.4 + wordScore * 0.2
  }

  /** Heuristic n-gram/marker language-ID: score = marker-token overlap per
    * language profile, argmax with a fixed precedence tie-break. Profiles
    * are tiny built-in stopword sets (public-knowledge frequency lists);
    * callers supply their own for more languages.
    */
  val defaultProfiles: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is"),
    "es" -> Seq("el", "la", "de", "que", "y", "en", "los"),
    "de" -> Seq("der", "die", "und", "das", "ist", "von", "mit"))

  def langScores(text: Column, profiles: Seq[(String, Seq[String])]): Seq[(String, Column)] =
    profiles.map { case (lang, words) =>
      lang -> size(filter(tokens(text), t => t.isInCollection(words)))
    }

  /** Predicted language: argmax of profile scores; earlier profile wins
    * ties (deterministic). Score 0 everywhere → "unk". */
  def langId(text: Column, profiles: Seq[(String, Seq[String])] = defaultProfiles): Column = {
    val scores = langScores(text, profiles)
    def maxOf(cs: Seq[Column]): Column =
      if (cs.size == 1) cs.head else greatest(cs: _*)
    val best = scores.tail.foldLeft[Column](lit(scores.head._1)) { case (acc, (lang, s)) =>
      // strictly-greater keeps earlier profiles on ties
      when(s > maxOf(scores.takeWhile(_._1 != lang).map(_._2)), lang).otherwise(acc)
    }
    when(maxOf(scores.map(_._2)) === 0, "unk").otherwise(best)
  }

  /** TF-IDF per (doc, term): tf = term count / doc length, idf =
    * ln(N / docfreq). Three hash-shuffles (term counts, doc lengths, doc
    * freqs) + broadcast of the scalar corpus size — no driver loops, the
    * standard distributed formulation.
    */
  /** The (doc_id, term) exploded token stream — ONE definition for every
    * corpus-statistics consumer ([[tfidf]], [[unigramXent]]), the same
    * consolidation the shingle pipeline has in [[Dedup.shinglesRaw]]. */
  private def explodedTerms(docs: org.apache.spark.sql.DataFrame, id: String,
                            text: String): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.{col, explode}
    docs.select(col(id).as("doc_id"), explode(tokens(col(text))).as("term"))
  }

  def tfidf(docs: org.apache.spark.sql.DataFrame, id: String,
            text: String): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.{broadcast, col, count, countDistinct}
    val toks = explodedTerms(docs, id, text)
    val tf = toks.groupBy("doc_id", "term").agg(count(lit(1)).as("n"))
    val dl = toks.groupBy("doc_id").agg(count(lit(1)).as("dl"))
    val dfreq = toks.groupBy("term").agg(countDistinct(col("doc_id")).as("doc_freq"))
    val nd = docs.agg(countDistinct(col(id)).as("nd"))
    tfidfScoreJoined(tf.join(dl, "doc_id")
      .join(dfreq, "term")
      .join(broadcast(nd)), col("n"))
  }

  /** The ONE tf-idf projection tail shared by [[tfidf]] and
    * [[tfidfFromIndex]] — the [[bm25ScoreJoined]] discipline: parity
    * between corpus-recomputed and index-served scores rests on a
    * single formula definition. `joined` carries (doc_id, term, <n>,
    * dl, doc_freq, nd) per (doc, term). */
  private def tfidfScoreJoined(joined: org.apache.spark.sql.DataFrame,
                               n: Column): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.col
    joined.select(col("doc_id"), col("term"),
      (n.cast("double") / col("dl")).as("tf"),
      col("doc_freq"),
      ((n.cast("double") / col("dl")) *
        log(col("nd").cast("double") / col("doc_freq"))).as("tfidf"))
  }

  /** BM25 retrieval scoring (Robertson–Spärck Jones, the Lucene-style
    * always-positive idf) of every document against a FIXED query term
    * set: score(d) = Σ_{t∈q} ln(1 + (N−df_t+0.5)/(df_t+0.5)) ·
    * n_t·(k1+1) / (n_t + k1·(1−b+b·dl/avgdl)). Output
    * (doc_id, bm25, n_hits) for documents matching ≥1 query term — the
    * scoring half of a keyword-search/BM25-retrieval pass (the postings
    * operator is the index half).
    *
    * Scale shape: the tfidf topology with the probe side FILTERED to
    * the |q| query terms BEFORE any shuffle — the (doc, term) and df
    * aggregations run over the filtered explode (≈ df_t rows per term,
    * never the corpus token stream); dl is a per-row expression
    * (tokenCount ≡ the exploded count, the unigramXent identity), and
    * (N, avgdl) is a single-row broadcast scalar. avgdl is bit-equal
    * across engines: token counts are small integers, so double
    * accumulation is exact in any order and the average is one exact
    * division. */
  def bm25(docs: org.apache.spark.sql.DataFrame, id: String, text: String,
           terms: Seq[String], k1: Double = 1.2,
           b: Double = 0.75): org.apache.spark.sql.DataFrame = {
    require(terms.nonEmpty, "bm25 needs at least one query term")
    import org.apache.spark.sql.functions.{avg, broadcast, col, count, countDistinct}
    val toks = explodedTerms(docs, id, text).where(col("term").isin(terms: _*))
    val tf = toks.groupBy("doc_id", "term").agg(count(lit(1)).as("n"))
    val dl = docs.select(col(id).as("doc_id"), tokenCount(col(text)).as("dl"))
    val dfreq = toks.groupBy("term").agg(countDistinct(col("doc_id")).as("doc_freq"))
    val scal = docs.agg(countDistinct(col(id)).cast("double").as("nd"),
      avg(tokenCount(col(text)).cast("double")).as("avgdl"))
    bm25ScoreJoined(tf.join(dl, "doc_id")
      .join(broadcast(dfreq), "term")
      .join(broadcast(scal)), col("n"), k1, b)
  }

  /** The ONE BM25 scoring tail — idf, contrib, per-doc aggregation —
    * shared by [[bm25]] (corpus-recomputed) and [[bm25FromIndex]]
    * (index-served). Their oracle-pinned parity rests on this being a
    * single definition: an inline re-spelling would desync the two on
    * the first formula tweak, the exact failure mode the shared
    * [[tokens]] tokenizer closed for the postings operators. `joined`
    * carries (doc_id, <n>, dl, doc_freq, nd, avgdl) per (doc, term). */
  private def bm25ScoreJoined(joined: org.apache.spark.sql.DataFrame,
                              n: Column, k1: Double,
                              b: Double): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.{col, count, sum}
    joined
      .withColumn("idf", log(lit(1.0) +
        (col("nd") - col("doc_freq") + 0.5) / (col("doc_freq") + 0.5)))
      .withColumn("contrib", col("idf") * (n * lit(k1 + 1)) /
        (n + lit(k1) * (lit(1 - b) + lit(b) * col("dl") / col("avgdl"))))
      .groupBy("doc_id")
      .agg(sum(col("contrib")).as("bm25"), count(lit(1)).as("n_hits"))
  }

  /** The TF half of the inverted index — the stored artifact
    * [[bm25FromIndex]] scores from: one row per (token, doc_id) with
    * the in-document term frequency. At corpus scale this table is
    * PARTITIONED BY token, so a query-term lookup is partition pruning
    * (scan cost Σ df over the query terms), never an index scan; and
    * df(t) is derivable as the per-token row count — each (token, doc)
    * pair appears exactly once. Under the fresh-docs discipline
    * ([[graft.functions.Dedup.dedupNewRows]]) shards over disjoint doc
    * batches are df-additive and merge by plain UNION —
    * [[graft.streaming.PostingsIndex.tfIndexBatch]] maintains it
    * continuously from a document stream. */
  def tfPostings(docs: org.apache.spark.sql.DataFrame, id: String,
                 text: String): org.apache.spark.sql.DataFrame =
    explodedTerms(docs, id, text)
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      .select(col("term").as("token"), col("doc_id"), col("tf"))

  /** Doc-length sidecar (doc_id, dl) — the second stored artifact BM25
    * needs: dl is the length normalizer, and (N, avgdl) are its two
    * aggregates. One expression per row at index time; doc-scale rows
    * (never token-scale) forever after. */
  def docLengths(docs: org.apache.spark.sql.DataFrame, id: String,
                 text: String): org.apache.spark.sql.DataFrame =
    docs.select(col(id).as("doc_id"), tokenCount(col(text)).cast("long").as("dl"))

  /** Positional postings — [[tfPostings]] extended with the sorted
    * 0-based token positions (Lucene-style postings-with-positions, the
    * artifact phrase search serves from): one row per (token, doc_id)
    * with tf AND `positions: array<int>`. Row count identical to the tf
    * table; the positions payload adds Σ tf ints — the standard
    * positional-index size trade. Maintained continuously by
    * [[graft.streaming.PostingsIndex.posIndexBatch]] under the same
    * fresh-docs / plain-UNION shard discipline as tf. */
  def positionalPostings(docs: org.apache.spark.sql.DataFrame, id: String,
                         text: String): org.apache.spark.sql.DataFrame =
    docs.select(col(id).as("doc_id"),
        posexplode(tokens(col(text))).as(Seq("pos", "token")))
      .groupBy("doc_id", "token")
      .agg(count(lit(1)).as("tf"),
        sort_array(collect_list(col("pos"))).as("positions"))
      .select(col("token"), col("doc_id"), col("tf"), col("positions"))

  /** THE phrase-adjacency scorer — one definition shared by
    * [[phraseMatch]] (corpus-recomputed) and
    * [[graft.streaming.PostingsIndex.phraseFromStored]] (index-served),
    * the [[bm25ScoreJoined]] discipline applied to phrase semantics:
    * `post` carries (token, doc_id, positions) rows ALREADY bounded to
    * the phrase's terms (corpus path: pre-shuffle isin cut; stored
    * path: token-bucket-pruned read). Per doc, the term→positions map
    * is folded left to right: a match is a position p of phrase(0) with
    * phrase(i) present at p+i for every later slot — so OVERLAPPING
    * occurrences each count ("value value value" matches "value value"
    * twice), and a repeated phrase term reuses the one positions array.
    * Emits matching docs only: (doc_id, n_matches, first_pos). All
    * native higher-order expressions — no UDF; per-doc state is the
    * phrase terms' positions, never the document. */
  def phraseFromPostings(post: org.apache.spark.sql.DataFrame,
                         phrase: Seq[String]): org.apache.spark.sql.DataFrame = {
    require(phrase.nonEmpty, "phrase needs at least one term")
    val byDoc = post.where(col("token").isin(phrase.distinct: _*))
      .groupBy("doc_id")
      .agg(map_from_entries(collect_list(
        struct(col("token"), col("positions")))).as("pm"))
    def posOf(t: String): Column =
      coalesce(element_at(col("pm"), lit(t)), array().cast("array<int>"))
    val matches = phrase.zipWithIndex.tail.foldLeft(posOf(phrase.head)) {
      case (acc, (t, i)) => filter(acc, p => array_contains(posOf(t), p + lit(i)))
    }
    byDoc.select(col("doc_id"), matches.as("m"))
      .where(size(col("m")) > 0)
      .select(col("doc_id"), size(col("m")).cast("long").as("n_matches"),
        element_at(col("m"), 1).as("first_pos"))
  }

  /** Exact phrase search recomputed from the corpus: posexplode →
    * isin(phrase terms) BEFORE the per-doc aggregation — the
    * [[bm25FromIndex]] query-term discipline, so the shuffle carries
    * only the phrase terms' occurrences (query-bounded), never the
    * corpus token stream — then the shared adjacency fold. Oracle-pinned
    * (`q_phrase`); the stored twin serves the same rows from the
    * positional artifact with a bucket-pruned scan. */
  def phraseMatch(docs: org.apache.spark.sql.DataFrame, id: String,
                  text: String,
                  phrase: Seq[String]): org.apache.spark.sql.DataFrame = {
    require(phrase.nonEmpty, "phrase needs at least one term")
    phraseFromPostings(
      docs.select(col(id).as("doc_id"),
          posexplode(tokens(col(text))).as(Seq("pos", "token")))
        .where(col("token").isin(phrase.distinct: _*))
        .groupBy("doc_id", "token")
        .agg(sort_array(collect_list(col("pos"))).as("positions")),
      phrase)
  }

  /** BM25 scored purely FROM THE STORED INDEX — no corpus access: `tf`
    * is the (token, doc_id, tf) table of [[tfPostings]] (or the
    * streaming-maintained shards, merged), `dl` the (doc_id, dl)
    * sidecar of [[docLengths]]. df(t) = per-token row count of the
    * query slice; (N, avgdl) are one aggregation over the doc-scale
    * sidecar, broadcast as a single row; the contrib expression is
    * IDENTICAL to [[bm25]]'s, so index-served scores equal
    * corpus-recomputed scores (`q_bm25_index` is oracle-pinned to
    * `q_bm25`'s SQL). The query-term filter is the first operation on
    * the tf table — with token-partitioned storage that is partition
    * pruning, which is the whole point of serving from the index. */
  def bm25FromIndex(tf: org.apache.spark.sql.DataFrame,
                    dl: org.apache.spark.sql.DataFrame, terms: Seq[String],
                    k1: Double = 1.2,
                    b: Double = 0.75): org.apache.spark.sql.DataFrame = {
    require(terms.nonEmpty, "bm25 needs at least one query term")
    import org.apache.spark.sql.functions.{avg, broadcast, col, count, sum}
    val qtf = tf.where(col("token").isin(terms: _*))
    val dfreq = qtf.groupBy("token").agg(count(lit(1)).as("doc_freq"))
    val scal = dl.agg(count(lit(1)).cast("double").as("nd"),
      avg(col("dl").cast("double")).as("avgdl"))
    bm25ScoreJoined(qtf.join(dl, "doc_id")
      .join(broadcast(dfreq), "token")
      .join(broadcast(scal)), col("tf"), k1, b)
  }

  /** [[bm25FromIndex]] with the per-term document frequencies SUPPLIED
    * instead of recomputed from the scanned slice — the scorer a
    * BLOCK-PRUNED read needs ([[graft.streaming.PostingsIndex
    * .searchBm25Wand]]): when the tf scan is restricted to surviving
    * doc blocks, counting rows per token would understate df and
    * inflate idf, so the GLOBAL df (from the sidecar the pruning
    * decision already read) joins in as a bounded literal frame
    * (token, doc_freq). Same [[bm25ScoreJoined]] tail, so supplied-df
    * scores are bit-identical to recomputed-df scores whenever the df
    * values match. `dl` must remain the FULL sidecar — (N, avgdl) are
    * corpus constants, never block-local. */
  def bm25FromIndexGivenDf(tf: org.apache.spark.sql.DataFrame,
                           dl: org.apache.spark.sql.DataFrame,
                           terms: Seq[String],
                           dfreq: org.apache.spark.sql.DataFrame,
                           k1: Double = 1.2,
                           b: Double = 0.75): org.apache.spark.sql.DataFrame = {
    require(terms.nonEmpty, "bm25 needs at least one query term")
    import org.apache.spark.sql.functions.{avg, broadcast, col, count}
    val qtf = tf.where(col("token").isin(terms: _*))
    val scal = dl.agg(count(lit(1)).cast("double").as("nd"),
      avg(col("dl").cast("double")).as("avgdl"))
    bm25ScoreJoined(qtf.join(dl, "doc_id")
      .join(broadcast(dfreq), "token")
      .join(broadcast(scal)), col("tf"), k1, b)
  }

  /** TF-IDF served purely FROM THE STORED INDEX — the [[bm25FromIndex]]
    * discipline applied to the other corpus-statistics scorer: `tf` is
    * [[tfPostings]]' (token, doc_id, tf) table, `dl` the (doc_id, dl)
    * sidecar. doc_freq(t) = per-token row count, N = one count over the
    * doc-scale sidecar; identical output to [[tfidf]] on the same
    * corpus (`q_tfidf_index` shares `q_tfidf`'s oracle SQL). Unlike the
    * BM25 path there is no query-term filter — tfidf scores EVERY
    * (doc, term) pair — so the vocab-keyed doc_freq join stays a
    * shuffle join (broadcasting a corpus vocabulary would not scale);
    * only the single-row N attaches as a broadcast scalar. */
  def tfidfFromIndex(tf: org.apache.spark.sql.DataFrame,
                     dl: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.{broadcast, col, count}
    val terms = tf.select(col("token").as("term"), col("doc_id"),
      col("tf").as("n_idx"))
    val dfreq = terms.groupBy("term").agg(count(lit(1)).as("doc_freq"))
    val nd = dl.agg(count(lit(1)).as("nd"))
    tfidfScoreJoined(terms.join(dl, "doc_id")
      .join(dfreq, "term")
      .join(broadcast(nd)), col("n_idx"))
  }

  /** Unigram cross-entropy scoring — the deterministic analog of a
    * CCNet-style LM-perplexity quality filter (Wenzek et al. 2020 filter
    * CommonCrawl by LM perplexity; the unigram model is its degenerate,
    * fully-reproducible form): per document, the mean −ln p(token) under
    * the CORPUS unigram distribution, plus its exp (the perplexity).
    * Repetitive/boilerplate docs score LOW (their tokens are corpus-
    * frequent); rare-token noise scores HIGH — both tails are filter
    * candidates.
    *
    * Scale shape: TWO passes over the corpus token stream — the freq
    * build and the probe join (the tfidf topology) — plus one doc-keyed
    * aggregation with map-side partials. The corpus token TOTAL is NOT
    * summed from the freq aggregate (which would make freq a
    * two-consumer frame needing a session-lifetime cache — the
    * clearCache footgun r5's ADVICE flagged): the exploded row count
    * equals the per-doc token-count sum, so `total` comes from one
    * cheap scan of `docs` with no explode and no shuffle, bit-identical
    * (integer row counts) to sum(tc). freq then has exactly ONE
    * consumer, no cache exists, and nothing session-owned outlives the
    * caller's action ([[graft.CacheOwnershipSpec]] pins this). The
    * frequency join is vocabulary-keyed; at corpus scale the vocab
    * table is ~millions of rows — Spark broadcast-joins it when small,
    * shuffle-joins otherwise. */
  def unigramXent(docs: org.apache.spark.sql.DataFrame, id: String,
                  text: String): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.{col, count, sum}
    val toks = explodedTerms(docs, id, text)
    val freq = toks.groupBy("term").agg(count(lit(1)).as("tc"))
    // size(tokens(null)) is null → sum skips it, exactly matching the
    // zero rows explode() emits for null text; empty text contributes
    // its one empty-string token on both sides
    val total = docs.agg(
      sum(size(tokens(col(text)))).as("total"))
    xentScore(toks, freq, total)
  }

  /** The ONE xent scoring tail — probe join, per-doc mean, ppl — shared
    * by [[unigramXent]] (counts built in-plan) and
    * [[unigramXentFromCounts]] (counts read from maintained shards), the
    * [[bm25FromIndex]] single-definition discipline: `toks` carries
    * (doc_id, term) rows, `freq` (term, tc), `total` one row. */
  private def xentScore(toks: org.apache.spark.sql.DataFrame,
                        freq: org.apache.spark.sql.DataFrame,
                        total: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.{avg, broadcast, col, count, exp}
    toks.join(freq, "term")
      .join(broadcast(total))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        avg(-log(col("tc").cast("double") / col("total"))).as("xent"))
      .select(col("doc_id"), col("n_tokens"), col("xent"),
        exp(col("xent")).as("ppl"))
  }

  /** INCREMENTAL unigram-LM maintenance — the count-shard discipline
    * ([[dsirCountsAppend]]/[[Sketches.cmsAppend]]) on the perplexity
    * filter's corpus statistics: each batch appends its (term, tc)
    * vocabulary-scale counts as a `_SUCCESS`-claimed shard (replay
    * skips, torn shards heal), and scoring derives the frequency table
    * at read by summing shards. Counts are exact integers and additive,
    * so online maintenance ≡ batch recount. Returns false iff the shard
    * already existed (replay). */
  def unigramCountsAppend(docs: org.apache.spark.sql.DataFrame, id: String,
                          text: String, dir: String,
                          batchId: Long): Boolean =
    unigramChannel(dir).append(batchId, unigramCountRows(docs, id, text))

  /** TOMBSTONES for the unigram-LM count shards — the retire channel:
    * documents leaving the corpus (takedowns, dedup retro-drops,
    * license pulls) replay their content through here, appending their
    * (term, tc) contribution to `$dir/retire/batch=<id>` under the SAME
    * `_SUCCESS` claim discipline as ingest (replay skips, torn shards
    * heal). [[unigramXentFromCounts]] subtracts the retire channel at
    * read — counts are exact integers, so ingest − retire ≡ a batch
    * recount over the retained corpus (`q_unigram_retire` pins it to
    * the retained-set oracle). Retire batch ids are their own
    * namespace — independent of ingest ids. */
  def unigramCountsRetire(docs: org.apache.spark.sql.DataFrame, id: String,
                          text: String, dir: String,
                          batchId: Long): Boolean =
    unigramChannel(dir).retire(batchId, unigramCountRows(docs, id, text))

  private def unigramChannel(dir: String) = ShardWrite.CountChannel(
    s"$dir/counts", s"$dir/retire", "term STRING, tc BIGINT", Seq("term"))

  private def unigramCountRows(docs: org.apache.spark.sql.DataFrame,
                               id: String, text: String)
      : org.apache.spark.sql.DataFrame =
    explodedTerms(docs, id, text)
      .groupBy("term").agg(count(lit(1)).as("tc"))

  /** MAINTENANCE for the unigram count channels — the postings m-shard
    * watermark discipline on the additive tables: both channels fold to
    * one merged shard each (term counts re-SUM), replays of consumed
    * batches skip at the watermark, and the crash window between the
    * merged commit and the consumed-dir deletes is double-count-free by
    * the reader's above-watermark rule ([[ShardWrite.compactShards]]).
    * Scores are bit-stable across the rewrite (integer sums). */
  def compactUnigramCounts(spark: org.apache.spark.sql.SparkSession,
                           dir: String): ((Int, Int), (Int, Int)) =
    unigramChannel(dir).compact(spark)

  /** Score documents against the ACCUMULATED count shards, a
    * [[ShardWrite.CountChannel]] read: freq sums per term, and the
    * corpus total is Σ tc over the summed table — the batch path's
    * token-count sum (every token lands in exactly one count). Same
    * scoring tail, so `q_unigram_incr` shares `q_unigram_ppl`'s oracle. */
  def unigramXentFromCounts(docs: org.apache.spark.sql.DataFrame,
                            id: String, text: String,
                            dir: String): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.{col, sum}
    // the netted read drops vanished terms (a zero-count term must not
    // reach the log)
    val freq = unigramChannel(dir).netted(docs.sparkSession)
    val total = freq.agg(sum(col("tc")).as("total"))
    xentScore(explodedTerms(docs, id, text), freq, total)
  }

  /** Bigram cross-entropy scoring — one Markov order up from
    * [[unigramXent]], the next deterministic step toward the CCNet
    * KenLM filter: per document, the mean −ln p(wᵢ | wᵢ₋₁) under the
    * CORPUS bigram model with add-1 smoothing,
    * p(w|c) = (c(c w) + 1) / (n(c) + V), where n(c) counts c's
    * CONTEXT occurrences (positions 0..k−2 — so the conditional sums
    * to 1 over the vocabulary) and V is the corpus unigram vocabulary.
    * Catches locally-incoherent token soup that unigram frequency
    * can't (every token common, no two adjacent ones ever co-occur).
    * Documents with fewer than 2 tokens have no bigrams and drop out.
    *
    * Scale shape: the [[unigramXent]] topology one order up — a bigram
    * count and a context count build (two map-side-combinable
    * groupBys over the same exploded stream), a V scalar from a
    * distinct-count, and the probe join keyed on the bigram string
    * (broadcast when small, shuffle otherwise), then one doc-keyed
    * aggregation. */
  def bigramXent(docs: org.apache.spark.sql.DataFrame, id: String,
                 text: String): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.{col, count, countDistinct}
    val t = docs.select(col(id).as("doc_id"), tokens(col(text)).as("tk"))
    val bi = bigramStream(t)
    bigramScore(bi,
      bi.groupBy("big").agg(count(lit(1)).as("bc")),
      bi.groupBy("ctx").agg(count(lit(1)).as("cc")),
      t.select(explode(col("tk")).as("term"))
        .agg(countDistinct(col("term")).as("v")))
  }

  /** The per-doc (ctx, bigram) stream both bigram paths explode. */
  private def bigramStream(t: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    t.where(size(col("tk")) >= 2)
      .select(col("doc_id"), col("tk"),
        explode(sequence(lit(0), size(col("tk")) - 2)).as("i"))
      .select(col("doc_id"),
        element_at(col("tk"), col("i") + 1).as("ctx"),
        concat_ws(" ", slice(col("tk"), col("i") + 1, lit(2))).as("big"))

  /** The scoring tail both bigram paths share — one definition, so
    * fused and maintained-counts serving cannot drift. */
  private def bigramScore(bi: org.apache.spark.sql.DataFrame,
                          bc: org.apache.spark.sql.DataFrame,
                          cc: org.apache.spark.sql.DataFrame,
                          vocab: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.{avg, broadcast, col, count, exp}
    bi.join(bc, "big").join(cc, "ctx").join(broadcast(vocab))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        avg(-log((col("bc") + lit(1.0)) / (col("cc") + col("v"))))
          .as("xent2"))
      .select(col("doc_id"), col("n_bigrams"), col("xent2"),
        exp(col("xent2")).as("ppl2"))
  }

  /** Per-batch maintenance of the bigram LM's counts — the online twin
    * of [[bigramXent]]'s counting half. The model needs THREE count
    * tables (bigram, context, distinct-vocab) and a half-committed
    * subset would score WRONG (not just stale), so all three kinds
    * land in ONE kind-tagged shard under ONE `_SUCCESS` claim
    * ([[ShardWrite.CountChannel]]). Counts ADD across doc-disjoint
    * batches. Returns false iff the shard already existed (replay). */
  def bigramCountsAppend(batch: org.apache.spark.sql.DataFrame,
                         id: String, text: String,
                         dir: String, batchId: Long): Boolean =
    bigramChannel(dir).append(batchId, bigramCountRows(batch, id, text))

  /** TOMBSTONES for the bigram LM — the count-channel retire shape:
    * the retired docs' bigram/context/term counts append POSITIVE to
    * `$dir/retire`; [[bigramXentFromCounts]] nets at read. A term
    * netted to zero leaves the VOCAB (v shrinks — exactly the
    * retained-corpus countDistinct, since per-term counts are additive
    * and zero-netted rows vanish). */
  def bigramCountsRetire(batch: org.apache.spark.sql.DataFrame,
                         id: String, text: String,
                         dir: String, batchId: Long): Boolean =
    bigramChannel(dir).retire(batchId, bigramCountRows(batch, id, text))

  private def bigramChannel(dir: String) = ShardWrite.CountChannel(
    dir, s"$dir/retire", "kind STRING, k STRING, c BIGINT", Seq("kind", "k"))

  private def bigramCountRows(batch: org.apache.spark.sql.DataFrame,
                              id: String, text: String)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.{col, count}
    val t = batch.select(col(id).as("doc_id"), tokens(col(text)).as("tk"))
    val bi = bigramStream(t)
    bi.groupBy("big").agg(count(lit(1)).as("c"))
      .select(lit("b").as("kind"), col("big").as("k"), col("c"))
      .unionByName(bi.groupBy("ctx").agg(count(lit(1)).as("c"))
        .select(lit("c").as("kind"), col("ctx").as("k"), col("c")))
      .unionByName(t.select(explode(col("tk")).as("term"))
        .groupBy("term").agg(count(lit(1)).as("c"))
        .select(lit("t").as("kind"), col("term").as("k"), col("c")))
  }

  /** [[bigramXent]] SERVED from the maintained counts, a
    * [[ShardWrite.CountChannel]] read: ingest − retire nets to the
    * retained corpus's exact counts (zero-netted rows vanish — unseen
    * bigrams drop from the joins, retired-only terms leave the
    * vocabulary), then the SAME scoring tail as the fused path.
    * Bit-identical by count additivity for any doc set whose bigrams
    * the retained corpus contains; shares the fused oracle. */
  def bigramXentFromCounts(docs: org.apache.spark.sql.DataFrame,
                           id: String, text: String, dir: String)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.{col, count}
    val netted = bigramChannel(dir).netted(docs.sparkSession)
    val t = docs.select(col(id).as("doc_id"), tokens(col(text)).as("tk"))
    bigramScore(bigramStream(t),
      netted.where(col("kind") === "b")
        .select(col("k").as("big"), col("c").as("bc")),
      netted.where(col("kind") === "c")
        .select(col("k").as("ctx"), col("c").as("cc")),
      netted.where(col("kind") === "t").agg(count(lit(1)).as("v")))
  }

  /** DSIR importance weights (Xie et al. 2023, "Data Selection for
    * Language Models via Importance Resampling"): per-document
    * log-importance ln(p_target(x)/p_source(x)) under hashed
    * bag-of-n-gram multinomials — the paper's scalable recipe for
    * "select raw-pool documents that look like the target domain".
    * Features are unigrams + bigrams hashed into `buckets` residues
    * (md5-60 pmod B — non-negative, so `%` is pmod in any engine);
    * each side's distribution is add-`alpha` smoothed over the B
    * buckets: ln w(x) = Σ_f [ln((c_t(b_f)+α)/(T_t+αB)) −
    * ln((c_s(b_f)+α)/(T_s+αB))].
    *
    * `isTarget` marks the target-domain rows; every OTHER row is the
    * source/raw pool. Returns every document (both sides) with its
    * feature count and ln w — the raw material for the resampling cut
    * ([[graft.queries.PipelineQueries]]'s `q_dsir_select` takes the
    * deterministic top-k of the source side).
    *
    * Scale shape: the corpus-wide state is TWO B-bucket count tables
    * (one groupBy each over fixed-width (b) rows — map-side
    * combinable) joined into one broadcast log-ratio table; feature
    * totals come from a no-explode scan of `docs` (2·|tokens|−1 per
    * doc, exactly the exploded row count — the [[unigramXent]]
    * one-consumer discipline, no cache); the probe join is
    * broadcast-keyed and the only doc-keyed shuffle is the final
    * per-doc sum. */
  def dsirWeights(docs: org.apache.spark.sql.DataFrame, id: String,
                  text: String, isTarget: Column, buckets: Int = 1024,
                  alpha: Double = 1.0): org.apache.spark.sql.DataFrame =
    dsirScoreWith(docs, id, text,
      dsirModel(docs, id, text, isTarget, buckets, alpha))

  /** The hashed unigram+bigram feature stream: one row per feature
    * occurrence, bucketed to `buckets` residues; `carry` names extra
    * columns of `docs` to keep on every feature row.
    *
    * ONE corpus pass: the 2k−1 features of a k-token doc are built
    * IN-ROW (tokens ++ adjacent-pair strings via transform/sequence —
    * the curateDocStream shingle construction) and exploded once. The
    * r12-early union-of-two-subtrees spelling tokenized the corpus
    * twice (two FileScans under the union); same feature multiset per
    * doc, so every aggregate consumer — and the oracle — is
    * unchanged. */
  private def dsirFeatures(docs: org.apache.spark.sql.DataFrame, id: String,
                           text: String, buckets: Int,
                           carry: Seq[String] = Seq.empty)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.col
    val keep = col("doc_id") +: carry.map(col)
    val t = docs.select(col(id).as("doc_id") +: carry.map(col) :+
      tokens(col(text)).as("tk"): _*)
    val bigrams = when(size(col("tk")) >= 2,
        transform(sequence(lit(0), size(col("tk")) - 2),
          i => concat_ws(" ", slice(col("tk"), i + 1, lit(2)))))
      .otherwise(array().cast("array<string>"))
    t.select(keep :+ explode(concat(col("tk"), bigrams)).as("f"): _*)
      .select(keep :+ (Md5Long60(col("f")) % buckets).as("b"): _*)
  }

  /** Train the DSIR model: the COMPLETE per-bucket log-ratio table —
    * every residue in [0, buckets) has a row (unseen buckets carry the
    * pure-smoothing ratio), so a persisted model scores documents whose
    * features never occurred in the training corpus. B rows — a
    * broadcast-scale train-once artifact. */
  def dsirModel(docs: org.apache.spark.sql.DataFrame, id: String,
                text: String, isTarget: Column, buckets: Int = 1024,
                alpha: Double = 1.0): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.{broadcast, col, count, sum}
    val feats = dsirFeatures(docs.withColumn("__is_t", isTarget), id, text,
      buckets, carry = Seq("__is_t"))
    val tc = feats.where(col("__is_t")).groupBy("b").agg(count(lit(1)).as("ct"))
    val sc = feats.where(!col("__is_t")).groupBy("b").agg(count(lit(1)).as("cs"))
    // totals without a second pass over the exploded stream: a doc with
    // k >= 1 tokens contributes k unigrams + (k-1) bigrams = 2k-1
    // features; null text contributes none (sum skips the null size)
    val tot = docs.select(isTarget.as("is_t"), tokens(col(text)).as("tk"))
      .agg(
        sum(when(col("is_t"), size(col("tk")) * 2 - 1)).as("tt"),
        sum(when(!col("is_t"), size(col("tk")) * 2 - 1)).as("ts"))
    docs.sparkSession.range(buckets).toDF("b")
      .join(tc, Seq("b"), "left").join(sc, Seq("b"), "left")
      .crossJoin(broadcast(tot))
      .select(col("b"),
        (log((coalesce(col("ct"), lit(0L)) + lit(alpha)).cast("double") /
             (col("tt") + lit(alpha * buckets))) -
         log((coalesce(col("cs"), lit(0L)) + lit(alpha)).cast("double") /
             (col("ts") + lit(alpha * buckets)))).as("lr"))
  }

  /** INCREMENTAL DSIR maintenance — append one batch's feature-bucket
    * COUNTS as a shard. The persisted log-ratio table
    * ([[dsirModel]] → `q_dsir_stored`) is train-once: log-ratios don't
    * add, so a live corpus would retrain from scratch per batch. The
    * COUNT tables underneath DO add — so the online form persists
    * (b, ct, cs) count shards per batch (the postings-index
    * shard-per-batch discipline: a shard dir named by batchId, skipped
    * if it already exists, so replays are idempotent BY CONSTRUCTION)
    * and derives the model at read time. Totals need no sidecar:
    * every feature lands in exactly one bucket, so T = Σ_b count.
    * Returns false iff the shard already existed (replay). */
  def dsirCountsAppend(docs: org.apache.spark.sql.DataFrame, id: String,
                       text: String, isTarget: Column, dir: String,
                       batchId: Long, buckets: Int = 1024): Boolean =
    dsirChannel(dir).append(batchId,
      dsirCountRows(docs, id, text, isTarget, buckets))

  /** TOMBSTONES for the DSIR count shards — the
    * [[unigramCountsRetire]] retire channel on the importance-weight
    * family: retired documents replay their (b, ct, cs) contribution
    * into `$dir/retire/batch=<id>` (same claim discipline), and
    * [[dsirModelFromCounts]] subtracts at read — ingest − retire ≡ a
    * retrain over the retained corpus, exactly (integer counts). */
  def dsirCountsRetire(docs: org.apache.spark.sql.DataFrame, id: String,
                       text: String, isTarget: Column, dir: String,
                       batchId: Long, buckets: Int = 1024): Boolean =
    dsirChannel(dir).retire(batchId,
      dsirCountRows(docs, id, text, isTarget, buckets))

  private def dsirChannel(dir: String) = ShardWrite.CountChannel(
    s"$dir/counts", s"$dir/retire", "b BIGINT, ct BIGINT, cs BIGINT",
    Seq("b"))

  private def dsirCountRows(docs: org.apache.spark.sql.DataFrame, id: String,
                            text: String, isTarget: Column,
                            buckets: Int): org.apache.spark.sql.DataFrame =
    dsirFeatures(docs.withColumn("__is_t", isTarget), id, text, buckets,
        carry = Seq("__is_t"))
      .groupBy("b")
      .agg(count(when(col("__is_t"), lit(1))).as("ct"),
        count(when(!col("__is_t"), lit(1))).as("cs"))

  /** [[compactUnigramCounts]] on the DSIR channels: (b, ct, cs) rows
    * re-sum per bucket, both channels, same watermark discipline. */
  def compactDsirCounts(spark: org.apache.spark.sql.SparkSession,
                        dir: String): ((Int, Int), (Int, Int)) =
    dsirChannel(dir).compact(spark)

  /** Derive the complete-residue log-ratio model from the accumulated
    * count shards, a [[ShardWrite.CountChannel]] read — the SAME
    * arithmetic as [[dsirModel]] over the same exact, additive integer
    * counts, so the incrementally-maintained model is BIT-IDENTICAL to
    * a batch retrain over the union ([[graft.TextRulesSpec]] pins it). */
  def dsirModelFromCounts(spark: org.apache.spark.sql.SparkSession,
                          dir: String, buckets: Int = 1024,
                          alpha: Double = 1.0): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.{broadcast, col, sum}
    val c = dsirChannel(dir).netted(spark)
    val tot = c.agg(sum(col("ct")).as("tt"), sum(col("cs")).as("ts"))
    spark.range(buckets).toDF("b")
      .join(c, Seq("b"), "left")
      .crossJoin(broadcast(tot))
      .select(col("b"),
        (log((coalesce(col("ct"), lit(0L)) + lit(alpha)).cast("double") /
             (col("tt") + lit(alpha * buckets))) -
         log((coalesce(col("cs"), lit(0L)) + lit(alpha)).cast("double") /
             (col("ts") + lit(alpha * buckets)))).as("lr"))
  }

  /** Score documents against a (possibly persisted) DSIR model: join
    * the feature stream to the broadcast B-row log-ratio table, sum per
    * doc. The model's bucket count is implied by its rows (complete
    * residue table), so the scorer needs no side contract beyond the
    * hash. */
  def dsirScoreWith(docs: org.apache.spark.sql.DataFrame, id: String,
                    text: String, model: org.apache.spark.sql.DataFrame,
                    buckets: Int = 1024): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.{broadcast, col, count, sum}
    dsirFeatures(docs, id, text, buckets)
      .join(broadcast(model), Seq("b"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_feats"), sum(col("lr")).as("logw"))
  }

  /** The model as a driver array for the STATELESS in-row scorer
    * ([[dsirScoreInRow]]): `lr(b)` is bucket `b`'s log-ratio. The model
    * is a complete residue table by construction ([[dsirModel]] /
    * [[dsirModelFromCounts]]), so the array is dense — B doubles of
    * bounded metadata, the BestCosine bench-matrix discipline. */
  def dsirModelArray(model: org.apache.spark.sql.DataFrame): Array[Double] = {
    import org.apache.spark.sql.functions.col
    val rows = model.select(col("b"), col("lr")).collect()
    val lr = new Array[Double](rows.length)
    rows.foreach(r => lr(r.getLong(0).toInt) = r.getDouble(1))
    lr
  }

  /** Per-ROW DSIR importance score against a DRIVER-LITERAL model — the
    * streaming-gate form of [[dsirScoreWith]]: the same 2k−1 in-row
    * feature construction ([[dsirFeatures]]' tokens ++ adjacent
    * bigrams), each feature's log-ratio looked up in the B-double model
    * literal, summed by an in-row left fold. No explode, no join, no
    * per-doc aggregation shuffle — a pure projection, which is what
    * lets an ingest gate apply the importance rule per micro-batch row
    * with zero state. Same feature multiset and same addends as the
    * batch scorer; only the summation ORDER can differ (left fold vs
    * partial-aggregate merge), bounded by the usual ~1e-15 noise a
    * threshold away from a tie never sees. */
  def dsirScoreInRow(text: Column, lr: Array[Double]): Column = {
    require(lr.nonEmpty, "dsirScoreInRow needs a non-empty model")
    val tk = tokens(text)
    val bigrams = when(size(tk) >= 2,
        transform(sequence(lit(0), size(tk) - 2),
          i => concat_ws(" ", slice(tk, i + 1, lit(2)))))
      .otherwise(array().cast("array<string>"))
    val model = array(lr.map(lit): _*)
    aggregate(
      transform(concat(tk, bigrams),
        f => element_at(model, (Md5Long60(f) % lr.length).cast("int") + 1)),
      lit(0.0), (acc, x) => acc + x)
  }

  /** MULTICLASS NAIVE BAYES text classifier — the deterministic,
    * fully-reproducible stand-in for the FastText-style quality/domain/
    * language classifiers every large-scale curation pipeline trains
    * (CCNet, RefinedWeb, DCLM all gate on one): the SAME hashed
    * unigram+bigram feature space as DSIR ([[dsirFeatures]] — NB over
    * hashed multinomials is exactly DSIR generalized from 2 classes to
    * C), add-`alpha` smoothed per-class bucket likelihoods plus
    * doc-count log-priors. Counts-based, so training is two bounded
    * aggregations (classes × buckets and classes rows) and the model is
    * oracle-replayable to the bit.
    *
    * Returns the COMPLETE (label, b) grid — every class has all
    * `buckets` rows (unseen buckets carry pure smoothing mass), so a
    * persisted model scores documents whose features never occurred in
    * training. C×B rows — broadcast-scale. */
  def nbModel(docs: org.apache.spark.sql.DataFrame, id: String,
              text: String, label: String, buckets: Int = 1024,
              alpha: Double = 1.0): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.{col, count}
    val feats = dsirFeatures(docs.withColumn("__c", col(label)), id, text,
      buckets, carry = Seq("__c"))
    val cnt = feats.groupBy("__c", "b").agg(count(lit(1)).as("cnt"))
    val tot = feats.groupBy("__c").agg(count(lit(1)).as("tot"))
    val prior = docs.groupBy(col(label).as("__c"))
      .agg(count(lit(1)).as("ndocs"))
    nbAssemble(docs.sparkSession, cnt, tot, prior, buckets, alpha)
  }

  /** The ONE model-assembly tail — complete grid, smoothing, priors —
    * shared by [[nbModel]] (counts built in-plan) and
    * [[nbModelFromCounts]] (counts summed from maintained shards):
    * counts are exact integers, so the two paths assemble
    * BIT-IDENTICAL models whenever their counts agree. */
  private def nbAssemble(spark: org.apache.spark.sql.SparkSession,
                         cnt: org.apache.spark.sql.DataFrame,
                         tot: org.apache.spark.sql.DataFrame,
                         prior: org.apache.spark.sql.DataFrame,
                         buckets: Int,
                         alpha: Double): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.{broadcast, col, sum}
    val nAll = prior.agg(sum(col("ndocs")).as("n"))
    prior.select(col("__c"))
      .crossJoin(spark.range(buckets).toDF("b"))
      .join(cnt, Seq("__c", "b"), "left")
      .join(tot, Seq("__c")).join(prior, Seq("__c"))
      .crossJoin(broadcast(nAll))
      .select(col("__c").as("label"), col("b"),
        log((coalesce(col("cnt"), lit(0L)) + lit(alpha)).cast("double") /
            (col("tot") + lit(alpha * buckets))).as("llh"),
        log(col("ndocs").cast("double") / col("n")).as("logprior"))
  }

  /** INCREMENTAL NB maintenance — the count-shard discipline on the
    * classifier gate: each batch appends its per-class feature-bucket
    * counts AND its per-class doc counts (priors add too) as ONE
    * kind-tagged shard under ONE `_SUCCESS` claim — the
    * [[bigramCountsAppend]] all-or-nothing batch. A crash mid-write
    * leaves a claim that never completed, which [[nbModelFromCounts]]
    * cannot see until the replay rewrites it, so no model ever includes
    * a batch's likelihoods without its priors. Returns false iff the
    * shard already existed (replay). */
  def nbCountsAppend(docs: org.apache.spark.sql.DataFrame, id: String,
                     text: String, label: String, dir: String,
                     batchId: Long, buckets: Int = 1024): Boolean =
    nbChannel(dir).append(batchId,
      nbCountRows(docs, id, text, label, buckets))

  /** TOMBSTONES for the classifier's count shards — the retire channel
    * with the SAME single-shard batch as ingest: the retired docs'
    * feature counts and doc counts (prior mass) land in one
    * `$dir/retire/batch=<id>` shard. [[nbModelFromCounts]] subtracts:
    * ingest − retire ≡ retrain over the retained corpus, bit-exactly
    * (integer counts through the one [[nbAssemble]] arithmetic). */
  def nbCountsRetire(docs: org.apache.spark.sql.DataFrame, id: String,
                     text: String, label: String, dir: String,
                     batchId: Long, buckets: Int = 1024): Boolean =
    nbChannel(dir).retire(batchId,
      nbCountRows(docs, id, text, label, buckets))

  private def nbChannel(dir: String) = ShardWrite.CountChannel(
    s"$dir/counts", s"$dir/retire",
    "kind STRING, c STRING, b BIGINT, n BIGINT", Seq("kind", "c", "b"))

  /** One batch's NB counts, kind-tagged: `f` rows are per-(class,
    * bucket) feature counts, `d` rows per-class doc counts (null b). */
  private def nbCountRows(docs: org.apache.spark.sql.DataFrame, id: String,
                          text: String, label: String, buckets: Int)
      : org.apache.spark.sql.DataFrame =
    dsirFeatures(docs.withColumn("__c", col(label)), id, text, buckets,
        carry = Seq("__c"))
      .groupBy("__c", "b").agg(count(lit(1)).as("n"))
      .select(lit("f").as("kind"), col("__c").cast("string").as("c"),
        col("b"), col("n"))
      .unionByName(docs.groupBy(col(label).cast("string").as("c"))
        .agg(count(lit(1)).as("n"))
        .select(lit("d").as("kind"), col("c"),
          lit(null).cast("bigint").as("b"), col("n")))

  /** [[compactUnigramCounts]] on the NB channels: kind-tagged rows
    * re-sum per (kind, class, bucket), both channels; the assembled
    * model is bit-stable across the fold. */
  def compactNbCounts(spark: org.apache.spark.sql.SparkSession,
                      dir: String): ((Int, Int), (Int, Int)) =
    nbChannel(dir).compact(spark)

  /** Assemble the NB model from the accumulated count shards, a
    * [[ShardWrite.CountChannel]] read — the same integer counts and
    * [[nbAssemble]] arithmetic, so the maintained model is BIT-IDENTICAL
    * to a batch retrain ([[graft.TextRulesSpec]] pins it; `q_nb_incr`
    * shares `q_nb_classify`'s oracle). Feature totals need no sidecar:
    * every feature lands in exactly one (class, bucket) cell, so
    * tot(c) = Σ_b cnt. A fully-retired class nets to no doc row, so it
    * carries no prior mass and leaves the grid. */
  def nbModelFromCounts(spark: org.apache.spark.sql.SparkSession,
                        dir: String, buckets: Int = 1024,
                        alpha: Double = 1.0): org.apache.spark.sql.DataFrame = {
    val netted = nbChannel(dir).netted(spark)
    val cnt = netted.where(col("kind") === "f")
      .select(col("c").as("__c"), col("b"), col("n").as("cnt"))
    val tot = cnt.groupBy("__c").agg(sum(col("cnt")).as("tot"))
    val prior = netted.where(col("kind") === "d")
      .select(col("c").as("__c"), col("n").as("ndocs"))
    nbAssemble(spark, cnt, tot, prior, buckets, alpha)
  }

  /** Classify documents against a (possibly persisted) NB model:
    * argmax_c [ log P(c) + Σ_features log P(b | c) ]. The feature
    * stream joins the broadcast C×B model — C score rows per feature —
    * then one (doc, class) aggregation and a C-row-per-doc argmax
    * window; the tie-break is the engine-wide ROUNDED-score-then-label
    * discipline, so equal-scored classes resolve deterministically in
    * both engines. Zero-feature documents (empty text) carry no
    * evidence and emit no row — the same absent-row contract as the
    * other per-doc scorers; callers wanting a prior-only fallback
    * left-join the result. Output: (doc_id, pred, score). */
  def nbClassify(docs: org.apache.spark.sql.DataFrame, id: String,
                 text: String, model: org.apache.spark.sql.DataFrame,
                 buckets: Int = 1024): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.{broadcast, col, first, sum}
    val scored = dsirFeatures(docs, id, text, buckets)
      .join(broadcast(model), Seq("b"))
      .groupBy(col("doc_id"), col("label"))
      .agg(sum(col("llh")).as("s"), first(col("logprior")).as("lp"))
      .select(col("doc_id"), col("label"), (col("lp") + col("s")).as("score"))
    scored.withColumn("_rn",
        org.apache.spark.sql.functions.row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy("doc_id")
            .orderBy(round(col("score"), 6).desc, col("label").asc)))
      .where(col("_rn") === 1).drop("_rn")
      .select(col("doc_id"), col("label").as("pred"), col("score"))
  }

  /** Per-group distribution DRIFT report: KL(p_group ‖ p_corpus) over
    * the hashed unigram+bigram feature buckets — the mixture-monitoring
    * number a 100 TB pipeline tracks per source/crawl-snapshot to catch
    * a feed whose content distribution shifted (spam burst, language
    * flip, template flood) before it pollutes the mixture. Same hashed
    * multinomial + add-`alpha` smoothing as [[dsirWeights]] (Xie et al.
    * 2023's feature space), evaluated over the COMPLETE residue table
    * so a group missing a bucket still pays its smoothed mass.
    *
    * Output: one row per group — (group, n_feats, kl); kl ≥ 0, with 0
    * iff the group's smoothed bucket distribution matches the corpus'.
    *
    * Scale shape: ONE pass over the feature stream into a
    * (group, b)-keyed count — map-side combinable, |groups|·B distinct
    * keys; everything after runs on that |groups|·B-row table (corpus
    * marginals, totals, the complete-residue cross, the per-group KL
    * sum) — nothing corpus-scale moves twice. */
  def sourceKl(docs: org.apache.spark.sql.DataFrame, id: String,
               text: String, group: String, buckets: Int = 1024,
               alpha: Double = 1.0): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.{col, count}
    // materialize the (group, bucket) counts ONCE before the KL tail:
    // its three consumers (per-bucket totals, per-group totals, the
    // dense joined grid) would otherwise each re-run the corpus-scale
    // feature explode + hash + aggregation — measured 3× the feature
    // pass in the executed stages (r17). The checkpointed table is the
    // AGGREGATED bucketed frame (≤ |groups|·buckets rows), not corpus
    // rows — the same truncation point pageRank uses per iteration.
    // BOUND (r17 verdict item 8): |groups|·buckets is a HARD cap fixed
    // by the signature (buckets defaults to 1024), independent of
    // corpus size — a million sources × 1024 buckets ≈ 1e9 small rows
    // worst-case, MEMORY_AND_DISK on executors. The trade is fault
    // tolerance: localCheckpoint is not recomputable on executor loss;
    // for long cluster jobs prefer reliable checkpoint(dir) here.
    sourceKlFromGroupCounts(
      dsirFeatures(docs, id, text, buckets, carry = Seq(group))
        .groupBy(col(group), col("b")).agg(count(lit(1)).as("cg"))
        .localCheckpoint(true),
      group, buckets, alpha)
  }

  /** The KL derivation over an already-aggregated (group, bucket, cg)
    * count frame — split out so the fused path ([[sourceKl]]) and the
    * maintained-counts path ([[sourceKlFromCounts]]) share one
    * definition: online maintenance ≡ batch recompute is then
    * structural, not re-derived. */
  private def sourceKlFromGroupCounts(gc: org.apache.spark.sql.DataFrame,
                                      group: String, buckets: Int,
                                      alpha: Double)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.{broadcast, col, sum}
    val cc = gc.groupBy("b").agg(sum(col("cg")).as("c"))
    val gt = gc.groupBy(group).agg(sum(col("cg")).as("tg"))
    val tot = cc.agg(sum(col("c")).as("t"))
    val aB = lit(alpha * buckets)
    val full = gt.crossJoin(gc.sparkSession.range(buckets).toDF("b"))
      .join(gc, Seq(group, "b"), "left")
      .join(broadcast(cc), Seq("b"), "left")
      .crossJoin(broadcast(tot))
    val pg = (coalesce(col("cg"), lit(0L)) + lit(alpha)).cast("double") /
      (col("tg") + aB)
    val q = (coalesce(col("c"), lit(0L)) + lit(alpha)).cast("double") /
      (col("t") + aB)
    full.groupBy(group)
      .agg(first(col("tg")).as("n_feats"),
        sum(pg * (log(pg) - log(q))).as("kl"))
  }

  /** Per-batch maintenance of the drift monitor's (group, bucket)
    * feature counts — the incremental twin of [[sourceKl]]'s counting
    * half: each fresh-docs batch appends its per-(group, bucket) count
    * shard under the `_SUCCESS` claim discipline. Feature occurrences
    * are per-doc, so counts ADD across doc-disjoint batches and the
    * shard sum equals the fused count — the KL at read is EXACT, the
    * drift monitor stays current with zero corpus re-scans. The group
    * value is stored as a string column `g` (the monitored groups —
    * source, lang — are strings; one read schema for every channel).
    * Returns false iff the shard already existed (replay). */
  def sourceKlCountsAppend(batch: org.apache.spark.sql.DataFrame,
                           id: String, text: String, group: String,
                           dir: String, batchId: Long,
                           buckets: Int = 1024): Boolean =
    sourceKlChannel(dir).append(batchId,
      sourceKlCountRows(batch, id, text, group, buckets))

  private def sourceKlChannel(dir: String) = ShardWrite.CountChannel(
    dir, s"$dir/retire", "g STRING, b BIGINT, cg BIGINT", Seq("g", "b"))

  /** The per-batch (group, bucket) counts BOTH drift channels write —
    * one definition so ingest and retire can never drift (the
    * [[bigramCountRows]] discipline). */
  private def sourceKlCountRows(batch: org.apache.spark.sql.DataFrame,
                                id: String, text: String, group: String,
                                buckets: Int)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.{col, count}
    dsirFeatures(batch, id, text, buckets, carry = Seq(group))
      .groupBy(col(group), col("b")).agg(count(lit(1)).as("cg"))
      .select(col(group).cast("string").as("g"), col("b"), col("cg"))
  }

  /** TOMBSTONES for the drift monitor — the count-channel retire shape
    * ([[unigramCountsRetire]]'s discipline): the retired docs' (group,
    * bucket) contributions append POSITIVE to `$dir/retire`, and
    * [[sourceKlFromCounts]] subtracts them at read. Exact by
    * additivity. Returns false iff the shard already existed. */
  def sourceKlCountsRetire(batch: org.apache.spark.sql.DataFrame,
                           id: String, text: String, group: String,
                           dir: String, batchId: Long,
                           buckets: Int = 1024): Boolean =
    sourceKlChannel(dir).retire(batchId,
      sourceKlCountRows(batch, id, text, group, buckets))

  /** Fold the drift monitor's count channels into one merged m-shard
    * each — counts re-aggregate by sum ([[ShardWrite.CountChannel]]).
    * Returns the ingest table's (shards in, shards out). */
  def compactSourceKlCounts(spark: org.apache.spark.sql.SparkSession,
                            dir: String): (Int, Int) =
    sourceKlChannel(dir).compact(spark)._1

  /** Fold the bigram LM's kind-tagged count channels into one merged
    * m-shard each — counts re-aggregate by sum per (kind, key).
    * Returns the ingest table's (shards in, shards out). */
  def compactBigramCounts(spark: org.apache.spark.sql.SparkSession,
                          dir: String): (Int, Int) =
    bigramChannel(dir).compact(spark)._1

  /** [[sourceKl]] SERVED from the maintained counts: ingest − retire
    * nets to the retained corpus's exact (group, bucket) counts (rows
    * netted to zero vanish — a fully-retired group must not linger as
    * a zero-feature row), then the SAME KL derivation as the fused
    * path. Bit-identical to a recompute by count additivity; shares
    * its oracle.
    * A [[ShardWrite.CountChannel]] read. */
  def sourceKlFromCounts(spark: org.apache.spark.sql.SparkSession,
                         dir: String, group: String,
                         buckets: Int = 1024, alpha: Double = 1.0)
      : org.apache.spark.sql.DataFrame = {
    sourceKlFromGroupCounts(
      sourceKlChannel(dir).netted(spark).withColumnRenamed("g", group),
      group, buckets, alpha)
  }

  // ---- Gopher-style quality rules (Rae et al. 2021, public ruleset) ---

  // Rule thresholds — single source of truth for the engine expressions
  // AND the generated oracle SQL (spliced, never re-typed).
  val WordCountMin = 50
  val WordCountMax = 100000
  val MeanWordLenMin = 3.0
  val MeanWordLenMax = 10.0
  val MaxSymbolRatio = 0.1
  val MinAlphaRatio = 0.8
  val MinStopwordHits = 2

  /** Gopher-style document quality flags — the standard pre-training
    * filter battery: word-count band, mean-word-length band, symbol-to-
    * word ratio (# and … markers), alphabetic-word fraction, minimum
    * distinct-stopword hits. Each flag is a 0/1 int (comparator-stable
    * across engines); [[gopherPass]] is their conjunction. Symbol counts
    * use replace-based counting (length deltas), which has identical
    * greedy left-to-right semantics in Spark and the oracle engine —
    * regex-dialect-free. */
  def gopherFlags(text: Column, stopwords: Seq[String]): Seq[(String, Column)] = {
    val toks = tokens(text)
    val nWords = size(toks)
    val meanLen = avgWordLen(text)
    val alphaWords = size(filter(toks, t => t.rlike("[A-Za-z]")))
    val hashCount = length(text) - length(translate(text, "#", ""))
    val ellipsisCount = (length(text) -
      length(regexp_replace(text, "\\.\\.\\.", ""))) / 3
    val symbolRatio = (hashCount + ellipsisCount).cast("double") / nWords
    // array_intersect already dedups — no array_distinct needed
    val stopHits = size(array_intersect(toks, array(stopwords.map(lit): _*)))
    Seq(
      "word_count_ok" -> (nWords >= WordCountMin && nWords <= WordCountMax),
      "mean_word_len_ok" -> (meanLen >= MeanWordLenMin && meanLen <= MeanWordLenMax),
      "symbol_ratio_ok" -> (symbolRatio <= MaxSymbolRatio),
      "alpha_ratio_ok" -> (alphaWords.cast("double") / nWords >= MinAlphaRatio),
      "stopword_ok" -> (stopHits >= MinStopwordHits)
    ).map { case (n, c) => n -> c.cast("int") }
  }

  /** 1 iff every Gopher flag passes. */
  def gopherPass(text: Column, stopwords: Seq[String]): Column =
    gopherFlags(text, stopwords).map(_._2).reduce(_ * _)

  /** Repetition stats (the Gopher repetition filters): top-word fraction
    * (most frequent token's share) and distinct-token fraction per doc.
    * Fully relational — explode → per-(doc,token) counts → per-doc
    * max/sum/count — so the two hash shuffles ARE the plan and the
    * oracle is plain SQL. */
  def repetitionStats(docs: org.apache.spark.sql.DataFrame, id: String,
                      text: String): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.{col, count, explode, max, sum}
    docs.select(col(id).as("doc_id"), explode(tokens(col(text))).as("tok"))
      .groupBy("doc_id", "tok").agg(count(lit(1)).as("n"))
      .groupBy("doc_id")
      .agg(
        (max(col("n")).cast("double") / sum(col("n"))).as("top_word_frac"),
        (count(lit(1)).cast("double") / sum(col("n"))).as("distinct_frac"))
  }

  /** Word n-grams as space-joined strings — empty array when the doc has
    * fewer than n tokens (the `when` guard also keeps `sequence` from
    * receiving a descending 0..negative range, which would silently step
    * backwards). Pure per-row expression: no explode, no shuffle. */
  def ngrams(text: Column, n: Int): Column = {
    require(n >= 1, s"n must be >= 1, got $n")
    val toks = tokens(text)
    when(size(toks) >= n,
      transform(sequence(lit(0), size(toks) - n),
        i => concat_ws(" ", slice(toks, i + lit(1), lit(n)))))
      .otherwise(array().cast("array<string>"))
  }

  /** Gopher dup-n-gram repetition rule (Rae et al. 2021 §A1.1): the
    * fraction of n-gram occurrences that repeat an earlier occurrence —
    * `1 - distinct/total` over the doc's n-grams. NULL when the doc has
    * fewer than n tokens (no grams to judge). This is the reference
    * (interpreted-HOF) formulation; hot paths use [[ngramRepetition]],
    * the fused native expression with identical semantics
    * ([[graft.TextRulesSpec]] asserts the equivalence). */
  def dupNgramFrac(text: Column, n: Int): Column = {
    val g = ngrams(text, n)
    when(size(g) > 0,
      (size(g) - size(array_distinct(g))).cast("double") / size(g))
  }

  /** Fused dup-n-gram stats as ONE codegen'd hash-set pass per row:
    * struct<n_grams:int, dup_frac:double> (dup_frac NULL below n
    * tokens). ~10× the interpreted [[dupNgramFrac]] chain, which walks
    * the gram array three times through lambda dispatch — project the
    * struct once, then extract fields (field access on an attribute is
    * free; Catalyst will not inline-duplicate a non-cheap expression). */
  def ngramRepetition(text: Column, n: Int): Column =
    org.apache.spark.sql.graftext.ColumnBridge.column(
      NgramRepetition(
        // coalesce to []: tokens(NULL) is NULL and the expression would
        // null-propagate to a NULL struct, where the HOF form (and the
        // oracle's CASE ... ELSE []) yields n_grams = 0 for null text
        org.apache.spark.sql.graftext.ColumnBridge.expression(
          coalesce(tokens(text), array().cast("array<string>"))), n))

  /** Gopher duplicate-LINE rule (Rae et al. 2021 §A1.1, the line-level
    * sibling of [[dupNgramFrac]]): fraction of a doc's lines that repeat
    * an earlier line — boilerplate headers/footers and scraped nav bars
    * score high. Lines split on literal newline; a no-newline doc is one
    * unique line (fraction 0). Null text propagates null, like the other
    * per-row rules. */
  def dupLineFrac(text: Column): Column = {
    val lines = split(text, "\n")
    (size(lines) - size(array_distinct(lines))).cast("double") / size(lines)
  }

  def lineCount(text: Column): Column = size(split(text, "\n"))

  // ---- deterministic train/val/test splits ----------------------------

  /** Hash bucket in [0, buckets): md5-derived 60-bit hash of the STRING
    * form of the id — deterministic, engine-independent (the oracle
    * recomputes the identical value), and uncorrelated with id order, the
    * property a train/val split needs (contiguous-id splits leak
    * time/source structure). */
  def hashBucket(id: Column, buckets: Int = 1000): Column =
    Md5Long60(id.cast("string")) % buckets

  // Split thresholds — per-mille so the arithmetic stays integral (no FP
  // fractions to mismatch); shared with the generated oracle SQL.
  val TrainPerMille = 980
  val ValPerMille = 10

  /** Split label from an ALREADY-COMPUTED bucket column: first
    * `trainPerMille` buckets → train, next `valPerMille` → val, rest →
    * test — callers project the bucket once instead of re-hashing per
    * output column. */
  def splitLabelFromBucket(b: Column, trainPerMille: Int = TrainPerMille,
                           valPerMille: Int = ValPerMille): Column =
    when(b < trainPerMille, "train")
      .when(b < trainPerMille + valPerMille, "val")
      .otherwise("test")

  /** Convenience form hashing the id inline (one hash, one label). */
  def splitLabel(id: Column, trainPerMille: Int = TrainPerMille,
                 valPerMille: Int = ValPerMille): Column =
    splitLabelFromBucket(hashBucket(id, 1000), trainPerMille, valPerMille)

  // ---- PII scrubbing ---------------------------------------------------

  /** Email/phone patterns shared by the engine and the generated oracle
    * SQL — restricted to the regex subset with identical semantics in
    * Java regex and RE2. */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val PhoneRe = "\\d{3}[- ]\\d{3}[- ]\\d{4}"

  /** Replace emails/phones with placeholder tokens. Spark's
    * regexp_replace is replace-ALL by default; the oracle twin must pass
    * the 'g' flag to match. */
  def scrubPii(c: Column): Column =
    regexp_replace(regexp_replace(c, EmailRe, "<EMAIL>"), PhoneRe, "<PHONE>")

  /** Count of PLACEHOLDERS [[scrubPii]] inserts — phones are counted
    * AFTER the email pass, mirroring the sequential scrub, so a phone
    * number embedded inside an email local-part (consumed by the email
    * replacement) is not double-counted: the audit column always
    * reconciles with the scrubbed text. */
  def piiCount(c: Column): Column =
    regexp_count(c, lit(EmailRe)) +
      regexp_count(regexp_replace(c, EmailRe, "<EMAIL>"), lit(PhoneRe))

  /** Exact content fingerprint: md5 of lowercased text. */
  def fingerprint(text: Column): Column = md5(lower(text))

  /** Bag fingerprint: md5 over the sorted distinct token set — invariant
    * to word order, the cheap "rolling-hash" dedup key. */
  def bagFingerprint(text: Column): Column =
    md5(concat_ws(" ", array_sort(array_distinct(tokens(lower(text))))))
}
