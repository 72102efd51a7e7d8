package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for LLM-data pipelines: exact (hash-groupBy),
  * n-gram Jaccard, MinHash+LSH banding, and SimHash. All fully
  * distributed: the only shuffles are hash-partitioned groupBys/joins on
  * content-derived keys — no driver-side pair enumeration, so the same
  * plans run at 100 TB (candidate generation is bucket-local; the O(n²)
  * pair space is never materialized, only same-bucket/same-shingle pairs).
  */
object Dedup {

  /** Exact dedup via content hash: one representative (min id) + group
    * size per distinct content. A single hash-shuffle on the fingerprint. */
  def exactGroups(df: DataFrame, id: String, text: String): DataFrame =
    ensureParallel(df, md5(lower(col(text)))).groupBy(md5(lower(col(text))).as("fp"))
      .agg(min(col(id)).as("keep_id"), count(lit(1)).as("n_dups"))

  /** Corpus dedup keeping full rows: for each distinct content, the row
    * with the smallest id survives (`id` must be a row key — unique).
    * Scale shape: `groupBy(fp).agg(min(id))` + semi-join, so only
    * (fp, id) pairs ever shuffle — a window over the content hash would
    * instead sort FULL document rows through the exchange, which is the
    * difference between shuffling ~50 B/row and ~1 MB/row at corpus
    * scale. Map-side partial aggregation collapses dup groups early. */
  def dedupKeepRows(df: DataFrame, id: String, text: String): DataFrame = {
    val fp = md5(lower(col(text)))
    val in = ensureParallel(df, fp)
    val keep = in.select(fp.as("_ddk_fp"), col(id).as("_ddk_id"))
      .groupBy("_ddk_fp").agg(min("_ddk_id").as("_ddk_id"))
    // <=> not ===: md5(null-text) is null, and a null-rejecting join key
    // would silently DROP the whole null-text group instead of keeping
    // its min-id row (groupBy above puts nulls in one group, like SQL
    // GROUP BY — the join must match that group back).
    in.join(keep,
      (fp <=> col("_ddk_fp")) && col(id) === col("_ddk_id"), "left_semi")
  }

  /** INCREMENTAL exact dedup — the daily-ingest shape: dedup a NEW batch
    * against an already-ingested corpus, keeping (a) only rows whose
    * content fingerprint has never been seen and (b) one min-id
    * representative per duplicate group WITHIN the batch. At 100 TB the
    * `seen` side is the lake's persisted fingerprint column (a narrow
    * scan), not re-hashed documents — this signature takes any frame
    * carrying `text`, so callers pass either.
    *
    * Scale shape: one distinct-fingerprint aggregation over the seen
    * side (md5 strings, ~32 B/row — map-side combine collapses dup
    * groups early), one fp-keyed anti-join, then [[dedupKeepRows]]'s
    * (fp, id) aggregation + semi-join — full new-batch rows never sort
    * through an exchange, and nothing corpus-scale is cached or
    * collected. Null-text groups use the same `<=>` discipline as
    * [[dedupKeepRows]]: a null-text row in `seen` blocks null-text
    * new rows (SQL GROUP BY semantics, spec-pinned). */
  def dedupNewRows(newDocs: DataFrame, seen: DataFrame,
                   id: String, text: String): DataFrame = {
    val fp = md5(lower(col(text)))
    val seenFps = seen.select(fp.as("_seen_fp")).distinct()
    val fresh = newDocs.join(seenFps, fp <=> col("_seen_fp"), "left_anti")
    dedupKeepRows(fresh, id, text)
  }

  /** CROSS-document line deduplication — the CCNet/C4 curation pass that
    * strips boilerplate LINES (nav bars, cookie banners, share buttons)
    * repeated across ≥ `minDocs` distinct documents, then reconstructs
    * each document's text from its surviving lines in original order.
    * Complements the within-doc rule ([[TextAnalysis.dupLineFrac]]) and
    * whole-doc dedup ([[exactGroups]]): a line is dropped for being
    * common across the CORPUS, not within one document.
    *
    * Output: (id, clean_text, n_kept); a document whose every line is
    * boilerplate disappears (zero surviving lines — its reconstructed
    * text would be meaningless).
    *
    * Scale shape: one posexplode (no shuffle), one hash aggregation on
    * the line to count distinct docs (map-side combine collapses each
    * partition's repeats first), one line-keyed anti-join, one id-keyed
    * aggregation to reassemble — all shuffles carry (line, id, pos)
    * triples, never full documents. The hot-line set is tiny by
    * definition (lines crossing the threshold), so AQE turns the
    * anti-join into a broadcast; the hot-line statistics are keyed on
    * the 128-bit `md5(line)` rather than the line STRING, so the
    * countDistinct expansion and the hot-set shuffle carry fixed
    * 16-byte keys no matter how long boilerplate lines get (a nav-bar
    * line is routinely hundreds of bytes; the semantics are identical
    * modulo md5 collisions, which are negligible and deterministic —
    * the DuckDB oracle compares OUTPUT, which is unchanged). The
    * reassembly shuffle is the documents' own bytes once — the floor
    * for any rewrite pass. */
  def lineDedup(df: DataFrame, id: String, text: String,
                minDocs: Int): DataFrame = {
    require(minDocs >= 2, s"minDocs must be >= 2, got $minDocs")
    val lines = docLines(df, id, text)
    // blank/whitespace-only lines are EXEMPT from the cross-doc
    // threshold (CCNet/C4 discipline): once >= minDocs docs contain an
    // empty line — inevitable in any multi-paragraph corpus — counting
    // them would strip every blank line corpus-wide and collapse
    // paragraph structure. They always survive into the reassembly.
    val hot = lines.where(col("line").rlike("\\S")).groupBy("_lk")
      .agg(countDistinct(col(id)).as("_ld_nd"))
      .where(col("_ld_nd") >= minDocs)
      .select("_lk")
    lineApplyHot(lines, id, hot)
  }

  /** The exploded (id, pos, line, _lk) rows [[lineDedup]] mines and
    * rewrites from — one definition so the fused and the incremental
    * path tokenize identically. */
  private def docLines(df: DataFrame, id: String, text: String): DataFrame =
    ensureParallel(df, col(id))
      .select(col(id), posexplode(split(col(text), "\n")).as(Seq("pos", "line")))
      .withColumn("_lk", md5(col("line")))

  /** The rewrite tail shared by [[lineDedup]] and
    * [[lineDedupFromShards]]: strip the hot line keys, reassemble each
    * document from its surviving lines in original order. */
  private def lineApplyHot(lines: DataFrame, id: String,
                           hot: DataFrame): DataFrame =
    lines.join(hot, Seq("_lk"), "left_anti")
      .groupBy(col(id))
      .agg(
        array_join(
          transform(array_sort(collect_list(struct(col("pos"), col("line")))),
            x => x("line")),
          "\n").as("clean_text"),
        count(lit(1)).as("n_kept"))

  // ---- incremental line-dedup: the line-occurrence table as a
  // ---- maintained artifact -------------------------------------------

  /** Per-batch maintenance of the CROSS-DOC LINE statistics — the
    * incremental twin of [[lineDedup]]'s mining half, closing the r14
    * verdict's "largest recurring recompute" (every run re-exploded the
    * full corpus): each fresh-docs batch appends its per-line-key
    * DISTINCT-DOC counts to `$dir/batch=<id>` under the standard
    * `_SUCCESS` claim discipline ([[ShardWrite.appendBatch]] — replays
    * skip, torn shards heal). Batches are doc-disjoint, so per-batch
    * distinct-doc counts ADD — the shard sum equals a whole-corpus
    * `countDistinct`, which is what makes the hot-line decision at
    * read ([[hotLinesFromShards]]) EXACT, not approximate. Blank lines
    * are excluded here exactly as in the fused path. Returns false iff
    * the shard already existed (replay). */
  def lineStatsAppend(batch: DataFrame, id: String, text: String,
                      dir: String, batchId: Long): Boolean =
    lineStats(dir, None).append(batchId, lineStatRows(batch, id, text))

  /** The line-statistics channel at `dir`; its retire table is
    * `retireDir`, by default `$dir/retire`. */
  private def lineStats(dir: String, retireDir: Option[String]) =
    ShardWrite.CountChannel(dir, retireDir.getOrElse(s"$dir/retire"),
      "_lk STRING, nd BIGINT", Seq("_lk"))

  /** The per-batch line-statistics mine BOTH channels write — one
    * definition so ingest and retire counts can never drift (the
    * bigramCountRows discipline). */
  private def lineStatRows(batch: DataFrame, id: String,
                           text: String): DataFrame =
    docLines(batch, id, text)
      .where(col("line").rlike("\\S"))
      .groupBy("_lk").agg(countDistinct(col(id)).as("nd"))

  /** TOMBSTONES for the line-statistics channel — the count-channel
    * retire shape ([[graft.functions.TextAnalysis.unigramCountsRetire]]'s
    * discipline): the retired docs' per-line distinct-doc contributions
    * append POSITIVE to `retireDir` under the `_SUCCESS` claim rule, and
    * [[hotLinesFromShards]] subtracts them at read. Exact by additivity:
    * fresh-doc batches are doc-disjoint, so a retired doc's contribution
    * to each line key is exactly the rows this replay re-derives — the
    * netted counts equal a recompute over the retained corpus. The
    * channel is NOT folded into the count shards (the unigram/DSIR/NB/
    * CMS rationale: count re-subtraction is not idempotent, and the
    * subtraction input is line-vocabulary-bounded after its own
    * compaction, not takedown-history-bounded). A retire table is
    * itself a line-statistics table, so its batches append to the
    * channel rooted at `retireDir`. Returns false iff the shard
    * already existed (replay). */
  def lineStatsRetire(batch: DataFrame, id: String, text: String,
                      retireDir: String, batchId: Long): Boolean =
    lineStats(retireDir, None).append(batchId, lineStatRows(batch, id, text))

  // ---- incremental boilerplate: the shingle doc-frequency table as a
  // ---- maintained channel ---------------------------------------------

  private def shingleDf(dir: String) = ShardWrite.CountChannel(
    dir, s"$dir/retire", "shingle STRING, df BIGINT", Seq("shingle"))

  /** Per-batch maintenance of the BOILERPLATE miner's shingle
    * doc-frequency counts — the online twin of
    * [[graft.queries.PipelineQueries.boilerplateOf]]'s counting half:
    * each fresh-docs batch appends its per-shingle distinct-doc counts
    * (shingles are distinct per doc, so count(*) IS the batch's doc
    * frequency and counts ADD across doc-disjoint batches). The mined
    * drop list ([[boilerplateFromShards]]) then stays current as
    * batches stream in — the degenerate-bucket mitigation every
    * pair-space operator feeds on no longer needs corpus re-scans.
    * Returns false iff the shard already existed (replay). */
  def shingleDfAppend(batch: DataFrame, id: String, text: String,
                      dir: String, batchId: Long, n: Int = 5): Boolean =
    shingleDf(dir).append(batchId, shingleDfRows(batch, id, text, n))

  /** The per-batch shingle doc-frequency mine BOTH channels write —
    * one definition so ingest and retire counts can never drift. */
  private def shingleDfRows(batch: DataFrame, id: String, text: String,
                            n: Int): DataFrame =
    shingles(batch, id, text, n)
      .groupBy("shingle").agg(count(lit(1)).as("df"))

  /** TOMBSTONES for the boilerplate channel — the count-channel retire
    * shape: the retired docs' shingle contributions append POSITIVE to
    * `$dir/retire` and [[boilerplateFromShards]] subtracts at read.
    * Exact by doc-disjoint additivity. Returns false iff the shard
    * already existed (replay). */
  def shingleDfRetire(batch: DataFrame, id: String, text: String,
                      dir: String, batchId: Long, n: Int = 5): Boolean =
    shingleDf(dir).retire(batchId, shingleDfRows(batch, id, text, n))

  /** The boilerplate drop list served from the maintained counts:
    * ingest − retire nets to the retained corpus's exact doc
    * frequencies (zero-netted shingles vanish), then the same
    * minDf cut + (doc_freq DESC, shingle ASC) top-k as the fused
    * miner. Bit-identical by count additivity; shares its oracle.
    * A [[ShardWrite.CountChannel]] read. */
  def boilerplateFromShards(spark: org.apache.spark.sql.SparkSession,
                            dir: String, minDf: Int,
                            topK: Int): DataFrame =
    shingleDf(dir).netted(spark).withColumnRenamed("df", "doc_freq")
      .where(col("doc_freq") >= minDf)
      .orderBy(col("doc_freq").desc, col("shingle").asc)
      .limit(topK)

  /** Fold the shingle-count channels into one merged m-shard each —
    * counts re-aggregate by sum ([[ShardWrite.CountChannel]]). Returns
    * the ingest table's (shards in, shards out). */
  def compactShingleDf(spark: org.apache.spark.sql.SparkSession,
                       dir: String): (Int, Int) =
    shingleDf(dir).compact(spark)._1

  /** The hot-line key set derived from the accumulated shards: line
    * keys whose summed distinct-doc count crosses `minDocs`. Reads
    * through the compaction watermark rule; the retire table
    * ([[lineStatsRetire]] at `retirePath`, by default `$dir/retire`)
    * subtracts — a line key netted to zero vanished with its documents
    * and must not gate anything.
    * A [[ShardWrite.CountChannel]] read. */
  def hotLinesFromShards(spark: org.apache.spark.sql.SparkSession,
                         dir: String, minDocs: Int,
                         retirePath: Option[String] = None): DataFrame = {
    require(minDocs >= 2, s"minDocs must be >= 2, got $minDocs")
    lineStats(dir, retirePath).netted(spark)
      .where(col("nd") >= minDocs)
      .select("_lk")
  }

  /** [[lineDedup]] SERVED from the maintained line statistics: the hot
    * set comes from the shards (zero corpus-wide mining jobs), only the
    * documents being rewritten explode. Bit-identical to the fused path
    * over the same corpus by count additivity; shares its oracle. With
    * `retirePath`, the hot set decides over RETAINED counts — callers
    * pass the retained document set to rewrite. */
  def lineDedupFromShards(df: DataFrame, id: String, text: String,
                          dir: String, minDocs: Int,
                          retirePath: Option[String] = None): DataFrame =
    lineApplyHot(docLines(df, id, text), id,
      hotLinesFromShards(df.sparkSession, dir, minDocs, retirePath))

  /** Fold the line-stat shards into one merged m-shard — counts
    * re-aggregate by sum ([[ShardWrite.CountChannel]]). Returns the
    * ingest table's (shards in, shards out). */
  def compactLineStats(spark: org.apache.spark.sql.SparkSession,
                       dir: String): (Int, Int) =
    lineStats(dir, None).compact(spark)._1

  /** Unlock parallelism for tiny single-file inputs — the key-ed form of
    * [[Parallelism.ensureParallel]]: callers pass the expression their
    * downstream `groupBy` shuffles on, so the exchange satisfies the
    * downstream aggregation's required distribution and is REUSED, not
    * added. No-op at corpus scale. */
  private def ensureParallel(df: DataFrame, key: Column): DataFrame =
    Parallelism.ensureParallel(df, key)

  /** (doc, position, shingle) triples (NOT deduplicated): `n`-token
    * shingles from a whitespace tokenization, with their 0-based token
    * offset — the positioned form [[winnowFingerprints]] needs. Explode
    * is linear in corpus token count. */
  def shinglesPos(df: DataFrame, id: String, text: String, n: Int): DataFrame = {
    // The token array MUST be an attribute before the explode: slicing
    // `split(text)` directly in the post-Generate projection re-runs the
    // regex split of the whole document once PER SHINGLE row (O(tokens²)
    // per doc — measured as the dominant cost of the minhash pipeline).
    // With `toks` materialized below the Generate, the split runs once
    // per doc and the per-shingle work is an array slice.
    df.select(col(id).as("doc_id"), split(TextAnalysis.wsTrim(col(text)), "\\s+").as("toks"))
      .where(size(col("toks")) >= n)
      .select(col("doc_id"), col("toks"),
        explode(sequence(lit(0), size(col("toks")) - n)).as("i"))
      .select(col("doc_id"), col("i"),
        concat_ws(" ", slice(col("toks"), col("i") + 1, lit(n))).as("shingle"))
  }

  /** (doc, shingle) pairs (NOT deduplicated) — the position-free form
    * every hash pipeline consumes. */
  def shinglesRaw(df: DataFrame, id: String, text: String, n: Int): DataFrame =
    shinglesPos(df, id, text, n).select(col("doc_id"), col("shingle"))

  /** True iff `text` yields ZERO n-token shingles — the exact complement
    * of [[shinglesPos]]'s `size(toks) >= n` keep-filter (null text → no
    * tokens → short), as a scan-level predicate. Callers split a batch
    * into signed/short sides with this instead of anti-joining against
    * the signature pipeline's doc_ids, which would run the whole MinHash
    * chain a second time just to enumerate who got a signature. */
  def tooShortToShingle(text: Column, n: Int): Column =
    coalesce(size(split(TextAnalysis.wsTrim(text), "\\s+")) < n, lit(true))

  /** (doc, shingle) pairs of CHARACTER n-grams — the signature keyspace
    * for documents too short to token-shingle (a 3-token doc has zero
    * 5-token shingles, so token MinHash is blind to it; char trigrams
    * still give ~len hashes to sign). A doc shorter than `n` chars
    * contributes its whole text as the single shingle (substr clamps),
    * so every non-empty text is signable; null/empty texts contribute
    * nothing — they stay on the exact-fingerprint path. Same explode
    * shape as [[shinglesPos]]: linear in corpus chars. */
  def charShinglesRaw(df: DataFrame, id: String, text: String, n: Int): DataFrame = {
    require(n >= 1, s"char shingle width must be >= 1, got $n")
    df.select(col(id).as("doc_id"), col(text).as("__t"))
      .where(col("__t").isNotNull && length(col("__t")) >= 1)
      .select(col("doc_id"), col("__t"),
        explode(sequence(lit(1),
          greatest(length(col("__t")) - (n - 1), lit(1)))).as("__i"))
      .select(col("doc_id"), col("__t").substr(col("__i"), lit(n)).as("shingle"))
  }

  /** Distinct (doc, shingle) pairs — set semantics for Jaccard. */
  def shingles(df: DataFrame, id: String, text: String, n: Int): DataFrame =
    shinglesRaw(df, id, text, n).distinct()

  /** Winnowing document fingerprints (Schleimer, Wilkerson, Aiken 2003 —
    * the MOSS algorithm): the distinct set of windowed MINIMA over the
    * rolling shingle-hash sequence. Every window of `w` consecutive
    * shingle hashes contributes its minimum, so any match of length
    * ≥ `n + w − 1` tokens between two documents is GUARANTEED to share a
    * fingerprint (the winnowing guarantee) while storing only ~2/(w+1)
    * of the hashes — the sub-document dedup key that whole-doc md5
    * ([[TextAnalysis.fingerprint]]) cannot provide, catching documents
    * that share plagiarized/boilerplate PASSAGES rather than full text.
    *
    * Scale shape: one per-doc window (hash-partition by doc, sort by
    * position inside the partition — the repetitionStats shuffle shape)
    * then a distinct on (doc, fp). The 60-bit md5-derived hash keeps the
    * whole pipeline bit-reproducible by the DuckDB oracle's identical
    * window expression. */
  def winnowFingerprints(df: DataFrame, id: String, text: String,
                         n: Int = 5, w: Int = 4): DataFrame = {
    require(w >= 1, s"winnow window must be >= 1, got $w")
    import org.apache.spark.sql.expressions.Window
    val win = Window.partitionBy("doc_id").orderBy("i")
      .rowsBetween(Window.currentRow, w - 1)
    shinglesPos(ensureParallel(df, col(id)), id, text, n)
      .select(col("doc_id"), col("i"), md5Hash60(col("shingle")).as("h"))
      // fp and the full-window test share ONE frame spec, so Catalyst
      // plans a single Window pass (a max(i)-over-partition test would
      // stack a second Window operator over the same sort)
      .select(col("doc_id"),
        min(col("h")).over(win).as("fp"),
        count(lit(1)).over(win).as("_wn"))
      // windows that would run past the last shingle are partial — the
      // canonical algorithm emits only full windows
      .where(col("_wn") === w)
      .select(col("doc_id"), col("fp"))
      .distinct()
  }

  /** Drop a boilerplate shingle/fingerprint list from a bucket-keyed
    * stream BEFORE pair generation — the in-code form of the
    * degenerate-bucket mitigation every pair-space operator documents
    * ("drop/salt boilerplate upstream", docs/SCALE.md). `drop` is the
    * [[graft.queries.PipelineQueries.boilerplateOf]] output shape (any
    * frame with a `key`-named column; extra columns ignored) — small by
    * construction (top-k mined shingles), so it BROADCASTS and the
    * anti-join is a map-side hash probe, never a shuffle of the
    * shingle stream. */
  private def dropKeys(df: DataFrame, key: String, drop: Option[DataFrame]): DataFrame =
    drop match {
      case Some(d) =>
        df.join(broadcast(d.select(col(key)).distinct()), Seq(key), "left_anti")
      case None => df
    }

  /** Exact n-gram Jaccard for every pair sharing ≥1 shingle. The join is
    * keyed on the shingle string (skew-safe for natural text; a hot
    * boilerplate shingle is excluded via `dropShingles` — the
    * [[graft.queries.PipelineQueries.boilerplateOf]] output, applied as
    * a broadcast anti-join before bucketing), so only co-shingled
    * pairs are ever formed — never the full cross product.
    *
    * Cache ownership: NONE — this operator owns no session-lifetime
    * cache (the r5 spelling cached the shingle intermediate for its
    * three consumers, leaving a corpus-scale cache resident until
    * someone called `clearCache()`; ADVICE additionally noted the lazy
    * cache could not even guarantee single computation under concurrent
    * stage scheduling). Instead BOTH consumers — the per-doc shingle
    * counts and the pair expansion — read the SAME shingle-bucket
    * aggregation: per-doc counts are recovered by re-exploding the
    * bucket doc-lists (every distinct (doc, shingle) pair appears in
    * exactly one bucket, so the multiset is identical). The two
    * branches' shingle-keyed exchanges are canonically identical, so
    * Spark plans ONE shuffle write (ReusedExchange —
    * [[graft.CacheOwnershipSpec]] pins it) and the corpus is scanned,
    * exploded, and deduped exactly once with nothing left resident. */
  def jaccardPairs(df: DataFrame, id: String, text: String, n: Int,
                   dropShingles: Option[DataFrame] = None): DataFrame = {
    val sh = dropKeys(shingles(ensureParallel(df, col(id)), id, text, n),
      "shingle", dropShingles)
    val buckets = sh.groupBy("shingle").agg(collect_list(col("doc_id")).as("ds"))
    val counts = buckets.select(explode(col("ds")).as("doc_id"))
      .groupBy("doc_id").agg(count(lit(1)).as("n_sh"))
    // Shared-shingle pairs by BUCKET AGGREGATION, not a self-join: ONE
    // shuffle (groupBy shingle + collect_list) + in-bucket expansion,
    // exactly the collision pairs the join would form but without
    // shuffling the shingle table twice — the same rewrite that cut
    // minhashPairs 2.5× (and the same degenerate-bucket memory caveat:
    // a boilerplate shingle shared by millions of docs buffers its doc
    // list in one agg buffer; drop/salt boilerplate upstream,
    // docs/SCALE.md).
    val pairs = pairTailFromBuckets(buckets, "shared")
    pairs
      .join(counts.select(col("doc_id").as("doc_a"), col("n_sh").as("n_a")), "doc_a")
      .join(counts.select(col("doc_id").as("doc_b"), col("n_sh").as("n_b")), "doc_b")
      .select(col("doc_a"), col("doc_b"), col("shared"),
        (col("shared").cast("double") / (col("n_a") + col("n_b") - col("shared"))).as("jaccard"))
  }

  /** Passage-overlap candidate pairs from [[winnowFingerprints]]: docs
    * sharing ≥ `minShared` winnow fingerprints, with the shared count —
    * the partial-plagiarism/boilerplate-passage detector (minhash scores
    * WHOLE-document similarity; two long documents sharing one
    * paragraph score near 0 there but surface here). Same bucket-
    * aggregation pair generation as [[jaccardPairs]]: one groupBy on the
    * fingerprint, in-bucket expansion, cost ∝ fingerprint collisions —
    * never n² (and winnowing already thinned the hash stream ~2/(w+1)).
    * The degenerate-bucket caveat and mitigation are jaccardPairs's
    * (docs/SCALE.md). */
  def winnowPairs(df: DataFrame, id: String, text: String,
                  n: Int = 5, w: Int = 4, minShared: Int = 2): DataFrame =
    bucketPairCounts(winnowFingerprints(df, id, text, n, w), "fp", "shared_fps")
      .where(col("shared_fps") >= minShared)

  // ---- incremental winnow: the fingerprint table as a maintained
  // ---- artifact ------------------------------------------------------

  /** The fingerprint table at `dir` with its doc-id tombstones at
    * `retirePath` ([[windowRetireAppend]]). */
  private def winnowFps(dir: String, retirePath: String) =
    ShardWrite.SetChannel(dir, retirePath, "doc_id BIGINT, fp BIGINT",
      Seq("doc_id"))

  /** Per-batch maintenance of the winnow FINGERPRINT table — the
    * incremental twin of [[winnowPairs]]' mining half, the same shape
    * as the ExactSubstr window table ([[substrWindowsAppend]]):
    * fingerprints are PER-DOC (windowed minima over the doc's own
    * shingle-hash stream, no cross-doc state), so the shard union
    * across doc-disjoint batches IS the whole-corpus fingerprint table
    * and pair derivation at read is EXACT. The (n, w) parameters are
    * the table's layout contract — recorded at the root on first
    * append, verified on every later one (two shingle/window widths in
    * one table would make fingerprints incomparable). Returns false
    * iff the shard already existed (replay). */
  def winnowFpAppend(batch: DataFrame, id: String, text: String,
                     dir: String, batchId: Long,
                     n: Int = 5, w: Int = 4): Boolean = {
    require(w >= 1, s"winnow window must be >= 1, got $w")
    val spark = batch.sparkSession
    ShardWrite.verifyMarker(spark, s"$dir/_NW", s"$n,$w",
      "shingle/window widths (fingerprints are (n,w)-bound)")
    ShardWrite.appendBatch(dir, batchId,
      winnowFingerprints(batch, id, text, n, w))
  }

  /** [[winnowPairs]] SERVED from the maintained fingerprint table, a
    * [[ShardWrite.SetChannel]] read: zero shingle/hash/window jobs at
    * read — the mine ran once per batch at ingest; the pair bucketing
    * is the only corpus-scale work. Bit-identical to the fused path
    * over the same corpus (the shard union is the exact distinct
    * fingerprint table); shares its oracle. Fingerprints of docs
    * tombstoned at `retirePath` ([[windowRetireAppend]]) anti-join out
    * BEFORE pair generation: pairs that existed only through a retired
    * doc vanish, pairwise-exact. An empty channel reads as the plain
    * table. */
  def winnowPairsFromShards(spark: org.apache.spark.sql.SparkSession,
                            dir: String, retirePath: String,
                            minShared: Int = 2): DataFrame = {
    require(ShardWrite.readMarker(spark, s"$dir/_NW").isDefined,
      s"$dir has no _NW marker — not a maintained winnow fingerprint table")
    bucketPairCounts(winnowFps(dir, retirePath).retained(spark), "fp",
        "shared_fps")
      .where(col("shared_fps") >= minShared)
  }

  /** PHYSICAL tombstone fold for the fingerprint table
    * ([[ShardWrite.SetChannel.fold]]): retired docs' fingerprints drop
    * from the bytes, the channel is consumed after; with fewer than
    * two live shards the fold WAITS. */
  def foldRetiredWinnowFps(spark: org.apache.spark.sql.SparkSession,
                           dir: String, retirePath: String): Boolean =
    winnowFps(dir, retirePath).fold(spark)

  /** ExactSubstr-style repeated-substring spans (Lee et al. 2022,
    * "Deduplicating Training Data Makes Language Models Better" — the
    * suffix-array ExactSubstr dedup, re-expressed relationally): every
    * occurrence of an `L`-token window whose CONTENT occurs ≥2 times in
    * the corpus (another document OR another position of the same one)
    * is marked, EXCEPT the globally-first occurrence — lexicographic
    * min (doc_id, position), the deterministic stand-in for the paper's
    * "keep one copy" — and the marked [i, i+L) windows are merged into
    * maximal per-doc spans (gaps-and-islands). A repeated passage of
    * any length ≥ L is covered end-to-end by its marked windows, so the
    * merged span removes it wholly — the suffix-array result for
    * passages ≥ L without the suffix array; sub-L repeats are invisible
    * (the window-length trade every n-gram method makes).
    *
    * Returns (doc_id, span_start, span_end): the writer-facing cut
    * list. Scale shape: the corpus-wide state is the (h, cnt, first)
    * table — one map-side-combinable groupBy over fixed-width (h,
    * doc_id, i) triples, never text; the mark join is h-keyed (AQE
    * skew-split handles boilerplate hashes, and the `q_boilerplate`
    * drop-list discipline composes upstream); the interval merge is a
    * per-doc window bounded by doc length. Spans, not rewritten text,
    * cross the final shuffle. */
  def exactSubstrSpans(df: DataFrame, id: String, text: String,
                       L: Int = 50): DataFrame = {
    require(L >= 2, s"substring window must be >= 2 tokens, got $L")
    spansFromWindows(substrWindows(df, id, text, L), L)
  }

  /** The mined (doc_id, i, h) window table — one definition shared by
    * the fused path and the incremental appender so the two can never
    * hash differently. */
  private def substrWindows(df: DataFrame, id: String, text: String,
                            L: Int): DataFrame =
    shinglesPos(df, id, text, L)
      .select(col("doc_id"), col("i"), md5Hash60(col("shingle")).as("h"))

  /** The span derivation over a window table — [[exactSubstrSpans]]'s
    * whole decision half, factored so the shard-served path
    * ([[exactSubstrSpansFromShards]]) replays the identical plan. */
  private def spansFromWindows(sh: DataFrame, L: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // per-hash corpus stats: occurrence count + lexicographic-min
    // occurrence as an orderable struct (partial-aggregable min — no
    // corpus-scale window over skewed hash partitions). min_by, not
    // min(struct): a struct-typed declarative min buffer is not
    // fixed-width, which forces SortAggregate (sort the whole window
    // table by h, twice with the partial phase); min_by is a typed
    // aggregate that rides ObjectHashAggregate — same lexicographic
    // minimum (the (doc_id, i) ordering key is unique within an
    // h-group, so there is no tie for min_by to break arbitrarily),
    // measured 2.2× faster on the mined table (r17, value-equal
    // verified row-for-row).
    val stats = sh.groupBy("h").agg(
      count(lit(1)).as("cnt"),
      min_by(struct(col("doc_id"), col("i")),
        struct(col("doc_id"), col("i"))).as("first"))
    val dup = sh.join(stats.where(col("cnt") >= 2), Seq("h"))
      .where(!(col("first.doc_id") === col("doc_id") &&
               col("first.i") === col("i")))
      .select(col("doc_id"), col("i").as("s"), (col("i") + L).as("e"))
    // gaps-and-islands: a window starts a new span iff it begins past
    // every previous window's end (touching spans merge — union
    // semantics); s is unique per doc, so the order is total
    val byDoc = Window.partitionBy("doc_id").orderBy("s")
    dup
      .withColumn("maxe",
        max(col("e")).over(byDoc.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("g",
        sum(when(col("maxe").isNull || col("s") > col("maxe"), 1)
          .otherwise(0)).over(byDoc))
      .groupBy(col("doc_id"), col("g"))
      .agg(min("s").as("span_start"), max("e").as("span_end"))
      .select("doc_id", "span_start", "span_end")
  }

  // ---- incremental ExactSubstr: the window table as a maintained
  // ---- artifact --------------------------------------------------------

  private val SubstrWindowSchema = "doc_id BIGINT, i INT, h BIGINT"

  /** Per-batch maintenance of the ExactSubstr WINDOW TABLE — the
    * incremental twin of [[exactSubstrSpans]]'s mining half, closing
    * the r14 verdict's "largest recurring recompute": each fresh-docs
    * batch tokenizes and hashes ONCE, appending its (doc_id, i, h)
    * rows to `$dir/batch=<id>` under the `_SUCCESS` claim discipline
    * ([[ShardWrite.appendBatch]]). Rows are doc-disjoint across
    * fresh-doc batches, so the shard union IS the whole-corpus window
    * table and the span derivation at read is EXACT — duplicate
    * windows across documents land in different shards and still meet
    * in the read-side hash aggregation. `L` is the layout contract:
    * recorded at the root on first append (the WAND `_span`
    * discipline), verified on every later one — two window lengths in
    * one table would make the hash keys incomparable. Returns false
    * iff the shard already existed (replay). */
  def substrWindowsAppend(batch: DataFrame, id: String, text: String,
                          dir: String, batchId: Long, L: Int = 50): Boolean = {
    require(L >= 2, s"substring window must be >= 2 tokens, got $L")
    val spark = batch.sparkSession
    ShardWrite.verifyMarker(spark, s"$dir/_L", L.toString,
      "window length (hash keys are L-bound)")
    ShardWrite.appendBatch(dir, batchId, substrWindows(batch, id, text, L))
  }

  /** The window table at `dir` with its doc-id tombstones at
    * `retirePath` ([[windowRetireAppend]]). */
  private def windows(dir: String, retirePath: String) =
    ShardWrite.SetChannel(dir, retirePath, SubstrWindowSchema, Seq("doc_id"))

  /** [[exactSubstrSpans]] SERVED from the maintained window table, a
    * [[ShardWrite.SetChannel]] read: zero tokenize/hash jobs at read —
    * the mine ran once per batch at ingest. `L` re-derives from the
    * recorded marker, never a caller-remembered number. The window
    * rows of docs tombstoned at `retirePath` ([[windowRetireAppend]])
    * anti-join out BEFORE the span derivation: the window table is
    * doc-keyed, so the retained rows are EXACTLY the retained corpus's
    * window table — a window repeated only because of a retired doc
    * correctly stops being marked, and the retired doc's own spans
    * vanish. Equality with a retained-corpus recompute is the oracle
    * row's pin, not an approximation. An empty channel reads as the
    * plain table, with zero extra plan nodes. */
  def exactSubstrSpansFromShards(spark: org.apache.spark.sql.SparkSession,
                                 dir: String, retirePath: String): DataFrame = {
    val l = ShardWrite.readMarker(spark, s"$dir/_L").map(_.toInt)
      .getOrElse(throw new IllegalStateException(
        s"$dir has no _L marker — not a maintained ExactSubstr window table"))
    spansFromWindows(windows(dir, retirePath).retained(spark), l)
  }

  /** TOMBSTONES for the window-mine families: doc ids leaving the
    * corpus append to `retirePath` under the `_SUCCESS` claim
    * discipline — the doc-id-SET channel shape shared with the
    * postings/pairs/codes families. Readers subtract by anti-join
    * ([[exactSubstrSpansFromShards]]); [[foldRetiredWindows]] makes the
    * deletion byte-real later. Returns false iff the shard already
    * existed (replay). */
  def windowRetireAppend(docIds: DataFrame, idCol: String,
                         retirePath: String, batchId: Long): Boolean =
    ShardWrite.Tombstones(retirePath, "doc_id")
      .append(batchId, docIds, col(idCol))

  /** Fold the window-table shards into one merged m-shard — rows are
    * doc-disjoint so the merge is the identity union
    * ([[ShardWrite.compactShards]] discipline). */
  def compactSubstrWindows(spark: org.apache.spark.sql.SparkSession,
                           dir: String): (Int, Int) =
    ShardWrite.compactShards(spark, dir, SubstrWindowSchema)(identity)

  /** PHYSICAL tombstone fold for the window table — the maintenance
    * completion of [[windowRetireAppend]] ([[ShardWrite.SetChannel.fold]]):
    * the retired docs' rows drop from the BYTES as a compaction, then
    * the channel is consumed. Returns true iff the fold consumed the
    * channel. */
  def foldRetiredWindows(spark: org.apache.spark.sql.SparkSession,
                         dir: String, retirePath: String): Boolean =
    windows(dir, retirePath).fold(spark)

  /** Apply the [[exactSubstrSpans]] cut list: each document's text
    * reconstructed from the tokens OUTSIDE every dup span, in original
    * order (the [[lineDedup]] reassembly discipline — whitespace is
    * token-normalized, which the oracle compares unchanged; documents
    * covered entirely drop out). The covered-position set explodes only
    * the SPANS (∝ removed tokens), the anti-join is (doc, pos)-keyed,
    * and the reassembly shuffle is the corpus' own tokens once — the
    * floor for any rewrite pass. */
  def exactSubstrApply(df: DataFrame, id: String, text: String,
                       L: Int = 50): DataFrame = {
    val covered = exactSubstrSpans(df, id, text, L)
      .select(col("doc_id"),
        explode(sequence(col("span_start"), col("span_end") - 1)).as("pos"))
    ensureParallel(df, col(id))
      .select(col(id).as("doc_id"),
        posexplode(split(TextAnalysis.wsTrim(col(text)), "\\s+"))
          .as(Seq("pos", "tok")))
      .join(covered, Seq("doc_id", "pos"), "left_anti")
      .groupBy("doc_id")
      .agg(
        array_join(
          transform(array_sort(collect_list(struct(col("pos"), col("tok")))),
            x => x("tok")),
          " ").as("clean_text"),
        count(lit(1)).as("n_kept"))
  }

  /** Per-document ExactSubstr profile over [[exactSubstrSpans]]: every
    * document's token count, merged dup-span count, tokens removed and
    * tokens kept (docs with no repeated window report 0/0/full) — the
    * corpus dedup report a curation run reads before committing to the
    * cut list. */
  def exactSubstrStats(df: DataFrame, id: String, text: String,
                      L: Int = 50): DataFrame = {
    val spans = exactSubstrSpans(df, id, text, L)
      .groupBy("doc_id").agg(
        count(lit(1)).as("dup_spans"),
        sum(col("span_end") - col("span_start")).as("removed_tokens"))
    df.select(col(id).as("doc_id"),
        size(split(TextAnalysis.wsTrim(col(text)), "\\s+")).cast("long")
          .as("n_tokens"))
      .join(spans, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("dup_spans"), lit(0L)).as("dup_spans"),
        coalesce(col("removed_tokens"), lit(0L)).cast("long")
          .as("removed_tokens"),
        (col("n_tokens") - coalesce(col("removed_tokens"), lit(0L)))
          .cast("long").as("kept_tokens"))
  }

  /** The shared bucket-aggregation pair expansion: ONE groupBy on the
    * bucket key (collect_list of doc ids), in-bucket a<b expansion, then
    * the per-pair shared-bucket count — exactly the collision pairs a
    * self-join would form without shuffling the table twice. One source
    * of truth so the degenerate-bucket mitigation (drop/salt boilerplate
    * upstream, docs/SCALE.md) can never be fixed in one caller and
    * missed in the other. Input: (doc_id, `key`) rows, distinct per
    * pair-relevant occurrence. */
  private def bucketPairCounts(df: DataFrame, key: String,
                               countName: String): DataFrame =
    pairTailFromBuckets(
      df.groupBy(key).agg(collect_list(col("doc_id")).as("ds")), countName)

  /** The expansion tail over an already-aggregated bucket frame
    * (`ds`: collected doc-id list per bucket) — split out so
    * [[jaccardPairs]] can feed its counts AND pairs from one bucket
    * aggregation (ReusedExchange; see its cache-ownership note). */
  private def pairTailFromBuckets(buckets: DataFrame,
                                  countName: String): DataFrame =
    buckets
      .where(size(col("ds")) > 1)
      .select(explode(col("ds")).as("a"), col("ds"))
      .select(col("a"), explode(col("ds")).as("b"))
      .where(col("a") < col("b"))
      .groupBy(col("a").as("doc_a"), col("b").as("doc_b"))
      .agg(count(lit(1)).as(countName))

  /** Mersenne prime 2³¹−1: universal-hash modulus. Base hashes are
    * reduced mod P before the (a·h+b) mod P re-hash so every intermediate
    * stays < 2⁶² — exact in signed 64-bit arithmetic in BOTH engines
    * (Spark and the DuckDB oracle), which is what makes MinHash
    * signatures bit-for-bit verifiable across engines. */
  val P: Long = 2147483647L

  /** Deterministic universal-hash coefficients (aᵢ ∈ [1,P), bᵢ ∈ [0,P))
    * from a fixed-seed PRNG — driver-computed literals, identical in the
    * engine plan and the generated oracle SQL. */
  def universalCoeffs(k: Int, seed: Long = 42L): (Array[Long], Array[Long]) = {
    val rnd = new scala.util.Random(seed)
    // & Long.MaxValue, not math.abs: abs(Long.MinValue) is NEGATIVE and
    // would break the a∈[1,P), b∈[0,P) contract for unlucky seeds
    def draw(lo: Long): Long = lo + ((rnd.nextLong() & Long.MaxValue) % (P - lo))
    val as = Array.fill(k)(draw(1L))
    val bs = Array.fill(k)(draw(0L))
    (as, bs)
  }

  /** First 15 hex chars of md5 as a 60-bit non-negative long. md5 (not
    * xxhash64) because the oracle engine computes the identical value:
    * `CAST('0x'||substr(md5(x),1,15) AS BIGINT)`. 15 chars keeps the
    * value < 2⁶⁰, safely inside signed-int64 for downstream arithmetic.
    * Computed by the native [[Md5Long60]] expression (bit-identical to
    * the `conv(substring(md5(c),1,15),16,10)` composition, ~4× faster). */
  def md5Hash60(c: Column): Column = Md5Long60(c)

  /** MinHash signatures: the shingle string is hashed ONCE (md5 → 60-bit
    * → mod P); the `k` independent functions are cheap universal re-hashes
    * (aᵢ·h+bᵢ mod P) — 1 string hash + k fixed-width hashes per shingle
    * instead of k string hashes. Duplicate shingles need no pre-distinct:
    * min over the multiset equals min over the set, saving a full
    * shuffle. One shuffle total, with the whole k-wide signature packed
    * into a single [[ElementwiseLongAgg]] array buffer (map-side partial
    * aggregation; one 8k-byte buffer per doc instead of k shuffle
    * columns). */
  def minhashSignatures(sh: DataFrame, k: Int, seed: Long = 42L): DataFrame = {
    val (as, bs) = universalCoeffs(k, seed)
    // The whole row-hash step is ONE fused native expression
    // ([[MinhashHashes]]): md5 → 60-bit long → k universal re-hashes in a
    // primitive loop. (A transform() lambda here drops to interpreted
    // eval — measured 16× slower; a CreateArray of k subexpressions
    // costs hundreds of ms of Janino compile per plan.)
    sh.select(col("doc_id"), MinhashHashes(col("shingle"), as, bs, P).as("hv"))
      .groupBy("doc_id")
      .agg(ElementwiseAgg.elementwiseMin(col("hv"), k).as("sig"))
  }

  /** MinHash+LSH near-dup candidates: signatures banded into `bands`
    * groups of `k/bands` rows; docs colliding in any band become
    * candidates; candidates verified by exact Jaccard estimate from the
    * full signature. Returns (doc_a, doc_b, est_jaccard ≥ `threshold`).
    *
    * Scale path: candidate generation is a groupBy on (band, bandHash) —
    * cost proportional to collisions, not n².
    */
  def minhashPairs(df: DataFrame, id: String, text: String,
                   shingleN: Int = 5, k: Int = 64, bands: Int = 16,
                   threshold: Double = 0.5,
                   dropShingles: Option[DataFrame] = None,
                   maxBucket: Option[Int] = None): DataFrame = {
    require(bands >= 1 && bands <= k && k % bands == 0,
      s"minhashPairs needs bands in [1,k] dividing k (k=$k, bands=$bands): " +
        "bands>k would hash zero signature rows per band — every doc " +
        "collides and the candidate join degenerates to n^2")
    // SINGLE-CONSUMER pipeline — no cache, no eager materialization, no
    // construction-time side-effect jobs: the signature pipeline is
    // scanned exactly once because the full signature RIDES ALONG through
    // the band fan-out and the bucket aggregation, so the est_jaccard
    // stage needs no re-join against the signatures. The band shuffle
    // carries bands×(8·k/bands+8k)-ish bytes per doc (~8 KB at k=64,
    // bands=16) — bounded, spillable, and cheaper at corpus scale than
    // keeping a signatures cache resident (or recomputing the pipeline
    // per self-join side, which is what a lazy cache degenerates to).
    //
    // band key = xxhash64 of the band's signature slice (engine-internal:
    // only COLLISIONS matter, so the oracle can band on the raw slice
    // values instead — the candidate sets agree)
    val banded = bandedSignatures(df, id, text, shingleN, k, bands, dropShingles)
    // Candidate pairs by bucket aggregation, not a self-join: ONE shuffle
    // (groupBy band key). Pair expansion is bucket-local (|bucket|²),
    // exactly the collision set a join would produce. MEMORY SHAPE: each
    // bucket's collect_list buffers |bucket|×(8+8k) bytes UNSPILLABLY in
    // one aggregation buffer (~520 B/member at k=64) — fine for genuine
    // near-dup groups (tens to thousands of members), catastrophic only
    // for a DEGENERATE bucket (millions of boilerplate-identical docs),
    // where the |bucket|² pair space is already fatal in any LSH shape;
    // the mitigation either way is dropping/salting boilerplate upstream
    // (docs/SCALE.md). [[minhashPairsJoin]] is the spill-safe twin: same
    // output through a sort-merge self-join whose match-group buffer
    // spills to disk instead of OOMing the agg buffer.
    //
    // est_jaccard is computed INLINE at expansion time with the
    // codegen'd [[ArrayEqCount]] kernel, so the post-expansion rows are
    // (doc_a, doc_b, est) — 24 bytes — and the threshold filter runs
    // BEFORE the distinct. On a dup-heavy corpus (every pair colliding
    // in all bands), shuffling the expansion with signatures attached
    // measured 2.5× the whole pipeline; shuffling 24-byte rows is noise.
    // The 16 per-band copies of a surviving pair collapse in distinct.
    bandedPairTail(banded, k, threshold, maxBucket)
  }

  /** The bucket-aggregation pair-expansion tail over a banded-signature
    * frame — shared by [[minhashPairs]] and
    * [[minhashPairsFromSignatures]]. `maxBucket` is the DEGENERATE-
    * BUCKET CAP (the batch twin of the streaming gate's hot-band
    * mitigation): a band bucket larger than the cap is boilerplate by
    * construction — organic near-dup cliques are tens to thousands
    * wide, a template flood is the only thing that puts 10k+ docs in
    * ONE bucket — and its |bucket|^2 expansion is dropped whole.
    * Recall contract: flood members still pair through any NON-flooded
    * band they share with a genuine near-dup; only the degenerate
    * buckets' pair space disappears (the dropShingles/dropBands
    * semantics at bucket granularity, decided inline with zero extra
    * passes). None (the oracle rows' setting) expands every bucket. */
  private def bandedPairTail(banded: DataFrame, k: Int,
                             threshold: Double,
                             maxBucket: Option[Int] = None): DataFrame =
    banded
      .groupBy("band", "band_hash")
      .agg(collect_list(struct(col("doc_id"), col("sig"))).as("ds"))
      .where(size(col("ds")) > 1 &&
        maxBucket.fold(lit(true))(m => size(col("ds")) <= m))
      .select(explode(col("ds")).as("a"), col("ds"))
      .select(col("a"), explode(col("ds")).as("b"))
      .where(col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        (ArrayEqCount(col("a.sig"), col("b.sig")).cast("double") / k).as("est_jaccard"))
      .where(col("est_jaccard") >= threshold)
      .distinct()

  /** Pair expansion over PERSISTED signatures — the 100 TB shape the
    * spill-safe twin's docs point at: compute [[minhashSignatures]]
    * once, write the (doc_id, sig) frame to the lake (64-long arrays,
    * ~520 B/doc — a tiny fraction of corpus bytes), then run every
    * banding/threshold experiment from the artifact without re-shingling
    * the corpus. `sigs` must carry (doc_id, sig: array<long> of width
    * EXACTLY k) from the same (k, seed) the experiment assumes —
    * signatures are seed-bound, so persist the seed alongside. The
    * width is ENFORCED per row: a mismatched k would otherwise fail in
    * BOTH directions silently (narrower sigs make the out-of-range
    * bands hash empty slices — every doc collides there and the
    * expansion degenerates to n²; wider sigs inflate est_jaccard past
    * 1.0, since the estimate divides the full-array match count by k).
    * Null-sig rows (a left join against the artifact leaves them) are
    * dropped up front: no signature ⇒ no pairs — without the filter
    * they would all collide into one wasted bucket per band. Identical
    * output to [[minhashPairs]] on the frame the signatures were built
    * from ([[graft.DedupSpec]] round-trips through parquet). */
  /** `dropBands`: optional (band, band_hash) keys excluded from the
    * collision expansion (broadcast anti-join on the banded fan-out) —
    * the BAND-granularity mitigation for hot/boilerplate band keys a
    * near-dup gate mines from its state ([[graft.streaming.NearDupGate]]
    * hot-band list). Near-dup pairs still collide on their other
    * bands; only the dropped keys' degenerate buckets disappear. The
    * shingle-granularity equivalent for the from-text pipelines is
    * [[minhashPairs]]' `dropShingles`. */
  def minhashPairsFromSignatures(sigs: DataFrame, k: Int = 64,
                                 bands: Int = 16,
                                 threshold: Double = 0.5,
                                 dropBands: Option[DataFrame] = None,
                                 maxBucket: Option[Int] = None): DataFrame = {
    require(bands >= 1 && bands <= k && k % bands == 0,
      s"minhashPairsFromSignatures needs bands in [1,k] dividing k (k=$k, bands=$bands)")
    val checked = sigs
      .where(col("sig").isNotNull)
      .select(col("doc_id"),
        when(size(col("sig")) === k, col("sig")).otherwise(raise_error(concat(
          lit(s"minhashPairsFromSignatures: expected sig width $k (signatures " +
            "are (k, seed)-bound — re-read the artifact's k), got "),
          size(col("sig")).cast("string")))).as("sig"))
    val banded = bandSigs(checked, k, bands)
    val pruned = dropBands.fold(banded)(d =>
      banded.join(broadcast(d.select("band", "band_hash")),
        Seq("band", "band_hash"), "left_anti"))
    bandedPairTail(pruned, k, threshold, maxBucket)
  }

  /** (doc_id, sig, band, band_hash) band fan-out shared by the two pair
    * expansions — the full signature rides along so est_jaccard needs no
    * re-join against the signature table. An optional boilerplate
    * `dropShingles` list is anti-joined out BEFORE hashing (see
    * [[dropKeys]]): signatures are then minima over the doc's
    * NON-boilerplate shingles, so a million-doc boilerplate bucket can
    * no longer form. Docs whose every shingle is dropped leave the
    * pipeline entirely (no signature → no pairs), which is the intended
    * semantics: pure-boilerplate documents have no content to match. */
  private def bandedSignatures(df: DataFrame, id: String, text: String,
                               shingleN: Int, k: Int, bands: Int,
                               dropShingles: Option[DataFrame] = None): DataFrame =
    bandSigs(minhashSignatures(
      dropKeys(shinglesRaw(ensureParallel(df, col(id)), id, text, shingleN),
        "shingle", dropShingles), k), k, bands)

  /** Public (doc_id, band, band_hash) projection of [[bandSigs]] — the
    * compact LSH membership a near-dup GATE persists as its seen-state
    * (the signature itself stays out of the state table: ~16 longs/doc
    * instead of ~(16+64)). */
  def signatureBands(sigs: DataFrame, k: Int, bands: Int): DataFrame = {
    require(bands >= 1 && bands <= k && k % bands == 0,
      s"signatureBands needs bands in [1,k] dividing k (k=$k, bands=$bands)")
    bandSigs(sigs, k, bands).select(col("doc_id"), col("band"), col("band_hash"))
  }

  /** The band fan-out itself — ONE copy of the band key definition
    * (xxhash64 over the band's signature slice), shared by the inline
    * pipeline and the persisted-artifact path so a band-key change can
    * never split their outputs silently. */
  private def bandSigs(sigs: DataFrame, k: Int, bands: Int): DataFrame = {
    val rows = k / bands
    sigs.select(col("doc_id"), col("sig"), posexplode(
      array((0 until bands).map(b =>
        xxhash64(lit(b), slice(col("sig"), b * rows + 1, rows))): _*))
      .as(Seq("band", "band_hash")))
  }

  /** Spill-safe twin of [[minhashPairs]] for DEGENERATE buckets: pair
    * expansion by a bucket-keyed sort-merge SELF-JOIN instead of the
    * groupBy+collect_list bucket aggregation. Identical output
    * ([[graft.DedupSpec]] asserts set equality).
    *
    * Trade: the bucket aggregation holds each bucket's members in ONE
    * unspillable agg buffer (~520 B/member at k=64) — optimal for
    * natural near-dup buckets (its |bucket| is tens to thousands), a
    * memory cliff for a boilerplate bucket with millions of identical
    * docs. SortMergeJoin instead buffers the match group in an
    * ExternalAppendOnlyUnsafeRowArray, which SPILLS to disk past
    * `spark.sql.sortMergeJoinExec.buffer.spill.threshold` — the pipeline
    * degrades to disk speed instead of OOMing (the |bucket|² pair count
    * is still the real cost; drop/salt boilerplate upstream either way).
    * Price of safety: the banded-signature pipeline feeds TWO join sides
    * (computed twice from the scan, or once if the caller persists
    * signatures to the lake first — at 100 TB they would be a persisted
    * artifact anyway) and the join shuffle carries full signatures on
    * both sides. Default remains the aggregation path. */
  def minhashPairsJoin(df: DataFrame, id: String, text: String,
                       shingleN: Int = 5, k: Int = 64, bands: Int = 16,
                       threshold: Double = 0.5,
                       dropShingles: Option[DataFrame] = None): DataFrame = {
    require(bands >= 1 && bands <= k && k % bands == 0,
      s"minhashPairsJoin needs bands in [1,k] dividing k (k=$k, bands=$bands)")
    val banded = bandedSignatures(df, id, text, shingleN, k, bands, dropShingles)
    val a = banded.select(col("band").as("_ba"), col("band_hash").as("_ha"),
      col("doc_id").as("doc_a"), col("sig").as("_sa"))
    val b = banded.select(col("band").as("_bb"), col("band_hash").as("_hb"),
      col("doc_id").as("doc_b"), col("sig").as("_sb"))
    a.join(b, col("_ba") === col("_bb") && col("_ha") === col("_hb") &&
        col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        (ArrayEqCount(col("_sa"), col("_sb")).cast("double") / k).as("est_jaccard"))
      .where(col("est_jaccard") >= threshold)
      .distinct()
  }

  /** Connected components over a near-dup pair set: pairs → dup GROUPS,
    * the form a training-data pipeline actually consumes (keep one
    * representative per component, drop the rest). Emits
    * (doc_id, component_rep) for every doc appearing in ≥1 pair, where
    * component_rep is the minimum doc id in the component — docs in no
    * pair are their own trivial component and need no row.
    *
    * Two execution paths, chosen by edge count (the edge set is already
    * materialized for the round loop, so the count is free):
    *  - ≤ `driverMaxEdges`: driver-side union-find over the collected
    *    edge list (16 B/edge) — one job instead of 3–4 shuffle rounds.
    *    Near-dup edge sets are collision pairs only, so this path serves
    *    even very large corpora; it is the broadcast-threshold analogy.
    *  - above it: iterative min-label propagation, fully distributed.
    *
    * Distributed algorithm: iterative min-label propagation. Each round every vertex
    * takes the min of its own label and its neighbors' labels — two
    * hash-shuffles per round (one join edges⋈labels, one groupBy vertex),
    * both on vertex ids, converging in O(graph diameter) rounds. Near-dup
    * components are cliques or near-cliques (every member collided with
    * the rep in some LSH band), so the diameter is 1–2 and the loop
    * terminates in 2–3 rounds regardless of corpus size; the
    * driver-sequenced loop per round is O(1) metadata (a counter), never
    * data. For adversarially CHAIN-shaped graphs (diameter ~n, not a
    * near-dup shape) the O(log n)-round large-star/small-star algorithm
    * is the drop-in upgrade — same two-shuffle round structure.
    *
    * Lineage: each round's labels are `localCheckpoint`ed — the round
    * reads the previous round's labels TWICE (join side + neighbor-min
    * side), so without plan truncation the logical plan DOUBLES per
    * round and the analyzer stack-overflows near round ~12; a cache
    * materializes data but leaves the logical plan growing, while the
    * checkpoint replaces it with a flat LogicalRDD (the standard
    * iterative-graph fix — GraphFrames does the same). Old rounds'
    * blocks are dropped by the context cleaner when their RDD is
    * GC-unreachable. Throws if not converged in `maxIters` (never
    * returns silently-wrong components).
    */
  /** Edge-count threshold below which [[connectedComponents]] solves the
    * graph with driver-side union-find instead of distributed rounds:
    * 2M edges ≈ 32 MB collected — the same small-side escape hatch a
    * broadcast-join threshold encodes. Near-dup edge sets are orders of
    * magnitude smaller than their corpus (only colliding pairs), so in
    * practice this path serves even very large corpora; the distributed
    * rounds remain for graphs past it. */
  val CcDriverMaxEdges: Long = 2L * 1000 * 1000

  def connectedComponents(pairs: DataFrame, a: String = "doc_a",
                          b: String = "doc_b", maxIters: Int = 50,
                          pairsDistinct: Boolean = false,
                          driverMaxEdges: Long = CcDriverMaxEdges): DataFrame = {
    // symmetric edge set: min-label must flow both ways across a pair.
    // Built by exploding both directions from ONE scan — a self-union
    // would compute the upstream pair pipeline (at minhash cost) twice.
    // `pairsDistinct = true` skips the edge dedup shuffle when the
    // caller guarantees unique undirected pairs (minhashPairs does);
    // duplicate edges would only cost redundant min() inputs anyway,
    // never wrong labels.
    val rawEdges = pairs.select(explode(array(
        struct(col(a).as("src"), col(b).as("dst")),
        struct(col(b).as("src"), col(a).as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
    val edges = (if (pairsDistinct) rawEdges else rawEdges.distinct()).cache()
    val edgeCount = edges.count() // materializes the cache either way
    // fast path is LongType-only (primitive arrays); any other id type
    // routes to the distributed rounds, which are type-generic
    val longIds = edges.schema.fields.forall(
      _.dataType == org.apache.spark.sql.types.LongType)
    if (longIds && edgeCount <= driverMaxEdges) {
      // small-graph fast path: collect the (deduplicated) edge list and
      // union-find on the driver — one job + one tiny createDataFrame
      // instead of 3–4 rounds of joins/checkpoints. 16 B/edge, bounded
      // by `driverMaxEdges`; identical output contract. All driver-side
      // structures are PRIMITIVE arrays (sorted-id compression + int
      // union-find): a boxed Long map measured ~10 s at 2M edges, the
      // primitive form is sub-second. The two column collects return
      // primitive Array[Long] (no Row/tuple boxing — a Row collect is
      // ~8× the budgeted bytes); they scan the SAME materialized cache
      // with narrow projections, so row order is identical across both.
      val spark0 = pairs.sparkSession
      import spark0.implicits._
      val srcs: Array[Long] = edges.select(col("src")).as[Long].collect()
      val dsts: Array[Long] = edges.select(col("dst")).as[Long].collect()
      edges.unpersist()
      val n = srcs.length
      require(dsts.length == n, s"edge column collects disagree: $n vs ${dsts.length}")
      val endpoints = new Array[Long](2 * n)
      var i = 0
      while (i < n) {
        endpoints(2 * i) = srcs(i)
        endpoints(2 * i + 1) = dsts(i)
        i += 1
      }
      // dense id space: sort endpoints, dedup in place → ids (ascending),
      // so index order == id order and union-by-min-index is min-id
      val sorted = endpoints.clone()
      java.util.Arrays.sort(sorted)
      val ids = new Array[Long](sorted.length)
      var m = 0
      i = 0
      while (i < sorted.length) {
        if (m == 0 || ids(m - 1) != sorted(i)) { ids(m) = sorted(i); m += 1 }
        i += 1
      }
      val parent = Array.tabulate(m)(identity)
      def find(x: Int): Int = {
        var r = x
        while (parent(r) != r) r = parent(r)
        var c = x
        while (parent(c) != r) { val nx = parent(c); parent(c) = r; c = nx }
        r
      }
      i = 0
      while (i < n) {
        val s = java.util.Arrays.binarySearch(ids, 0, m, endpoints(2 * i))
        val d = java.util.Arrays.binarySearch(ids, 0, m, endpoints(2 * i + 1))
        val rs = find(s); val rd = find(d)
        if (rs != rd) { if (rs < rd) parent(rd) = rs else parent(rs) = rd }
        i += 1
      }
      return (0 until m).map(j => (ids(j), ids(find(j))))
        .toDF("doc_id", "component_rep")
    }
    var labels = edges.select(col("src").as("id")).distinct()
      .select(col("id"), col("id").as("comp"))
      .localCheckpoint()
    var iter = 0
    var changes = -1L
    while (changes != 0 && iter < maxIters) {
      // every id has ≥1 neighbor (it came from the symmetric edge set),
      // so the inner join keeps every vertex
      val nbrMin = edges
        .join(labels.select(col("id").as("_cc_dst"), col("comp").as("_cc_comp")),
          col("dst") === col("_cc_dst"))
        .groupBy(col("src")).agg(min(col("_cc_comp")).as("nbr_comp"))
      val next = labels.join(nbrMin, labels("id") === nbrMin("src"))
        .select(labels("id"), least(col("comp"), col("nbr_comp")).as("comp"),
          (col("nbr_comp") < col("comp")).as("_changed"))
        .localCheckpoint() // eager: materializes AND flattens the plan
      changes = next.where(col("_changed")).count()
      labels = next.select(col("id"), col("comp"))
      iter += 1
    }
    edges.unpersist()
    if (changes != 0)
      throw new IllegalStateException(
        s"connectedComponents did not converge in $maxIters rounds — " +
          "the pair graph has a chain-shaped component far longer than any " +
          "near-dup structure; use connectedComponentsStar (O(log n) rounds " +
          "on any graph shape)")
    labels.select(col("id").as("doc_id"), col("comp").as("component_rep"))
  }

  /** Alternating large-star/small-star connected components (Kiveris,
    * Lattanzi, Mirrokni, Rastogi, Vassilvitskii — "Connected Components
    * in MapReduce and Beyond", SoCC 2014; the algorithm GraphFrames
    * ships): converges in O(log n) rounds on ANY graph shape, including
    * the diameter-n chains where [[connectedComponents]]' min-label
    * propagation needs O(diameter) rounds. Same output contract:
    * (doc_id, component_rep = component min) for every vertex in ≥1 pair.
    *
    * Per round, two half-steps of two hash-shuffles each (a groupBy for
    * the per-vertex min, a join to re-attach it) — the same shuffle
    * budget per round as min-label propagation, so the win is purely the
    * round count. Large-star hooks every neighbor LARGER than u onto
    * min(Γ(u) ∪ {u}), halving tall trees; small-star re-hooks every
    * smaller neighbor (and u itself) onto the local min, flattening
    * toward stars. The fixed point is a star per component rooted at the
    * component minimum.
    *
    * Convergence test, two modes behind `exactConvergence`:
    *  - `true` (default — the correctness reference): EXACT set equality
    *    against the previous round (count + except: two jobs/round on
    *    materialized data).
    *  - `false` (production — the GraphFrames-style cheap-signal
    *    heuristic): per round ONE aggregate job collects (edge count,
    *    XOR(xxh64(u)), XOR(xxh64(v))); an unchanged triple signals a
    *    candidate fixed point — which is then CONFIRMED with a single
    *    except before exiting. Net: one job
    *    per round instead of two, one except total instead of one per
    *    round, and the confirm step means the heuristic can never return
    *    a non-fixed-point (a pathological triple collision just costs
    *    one extra round). [[graft.DedupSpec]] asserts both modes emit
    *    identical components on clique/chain/self-loop fixtures.
    * Min-label remains the default in [[dedupGroups]]: near-dup
    * components are diameter-1–2 cliques where it terminates in 2–3
    * rounds; this is the adversarial-shape escape hatch. */
  def connectedComponentsStar(pairs: DataFrame, a: String = "doc_a",
                              b: String = "doc_b",
                              maxIters: Int = 50,
                              exactConvergence: Boolean = true): DataFrame = {
    // ONE scan of the (possibly expensive) pair pipeline, checkpointed
    // BEFORE the self-loop split: a self-pair (v, v) carries no
    // connectivity, but its vertex is still "in ≥1 pair" and owes a
    // trivial (v, v) output row — dropping it entirely would diverge
    // from connectedComponents and the walk-CTE oracle
    val edges0 = pairs
      .select(greatest(col(a), col(b)).as("u"), least(col(a), col(b)).as("v"))
      .distinct()
      .localCheckpoint()
    val selfVerts = edges0.where(col("u") === col("v"))
      .select(col("u").as("doc_id"))
    var edges = edges0.where(col("u") =!= col("v"))
    // heuristic-mode round fingerprint: ONE aggregate job — (count,
    // XOR(xxh64(u)), XOR(xxh64(v))). xxhash64 keeps it type-generic (ids
    // need not be numeric); bit_xor is order-independent and can never
    // overflow (a SUM would raise under ANSI mode). XOR's multiset
    // blindness is fine because an equal fingerprint only GATES the
    // exact except confirm below — it never certifies convergence alone.
    def signature(df: DataFrame): (Long, Long, Long) = {
      val r = df.agg(count(lit(1)),
        expr("bit_xor(xxhash64(u))"), expr("bit_xor(xxhash64(v))")).head()
      (r.getLong(0),
        if (r.isNullAt(1)) 0L else r.getLong(1),
        if (r.isNullAt(2)) 0L else r.getLong(2))
    }
    var prevCount = if (exactConvergence) edges.count() else -1L
    var prevSig: Option[(Long, Long, Long)] =
      if (exactConvergence) None else Some(signature(edges))
    var iter = 0
    var converged = false
    while (!converged && iter < maxIters) {
      // large-star over the SYMMETRIC neighbor set, built by exploding
      // both directions from one scan (see connectedComponents)
      val sym = edges.select(explode(array(
          struct(col("u"), col("v")),
          struct(col("v").as("u"), col("u").as("v")))).as("e"))
        .select(col("e.u").as("u"), col("e.v").as("v"))
      val lsMin = sym.groupBy("u").agg(least(min(col("v")), first(col("u"))).as("m"))
      val ls = sym.join(lsMin, "u")
        .where(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .distinct()
      // small-star on the large→small orientation (large-star output is
      // already (larger, smaller), so no re-orientation shuffle needed);
      // emits (v, m) for every small neighbor plus (u, m) for u itself —
      // both from ONE scan of the joined frame via explode
      val ssMin = ls.groupBy("u").agg(min(col("v")).as("m"))
      val ss = ls.join(ssMin, "u")
        .select(explode(array(
            struct(col("v").as("s"), col("m")),
            struct(col("u").as("s"), col("m")))).as("e"))
        .select(col("e.s").as("u"), col("e.m").as("v"))
        .where(col("u") =!= col("v"))
        .distinct()
        .localCheckpoint()
      if (exactConvergence) {
        // the previous round's count is carried forward — one convergence
        // job per round (plus the except), not two
        val ssCount = ss.count()
        converged = ssCount == prevCount && ss.except(edges).isEmpty
        prevCount = ssCount
      } else {
        // one fingerprint job per round; the exact except runs ONLY when
        // the fingerprint repeats (short-circuit), confirming the fixed
        // point before exit — never more than once on a converging run
        val sig = signature(ss)
        converged = prevSig.contains(sig) && ss.except(edges).isEmpty
        prevSig = Some(sig)
      }
      edges = ss
      iter += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponentsStar did not converge in $maxIters rounds " +
          "(needs O(log n); raise maxIters)")
    // fixed point = stars (child → component min): children label from
    // their edge, roots label themselves; self-pair-only vertices are
    // their own trivial components
    val star = edges.select(col("u").as("doc_id"), col("v").as("component_rep"))
      .union(edges.select(col("v").as("doc_id"), col("v").as("component_rep")).distinct())
    star.union(selfVerts
      .join(star, Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("doc_id").as("component_rep")))
  }

  /** End-to-end near-dup grouping: MinHash+LSH pairs → connected
    * components. The missing link between pair output and the
    * keep-one-rep-per-group decision a 100 TB dedup pass executes. */
  def dedupGroups(df: DataFrame, id: String, text: String,
                  shingleN: Int = 5, k: Int = 64, bands: Int = 16,
                  threshold: Double = 0.5,
                  dropShingles: Option[DataFrame] = None): DataFrame =
    connectedComponents(
      minhashPairs(df, id, text, shingleN, k, bands, threshold, dropShingles),
      pairsDistinct = true)

  /** SimHash bit width: 60 (not 64) so the packed value and every bit of
    * the md5-derived token hash stay strictly below 2⁶⁰ — non-negative
    * signed-int64 in both engines, making the hash oracle-checkable.
    * Hamming-distance quality at 60 vs 64 bits is indistinguishable for
    * near-dup detection. */
  val SimhashBits: Int = 60

  /** SimHash over tokens: per bit, sum ±1 votes from the token hash bit;
    * sign vector packed into a long. One groupBy per doc, the whole
    * 60-bit vote vector in a single [[ElementwiseLongAgg]] buffer. */
  def simhash(df: DataFrame, id: String, text: String): DataFrame = {
    val bits = SimhashBits
    val tok = ensureParallel(df, col(id)).select(col(id).as("doc_id"),
      explode(split(TextAnalysis.wsTrim(lower(col(text))), "\\s+")).as("t"))
    // fused native vote vector (see minhashSignatures for why not a
    // transform() lambda or a CreateArray of `bits` subexpressions)
    tok.select(col("doc_id"), SimhashVotes(col("t"), bits).as("v"))
      .groupBy("doc_id")
      .agg(ElementwiseAgg.elementwiseSum(col("v"), bits).as("s"))
      .select(col("doc_id"),
        aggregate(
          zip_with(col("s"), sequence(lit(0), lit(bits - 1)),
            (sv, b) => when(sv > 0, call_function("shiftleft", lit(1L), b)).otherwise(0L)),
          lit(0L), _ bitwiseOR _).as("simhash"))
  }

  /** Hamming distance between two packed simhashes. */
  def hamming(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  // ---- oracle twins ----------------------------------------------------
  // DuckDB SQL replicating the hash pipelines bit-for-bit. Generated here
  // (not hand-written in the registry) so the universal-hash coefficients
  // and bit widths are SHARED literals — one source of truth for engine
  // and oracle.

  /** Oracle for [[minhashPairs]]: same shingles → same 60-bit md5 base
    * hash → same (aᵢ·h+bᵢ) mod P signature → banding on the raw signature
    * slice (the engine bands on xxhash64 of the slice; collision sets are
    * identical modulo 2⁻⁶⁴ hash collisions) → same est_jaccard grid
    * (multiples of 1/k, exact in binary).
    *
    * `dropMinDfTopK = Some((minDf, topK))` replays the in-code
    * boilerplate mitigation: the drop list is re-derived exactly as
    * [[graft.queries.PipelineQueries.boilerplateOf]] does (distinct
    * (doc, shingle) pairs → df ≥ minDf → top-k by (df DESC, shingle)) and
    * ANTI JOINed out of the raw shingle stream before hashing — the
    * oracle twin of the `dropShingles` parameter. */
  def minhashPairsOracleSql(shingleN: Int = 5, k: Int = 64, bands: Int = 16,
                            threshold: Double = 0.5, seed: Long = 42L,
                            dropMinDfTopK: Option[(Int, Int)] = None): String = {
    val rows = k / bands
    val (as, bs) = universalCoeffs(k, seed)
    val values = (0 until k).map(i => s"($i, ${as(i)}, ${bs(i)})").mkString(", ")
    val dropCtes = dropMinDfTopK.map { case (minDf, topK) =>
      s"""dropl AS (SELECT shingle FROM (
         |    SELECT shingle, count(*) AS df
         |    FROM (SELECT DISTINCT doc_id, shingle FROM sh) GROUP BY shingle
         |    HAVING count(*) >= $minDf)
         |  ORDER BY df DESC, shingle LIMIT $topK),
         |shk AS (SELECT sh.doc_id, sh.shingle FROM sh ANTI JOIN dropl USING (shingle)),
         |""".stripMargin
    }.getOrElse("")
    val shSrc = if (dropMinDfTopK.isDefined) "shk" else "sh"
    s"""WITH toks AS (SELECT doc_id, string_split_regex(regexp_replace(text, '^\\s+|\\s+$$', '', 'g'), '\\s+') AS t FROM documents),
       |pos AS (SELECT doc_id, t, unnest(range(len(t)-${shingleN - 1})) AS i FROM toks WHERE len(t) >= $shingleN),
       |sh AS (SELECT doc_id, array_to_string(t[i+1:i+$shingleN], ' ') AS shingle FROM pos),
       |${dropCtes}h0 AS (SELECT doc_id, CAST(concat('0x', substr(md5(shingle),1,15)) AS BIGINT) % $P AS h FROM $shSrc),
       |c(i, a, b) AS (VALUES $values),
       |sig AS (SELECT doc_id, i, min((a * h + b) % $P) AS m FROM h0 CROSS JOIN c GROUP BY 1, 2),
       |bandsig AS (SELECT doc_id, i // $rows AS band, string_agg(m, ',' ORDER BY i) AS bs
       |            FROM sig GROUP BY 1, 2),
       |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |         FROM bandsig a JOIN bandsig b
       |           ON a.band = b.band AND a.bs = b.bs AND a.doc_id < b.doc_id),
       |est AS (SELECT c.doc_a, c.doc_b,
       |          CAST(sum(CASE WHEN sa.m = sb.m THEN 1 ELSE 0 END) AS DOUBLE) / $k AS est_jaccard
       |        FROM cand c
       |        JOIN sig sa ON sa.doc_id = c.doc_a
       |        JOIN sig sb ON sb.doc_id = c.doc_b AND sb.i = sa.i
       |        GROUP BY 1, 2)
       |SELECT doc_a, doc_b, est_jaccard FROM est WHERE est_jaccard >= $threshold""".stripMargin
  }

  /** Oracle for [[dedupGroups]]: the minhash-pair twin wrapped in a
    * recursive transitive-closure CTE — `walk` enumerates every label
    * reachable from each vertex over the symmetric edge set, so
    * `min(comp)` per vertex is exactly the component minimum the
    * engine's min-label propagation converges to. */
  def dedupGroupsOracleSql(shingleN: Int = 5, k: Int = 64, bands: Int = 16,
                           threshold: Double = 0.5, seed: Long = 42L): String = {
    val pairsSql = minhashPairsOracleSql(shingleN, k, bands, threshold, seed)
    s"""WITH RECURSIVE pairs AS (SELECT * FROM ($pairsSql) q),
       |edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
       |          UNION SELECT doc_b AS src, doc_a AS dst FROM pairs),
       |walk(id, comp) AS (
       |  SELECT src, src FROM edges
       |  UNION
       |  SELECT e.src, w.comp FROM edges e JOIN walk w ON e.dst = w.id)
       |SELECT id AS doc_id, min(comp) AS component_rep FROM walk GROUP BY id""".stripMargin
  }

  /** Oracle for [[graft.streaming.NearDupGate.batchDecision]] — the
    * streaming gate's single-batch admit rule on empty state: long docs
    * drop as non-minimum members of est-verified word-shingle MinHash
    * pair components; short docs (< shingleN tokens) drop as non-minimum
    * members of char-`charN`-gram pair components OR as non-minimum
    * exact whole-text-fingerprint copies. `docsSelect` is the SQL
    * producing the (doc_id, text) batch — the registry query constructs
    * short docs by truncation, engine and oracle identically. Both
    * signature chains are the [[minhashPairsOracleSql]] hash pipeline
    * (md5 → 60-bit → k universal re-hashes), banded on raw slice values
    * (only collisions matter). */
  def gateDecisionOracleSql(docsSelect: String, shingleN: Int = 5,
                            k: Int = 64, bands: Int = 16,
                            threshold: Double = 0.5, seed: Long = 42L,
                            charN: Int = 3): String = {
    val rows = k / bands
    val (as, bs) = universalCoeffs(k, seed)
    val values = (0 until k).map(i => s"($i, ${as(i)}, ${bs(i)})").mkString(", ")
    s"""WITH RECURSIVE docs AS ($docsSelect),
       |toks AS (SELECT doc_id, string_split_regex(regexp_replace(text, '^\\s+|\\s+$$', '', 'g'), '\\s+') AS t FROM docs),
       |c(i, a, b) AS (VALUES $values),
       |pos AS (SELECT doc_id, t, unnest(range(len(t)-${shingleN - 1})) AS i FROM toks WHERE len(t) >= $shingleN),
       |sh AS (SELECT doc_id, array_to_string(t[i+1:i+$shingleN], ' ') AS shingle FROM pos),
       |h0 AS (SELECT doc_id, CAST(concat('0x', substr(md5(shingle),1,15)) AS BIGINT) % $P AS h FROM sh),
       |sig AS (SELECT doc_id, i, min((a * h + b) % $P) AS m FROM h0 CROSS JOIN c GROUP BY 1, 2),
       |bandsig AS (SELECT doc_id, i // $rows AS band, string_agg(m, ',' ORDER BY i) AS bs FROM sig GROUP BY 1, 2),
       |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |         FROM bandsig a JOIN bandsig b ON a.band = b.band AND a.bs = b.bs AND a.doc_id < b.doc_id),
       |wpairs AS (SELECT x.doc_a, x.doc_b
       |           FROM cand x JOIN sig sa ON sa.doc_id = x.doc_a
       |           JOIN sig sb ON sb.doc_id = x.doc_b AND sb.i = sa.i
       |           GROUP BY 1, 2
       |           HAVING CAST(sum(CASE WHEN sa.m = sb.m THEN 1 ELSE 0 END) AS DOUBLE) / $k >= $threshold),
       |shortd AS (SELECT d.doc_id, d.text FROM docs d JOIN toks tt ON d.doc_id = tt.doc_id
       |           WHERE coalesce(len(tt.t) >= $shingleN, FALSE) = FALSE),
       |cpos AS (SELECT doc_id, text, unnest(range(1, greatest(len(text) - ${charN - 1}, 1) + 1)) AS i
       |         FROM shortd WHERE text IS NOT NULL AND len(text) >= 1),
       |csh AS (SELECT doc_id, substr(text, i, $charN) AS shingle FROM cpos),
       |ch0 AS (SELECT doc_id, CAST(concat('0x', substr(md5(shingle),1,15)) AS BIGINT) % $P AS h FROM csh),
       |csig AS (SELECT doc_id, i, min((a * h + b) % $P) AS m FROM ch0 CROSS JOIN c GROUP BY 1, 2),
       |cbandsig AS (SELECT doc_id, i // $rows AS band, string_agg(m, ',' ORDER BY i) AS bs FROM csig GROUP BY 1, 2),
       |ccand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |          FROM cbandsig a JOIN cbandsig b ON a.band = b.band AND a.bs = b.bs AND a.doc_id < b.doc_id),
       |cpairs AS (SELECT x.doc_a, x.doc_b
       |           FROM ccand x JOIN csig sa ON sa.doc_id = x.doc_a
       |           JOIN csig sb ON sb.doc_id = x.doc_b AND sb.i = sa.i
       |           GROUP BY 1, 2
       |           HAVING CAST(sum(CASE WHEN sa.m = sb.m THEN 1 ELSE 0 END) AS DOUBLE) / $k >= $threshold),
       |pairs AS (SELECT doc_a, doc_b FROM wpairs UNION SELECT doc_a, doc_b FROM cpairs),
       |edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
       |          UNION SELECT doc_b AS src, doc_a AS dst FROM pairs),
       |walk(id, comp) AS (
       |  SELECT src, src FROM edges
       |  UNION
       |  SELECT e.src, w.comp FROM edges e JOIN walk w ON e.dst = w.id),
       |pairdrop AS (SELECT id AS doc_id FROM walk GROUP BY id HAVING id <> min(comp)),
       |fp AS (SELECT doc_id, CAST(concat('0x', substr(md5(coalesce(lower(text), '')),1,15)) AS BIGINT) AS f FROM shortd),
       |fpdrop AS (SELECT doc_id FROM (
       |  SELECT doc_id, row_number() OVER (PARTITION BY f ORDER BY doc_id) AS rn FROM fp) WHERE rn > 1)
       |SELECT doc_id FROM docs
       |WHERE doc_id NOT IN (SELECT doc_id FROM pairdrop)
       |  AND doc_id NOT IN (SELECT doc_id FROM fpdrop)""".stripMargin
  }

  /** Oracle for [[simhash]]: same lowercase tokenization, same 60-bit md5
    * token hash, same ±1 bit votes, same sign packing. */
  def simhashOracleSql: String = {
    val bits = SimhashBits
    s"""WITH tok AS (SELECT doc_id, unnest(string_split_regex(regexp_replace(lower(text), '^\\s+|\\s+$$', '', 'g'), '\\s+')) AS t FROM documents),
       |h AS (SELECT doc_id, CAST(concat('0x', substr(md5(t),1,15)) AS BIGINT) AS h FROM tok),
       |votes AS (SELECT doc_id, b, sum(CASE WHEN (h >> CAST(b AS INT)) & 1 = 1 THEN 1 ELSE -1 END) AS s
       |          FROM h CROSS JOIN (SELECT unnest(range($bits)) AS b) bb GROUP BY 1, 2)
       |SELECT doc_id,
       |  CAST(sum(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << CAST(b AS INT)) ELSE 0 END) AS BIGINT) AS simhash
       |FROM votes GROUP BY doc_id""".stripMargin
  }
}
