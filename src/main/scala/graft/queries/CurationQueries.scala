package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables._
import graft.functions.{Dedup, Similarity, TextAnalysis => TA}
import PipelineQueries.{QUALITY_SQL, Stopwords, TOKS}

/** Corpus-curation operators — the decisions a training-data pipeline
  * makes AFTER the per-document statistics exist: what to hold out
  * (decontamination), what to keep (quality top-p, semantic dedup), how
  * to cut documents into training rows (chunking), and how much of each
  * source to sample (mixture planning).
  *
  * Shares the tokenization ([[PipelineQueries.TOKS]]), quality formula
  * ([[PipelineQueries.QUALITY_SQL]]), hash family
  * ([[TA.hashBucket]]) and shingle pipeline ([[Dedup.shingles]]) with
  * the rest of the registry — one source of truth per primitive, so an
  * engine/oracle pair can never drift on a shared definition.
  */
object CurationQueries {

  private def par(df: DataFrame): DataFrame =
    graft.functions.Parallelism.ensureParallel(df)

  // ---- planted exact-dup construction ---------------------------------
  // The dup-free fixture needs planted duplicates for the exact-dedup
  // operators (q_dedup_cap, q_dedup_incr, q_drop_reasons). ONE Scala
  // helper + ONE SQL CTE, spliced everywhere — a per-query copy of the
  // text or the modulus would let engine and oracle drift silently.

  private[queries] val PlantedBoiler =
    "boilerplate terms of service apply to this document"

  /** Every doc_id % 7 == 0 row's text replaced by [[PlantedBoiler]];
    * output is exactly (doc_id, text). */
  private[queries] def plantDups(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      when(col("doc_id") % 7 === 0, lit(PlantedBoiler))
        .otherwise(col("text")).as("text"))

  /** The identical construction as a spliceable oracle CTE body. */
  private[queries] val PLANT_CTE =
    s"""SELECT doc_id,
       |  CASE WHEN doc_id % 7 = 0 THEN '$PlantedBoiler' ELSE text END AS text
       |FROM documents""".stripMargin

  // ---- sliding-window chunking ----------------------------------------

  /** Tokens per chunk / tokens between chunk starts. Stride < size gives
    * the 10-token overlap that keeps passages intact across boundaries.
    * Spliced into BOTH the engine plan and the oracle SQL. */
  private val ChunkSize = 40
  private val ChunkStride = 30

  /** Sliding-window token chunking — the doc→training-row explosion step
    * (fixed token budget per row, overlapping windows so no passage is
    * split across a boundary unseen). Chunk starts are `0, stride,
    * 2·stride, …` while they index a token; the last chunk may be short.
    *
    * Scale shape: tokenize once per doc (the array is materialized below
    * the Generate, the [[Dedup.shinglesPos]] lesson), then a pure
    * per-row explode + slice — no shuffle anywhere, scan-speed at
    * 100 TB. Output grows ~len/stride rows per doc, the intended
    * fan-out. */
  def chunks(s: SparkSession, d: String): DataFrame =
    chunksOf(par(documents(s, d)))

  def chunksOf(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), TA.tokens(col("text")).as("toks"))
      .select(col("doc_id"), col("toks"),
        explode(sequence(lit(0), size(col("toks")) - 1, lit(ChunkStride)))
          .as("start"))
      .select(col("doc_id"),
        (col("start") / ChunkStride).cast("int").as("chunk_idx"),
        concat_ws(" ", slice(col("toks"), col("start") + 1, lit(ChunkSize)))
          .as("chunk_text"),
        least(size(col("toks")) - col("start"), lit(ChunkSize))
          .cast("int").as("n_chunk_tokens"))

  /** CDC boundary modulus: a token ends its chunk when its 60-bit hash
    * ≡ 0 (mod this) → expected chunk length ≈ CdcMask tokens. */
  private val CdcMask = 16

  /** Forced-cut cap (FastCDC's max-size rule): a boundary is also forced
    * at every CdcMaxLen-th absolute token position, so an adversarial
    * document whose tokens never hash to a boundary (one repeated
    * non-boundary token — real boilerplate does this) cannot degenerate
    * into a single unbounded chunk buffered in one aggregation group.
    * 16× the expected length, so random text virtually never hits it
    * ((15/16)^256 ≈ 6e-8 per position run); forced cuts are
    * offset-based, so shift-robustness is bounded rather than absolute —
    * exactly the trade FastCDC's max-size cut makes. */
  private val CdcMaxLen = 256

  /** CONTENT-DEFINED chunking (the FastCDC/LBFS boundary idea,
    * Muthitacharoen et al. 2001, applied at token granularity):
    * chunk boundaries fall AFTER tokens whose content hash ≡ 0 mod
    * [[CdcMask]], so boundaries are a function of the CONTENT, not the
    * offset — insert a sentence at the front and every chunk beyond the
    * next boundary is byte-identical to the unedited document's (the
    * property that makes chunk-level dedup robust to edits, which
    * fixed-stride q_chunk fundamentally cannot be: a one-token insertion
    * shifts every q_chunk window).
    *
    * Scale shape: ONE hash-exchange on doc_id serves both the
    * running-boundary-count window AND the (doc, chunk) aggregation
    * (subset rule); chunk text is reassembled order-exactly via
    * sort-by-position inside the aggregation, never a second window. */
  def cdcChunks(s: SparkSession, d: String): DataFrame =
    cdcChunksOf(graft.functions.Parallelism.ensureParallel(
      documents(s, d), col("doc_id")))

  def cdcChunksOf(docs: DataFrame): DataFrame = {
    val toks = docs.select(col("doc_id"),
      posexplode(TA.tokens(col("text"))).as(Seq("pos", "tok")))
    // boundary AFTER the matching token: the running count over STRICTLY
    // PRIOR positions means a boundary token is the last of its chunk
    val prior = Window.partitionBy("doc_id").orderBy("pos")
      .rowsBetween(Window.unboundedPreceding, -1)
    toks
      .withColumn("b",
        (Dedup.md5Hash60(col("tok")) % CdcMask === 0 ||
          (col("pos") + 1) % CdcMaxLen === 0).cast("int"))
      .withColumn("chunk_idx",
        coalesce(sum(col("b")).over(prior), lit(0)).cast("int"))
      .groupBy("doc_id", "chunk_idx")
      .agg(count(lit(1)).cast("int").as("n_chunk_tokens"),
        array_join(
          transform(array_sort(collect_list(struct(col("pos"), col("tok")))),
            _.getField("tok")), " ").as("chunk_text"))
  }

  // ---- fill-in-the-middle transform -------------------------------------

  /** FIM application rate, per-million (p = 0.5 — the published
    * apply-to-half default). Spliced into engine AND oracle. */
  private val FimRatePerM = 500000

  /** FILL-IN-THE-MIDDLE transform (Bavarian et al. 2022): select docs
    * at [[FimRatePerM]] and split each at two token cuts 0 ≤ a ≤ b ≤ n
    * into (prefix, middle, suffix) — the training row a code/infilling
    * model reorders to PSM (`<PRE> prefix <SUF> suffix <MID> middle`,
    * one literal concat away from these columns). Everything is
    * DETERMINISTIC where the paper uses rand(): selection is a salted
    * md5 bucket (`"fim:doc_id"`, independent of the mixture draws by
    * the salt), the cuts are two more salted hashes taken mod (n+1)
    * and mod (n−a+1) — integer arithmetic end-to-end, so both engines
    * agree bit-exactly and a re-run reproduces the dataset (the
    * reproducibility rand() can never give across engines). Unselected
    * docs pass through whole (prefix = text, cuts = n, empty
    * middle/suffix): one output row per doc either way.
    *
    * Scale shape: pure per-row projection — tokenize once, three
    * hashes, two array slices; no shuffle, no explode, scan-speed at
    * 100 TB. */
  def fimTransform(s: SparkSession, d: String): DataFrame =
    fimTransformOf(par(documents(s, d)))

  def fimTransformOf(docs: DataFrame, ratePerM: Int = FimRatePerM): DataFrame =
    docs
      .select(col("doc_id"), TA.tokens(col("text")).as("toks"))
      .withColumn("n", size(col("toks")))
      .withColumn("fim",
        when(TA.hashBucket(concat(lit("fim:"), col("doc_id").cast("string")),
          MixBuckets) < ratePerM, 1).otherwise(0))
      .withColumn("cut_a",
        when(col("fim") === 1,
          Dedup.md5Hash60(concat(lit("fim_a:"), col("doc_id").cast("string")))
            % (col("n") + 1))
          .otherwise(col("n").cast("long")))
      .withColumn("cut_b",
        when(col("fim") === 1,
          col("cut_a") +
            Dedup.md5Hash60(concat(lit("fim_b:"), col("doc_id").cast("string")))
              % (col("n") - col("cut_a") + 1))
          .otherwise(col("n").cast("long")))
      .select(col("doc_id"), col("fim"), col("cut_a"), col("cut_b"),
        concat_ws(" ", slice(col("toks"), lit(1), col("cut_a").cast("int")))
          .as("prefix"),
        concat_ws(" ", slice(col("toks"), (col("cut_a") + 1).cast("int"),
          (col("cut_b") - col("cut_a")).cast("int"))).as("middle"),
        concat_ws(" ", slice(col("toks"), (col("cut_b") + 1).cast("int"),
          (col("n") - col("cut_b")).cast("int"))).as("suffix"))

  // ---- span corruption ---------------------------------------------------

  /** A span STARTS at ~1/[[SpanStride]] of positions and runs
    * [[SpanLen]] tokens → expected corruption SpanLen/SpanStride = 15%,
    * the published T5 rate at mean span 3. Spliced into engine AND
    * oracle. */
  private val SpanStride = 20
  private val SpanLen = 3

  /** SPAN-CORRUPTION transform (the T5/UL2 denoising objective, Raffel
    * et al. 2020): mask spans of tokens and emit the training pair —
    * `inputs` with each masked run collapsed to one `<extra_id_k>`
    * sentinel, `targets` as the sentinels followed by the tokens they
    * hide. Where the paper samples spans with rand(), this derives
    * them deterministically: position p starts a span iff the salted
    * md5 of `"sc:doc:p"` clears 1/SpanStride, and a position is masked
    * iff any of the SpanLen positions ending at it started one —
    * adjacent/overlapping spans merge into one longer run (one
    * sentinel), which is exactly how the reference implementation
    * collapses them. Sentinels number 0,1,… per doc in position order.
    *
    * Scale shape: the start/masked/run-start flags are PURE PER-ROW
    * hash tests (SpanLen+1 salted hashes per position — no lag chain,
    * no self-join); the only window is the doc-partitioned sentinel
    * counter, and the reassembly groupBy reuses the same doc_id
    * exchange (the q_cdc_chunk subset rule: ONE shuffle end-to-end). */
  def spanCorrupt(s: SparkSession, d: String): DataFrame =
    spanCorruptOf(par(documents(s, d)))

  def spanCorruptOf(docs: DataFrame): DataFrame = {
    def startAt(p: Column): Column =
      p >= 0 && Dedup.md5Hash60(concat(lit("sc:"), col("doc_id").cast("string"),
        lit(":"), p.cast("string"))) % SpanStride === 0
    val toks = docs.select(col("doc_id"),
      posexplode(TA.tokens(col("text"))).as(Seq("pos", "tok")))
    val flags = toks
      .withColumn("masked", (0 until SpanLen)
        .map(i => startAt(col("pos") - i)).reduce(_ || _))
      .withColumn("masked_prev", (1 to SpanLen)
        .map(i => startAt(col("pos") - i)).reduce(_ || _))
      .withColumn("run_start", col("masked") && !col("masked_prev"))
    val w = Window.partitionBy("doc_id").orderBy("pos")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val sp = flags.withColumn("span_id",
      sum(col("run_start").cast("long")).over(w) - 1)
    val sentinel =
      concat(lit("<extra_id_"), col("span_id").cast("string"), lit(">"))
    def joined(elem: Column): Column =
      array_join(transform(array_sort(collect_list(elem)),
        _.getField("e")), " ")
    sp.groupBy("doc_id").agg(
      sum(col("masked").cast("long")).as("n_masked"),
      sum(col("run_start").cast("long")).as("n_spans"),
      joined(
        when(!col("masked"), struct(col("pos"), col("tok").as("e")))
          .when(col("run_start"), struct(col("pos"), sentinel.as("e"))))
        .as("inputs"),
      joined(
        when(col("run_start"), struct(col("pos"),
          concat(sentinel, lit(" "), col("tok")).as("e")))
          .when(col("masked"), struct(col("pos"), col("tok").as("e"))))
        .as("targets"))
  }

  // ---- quality top-p per language --------------------------------------

  /** Keep the top-`TopP` fraction by quality within each language — the
    * rank-based cut a mixing pipeline uses when absolute quality
    * thresholds would starve low-resource languages. percent_rank over
    * (quality DESC, doc_id ASC) is fully deterministic: the quality
    * doubles are bit-identical in both engines (q_text_quality's
    * established parity) and the id breaks ties totally. */
  private val TopP = 0.5
  /** Quality-bucket fan-out for the decomposed per-language rank. */
  private val TopPBuckets = 64

  def qualityTopP(s: SparkSession, d: String): DataFrame =
    qualityTopPOf(par(documents(s, d)))

  /** DECOMPOSED percent_rank — the [[tokenBudgetOf]] two-level pattern
    * applied to the per-language rank cut. The naive spelling (what the
    * oracle runs, and what [[qualityTopPWindowed]] keeps as the spec
    * reference) is `percent_rank() OVER (PARTITION BY lang ORDER BY
    * quality DESC, doc_id)` — at 100 TB with one dominant language that
    * window funnels most of the corpus through ONE task. Since the
    * order is total, the global per-language rank decomposes exactly:
    *   1. bucket by floor(quality·B) — monotone in the sort key, so
    *      rank ≡ (rows in higher buckets) + (rank within bucket);
    *   2. within-(lang, bucket) row_number — parallel across langs×B
    *      partitions regardless of language skew;
    *   3. per-(lang, bucket) counts (≤ |langs|·(B+1) rows) get the
    *      offset cumsum and the language total on the tiny aggregated
    *      frame, broadcast back;
    *   4. percent_rank = (offset + rn − 1)/(n_lang − 1) — the same two
    *      exactly-representable integers percent_rank divides, so the
    *      double is BIT-EQUAL to the window spelling (single-row
    *      languages are percent_rank's 0.0 special case).
    * Skewed quality histograms concentrate buckets; raise B (doc_id is
    * in the sort key, so correctness never depends on the histogram). */
  def qualityTopPOf(docs: DataFrame): DataFrame = {
    // NO cache on the two-consumer scored frame: the second consumer
    // (per-(lang, qb) counts) re-runs the scan + quality projection but
    // aggregates with map-side partials to ≤ |langs|·(B+1) rows — one
    // extra corpus pass, bounded output. The r5 spelling cached this
    // row-scale frame for the session instead (the clearCache footgun;
    // ADVICE also noted the lazy cache couldn't even guarantee single
    // computation under concurrent stage scheduling) — at 100 TB an
    // extra streaming aggregation pass is the right trade against
    // row-scale resident storage. [[graft.CacheOwnershipSpec]] pins
    // that nothing stays persisted after the action.
    val scored = docs
      .select(col("doc_id"), col("lang"),
        TA.qualityScore(col("text"), Stopwords).as("quality"))
      .withColumn("qb", floor(col("quality") * TopPBuckets).cast("int"))
    val within = scored.withColumn("_rn", row_number().over(
      Window.partitionBy("lang", "qb")
        .orderBy(col("quality").desc, col("doc_id").asc)))
    val offsets = scored.groupBy("lang", "qb")
      .agg(count(lit(1)).as("_bn"))
      .withColumn("_offset",
        coalesce(sum(col("_bn")).over(
          Window.partitionBy("lang").orderBy(col("qb").desc)
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("_n", sum(col("_bn")).over(Window.partitionBy("lang")))
      .select(col("lang").as("_o_lang"), col("qb").as("_o_qb"),
        col("_offset"), col("_n"))
    // null-safe on BOTH keys: a null lang (its own percent_rank
    // partition) or null quality (null bucket, ranked NULLS-LAST like
    // the DESC window) must re-join its offsets — a USING join would
    // silently DROP those rows while the windowed spelling ranks them
    within.join(broadcast(offsets),
        col("lang") <=> col("_o_lang") && col("qb") <=> col("_o_qb"))
      .withColumn("q_rank",
        when(col("_n") === 1, lit(0.0))
          .otherwise((col("_offset") + col("_rn") - 1).cast("double") /
            (col("_n") - 1).cast("double")))
      .where(col("q_rank") <= TopP)
      .select(col("doc_id"), col("lang"), col("quality"), col("q_rank"))
  }

  /** The single-window spelling — kept as the spec reference
    * ([[graft.CurationSpec]] pins decomposed ≡ windowed; the DuckDB
    * oracle runs the same percent_rank SQL). */
  def qualityTopPWindowed(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), col("lang"),
        TA.qualityScore(col("text"), Stopwords).as("quality"))
      .withColumn("q_rank", percent_rank().over(
        Window.partitionBy("lang").orderBy(col("quality").desc, col("doc_id").asc)))
      .where(col("q_rank") <= TopP)

  // ---- mixture planning ------------------------------------------------

  /** Per-source mixture plan: document/token counts, the source's share
    * of corpus tokens, and the deterministic sampling rate that flattens
    * the mixture to uniform-by-source token mass (capped at 1 — a
    * source below its target cannot be upsampled by a filter).
    *
    * Scale shape: one map-side-combined groupBy(source); the unpartitioned
    * window runs over the AGGREGATED frame — one row per source, driver-
    * scale cardinality — never over raw documents. */
  def mixPlan(s: SparkSession, d: String): DataFrame =
    mixPlanOf(par(documents(s, d)))

  /** `nTok` is the per-document token-count expression the mixture is
    * DENOMINATED in — whitespace words by default, the trained
    * tokenizer's subword count for the BPE-denominated twin
    * (`q_mix_plan_bpe` passes [[graft.functions.Bpe.docTokenCountExpr]]
    * under the stored merges: every real budget/mixture share is
    * counted in tokenizer tokens, not words). */
  def mixPlanOf(docs: DataFrame,
                nTok: Column = TA.tokenCount(col("text"))): DataFrame = {
    val w = Window.partitionBy() // post-agg frame: |sources| rows
    docs
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(nTok).as("n_tokens"))
      .withColumn("total_tokens", sum(col("n_tokens")).over(w))
      .withColumn("n_sources", count(lit(1)).over(w))
      .select(col("source"), col("n_docs"), col("n_tokens"),
        (col("n_tokens").cast("double") / col("total_tokens"))
          .as("token_share"),
        least(lit(1.0),
          col("total_tokens").cast("double") / (col("n_sources") * col("n_tokens")))
          .as("sampling_rate"))
  }

  /** Hash resolution for mixture application: rates are per-million, so
    * the keep test is integral-vs-double with exact doubles on both
    * sides. */
  private val MixBuckets = 1000000

  /** APPLY the mixture plan: deterministically downsample each source to
    * its [[mixPlanOf]] sampling rate via the md5 hash-bucket family —
    * keep a doc iff bucket(doc_id) < rate·10⁶. Reproducible across
    * engines and runs (unlike `rand()`/`TABLESAMPLE`), uncorrelated with
    * id order, and exact on both sides because the rate doubles already
    * have oracle bit-parity (q_mix_plan's established hash match).
    *
    * Scale shape: the plan side aggregates to |sources| rows and
    * BROADCASTS back; the apply side is one scan + a per-row hash
    * comparison — no shuffle of the corpus. */
  def mixApply(s: SparkSession, d: String): DataFrame =
    mixApplyOf(par(documents(s, d)))

  def mixApplyOf(docs: DataFrame,
                 nTok: Column = TA.tokenCount(col("text"))): DataFrame = {
    val rates = mixPlanOf(docs, nTok).select(col("source"), col("sampling_rate"))
    docs.join(broadcast(rates), Seq("source"))
      .where(TA.hashBucket(col("doc_id"), MixBuckets).cast("double") <
        col("sampling_rate") * MixBuckets)
      .select(col("doc_id"), col("source"))
  }

  /** TEMPERATURE-scaled mixture plan (T = 2) — the reweighting
    * multilingual/multi-source pipelines actually run (the XLM-R /
    * mT5 exponent trick): sample source i with token mass ∝ share^(1/T)
    * so low-resource sources stop being drowned without flattening to
    * uniform (the [[mixPlanOf]] extreme). Downsample-only realization:
    * rate_i = (share_i)^(1/T − 1) normalized so the SMALLEST source
    * keeps everything; at T = 2 that collapses to
    * `sqrt(min_tokens / n_tokens_i)` — total cancels, and the whole
    * rate is one exact-int division + one IEEE sqrt (both correctly
    * rounded), so the doubles are BIT-IDENTICAL cross-engine with no
    * pow() in sight. Same |sources|-row post-agg frame as the flat
    * plan. */
  def mixTempPlanOf(docs: DataFrame,
                    nTok: Column = TA.tokenCount(col("text"))): DataFrame = {
    val w = Window.partitionBy() // post-agg frame: |sources| rows
    docs
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(nTok).as("n_tokens"))
      .withColumn("total_tokens", sum(col("n_tokens")).over(w))
      .withColumn("min_tokens", min(col("n_tokens")).over(w))
      .select(col("source"), col("n_docs"), col("n_tokens"),
        (col("n_tokens").cast("double") / col("total_tokens"))
          .as("token_share"),
        sqrt(col("min_tokens").cast("double") / col("n_tokens"))
          .as("temp_rate"))
  }

  def mixTempPlan(s: SparkSession, d: String): DataFrame =
    mixTempPlanOf(par(documents(s, d)))

  /** Apply the temperature plan — the [[mixApplyOf]] hash-bucket
    * machinery over [[mixTempPlanOf]]'s rates: exact on both sides
    * because the T=2 rate doubles are bit-identical (sqrt of an exact
    * integer ratio). */
  def mixTempApply(s: SparkSession, d: String): DataFrame =
    mixTempApplyOf(par(documents(s, d)))

  def mixTempApplyOf(docs: DataFrame,
                     nTok: Column = TA.tokenCount(col("text"))): DataFrame = {
    val rates = mixTempPlanOf(docs, nTok).select(col("source"), col("temp_rate"))
    docs.join(broadcast(rates), Seq("source"))
      .where(TA.hashBucket(col("doc_id"), MixBuckets).cast("double") <
        col("temp_rate") * MixBuckets)
      .select(col("doc_id"), col("source"))
  }

  /** REPEAT mixture plan — the upsampling half the filter-only mixtures
    * can't express. [[mixPlanOf]] caps every rate at 1 because a WHERE
    * can only drop rows; real recipes give small high-quality sources
    * MULTIPLE EPOCHS (Wikipedia/books at 2-5 passes vs <1 for crawl).
    * Same uniform-by-source token target `total div n_sources`,
    * realized as `epochs_full` whole passes plus a fractional pass at
    * `frac_rate`: `epochs_full = target div n_tokens` (0 for a source
    * bigger than its target — the plain downsample falls out as the
    * epochs_full = 0 case), `frac_rate = (target mod n_tokens) /
    * n_tokens`. All-integer div/mod until one exact double division, so
    * the rates are BIT-IDENTICAL cross-engine (the q_mix_temp
    * discipline). Same |sources|-row post-agg frame as the flat plan. */
  def mixRepeatPlanOf(docs: DataFrame,
                      nTok: Column = TA.tokenCount(col("text"))): DataFrame = {
    val w = Window.partitionBy() // post-agg frame: |sources| rows
    docs
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(nTok).as("n_tokens"))
      .withColumn("total_tokens", sum(col("n_tokens")).over(w))
      .withColumn("n_sources", count(lit(1)).over(w))
      .withColumn("target", expr("total_tokens div n_sources"))
      .select(col("source"), col("n_docs"), col("n_tokens"),
        (col("n_tokens").cast("double") / col("total_tokens"))
          .as("token_share"),
        expr("target div n_tokens").as("epochs_full"),
        ((col("target") % col("n_tokens")).cast("double") / col("n_tokens"))
          .as("frac_rate"))
  }

  def mixRepeatPlan(s: SparkSession, d: String): DataFrame =
    mixRepeatPlanOf(par(documents(s, d)))

  /** APPLY the repeat plan: every doc emits epochs 0..epochs_full-1
    * whole, plus epoch epochs_full iff its EPOCH-SALTED hash bucket
    * clears frac_rate — the salt (`"doc_id:epoch"` through the same
    * md5 family) makes the fractional pass a fresh deterministic draw
    * rather than a rerun of the mixApply subset, while staying
    * reproducible and engine-independent. Output one row per (doc,
    * epoch) copy — the repetition schedule a pack writer consumes.
    *
    * Scale shape: the plan aggregates to |sources| rows and BROADCASTS
    * back; the apply side is one scan + a BOUNDED per-row explode
    * (epochs_full+1 copies — the source imbalance ratio, single digits
    * in real recipes) + a per-row hash test. No shuffle of the corpus. */
  def mixRepeatApply(s: SparkSession, d: String): DataFrame =
    mixRepeatApplyOf(par(documents(s, d)))

  def mixRepeatApplyOf(docs: DataFrame,
                       nTok: Column = TA.tokenCount(col("text"))): DataFrame = {
    val plan = mixRepeatPlanOf(docs, nTok)
      .select(col("source"), col("epochs_full"), col("frac_rate"))
    docs.join(broadcast(plan), Seq("source"))
      .select(col("doc_id"), col("source"), col("epochs_full"), col("frac_rate"),
        explode(sequence(lit(0L), col("epochs_full"))).as("epoch"))
      .where(col("epoch") < col("epochs_full") ||
        TA.hashBucket(concat(col("doc_id").cast("string"), lit(":"),
          col("epoch").cast("string")), MixBuckets).cast("double") <
          col("frac_rate") * MixBuckets)
      .select(col("doc_id"), col("source"), col("epoch"))
  }

  // ---- benchmark decontamination ---------------------------------------

  /** Hash bucket (mod [[BenchBuckets]]) whose documents form the held-out
    * "benchmark" set — the same md5 family as q_hash_split, so
    * membership is deterministic and engine-independent. */
  private[graft] val BenchBuckets = 16
  private[graft] val BenchBucket = 15

  private lazy val DecontaminateXSql: String =
      s"""WITH train AS (SELECT doc_id, text FROM documents
         |  WHERE CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
         |          % $BenchBuckets <> $BenchBucket),
         |benchd AS (SELECT doc_id, text FROM documents
         |  WHERE CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
         |          % $BenchBuckets = $BenchBucket),
         |ttoks AS (SELECT doc_id, $TOKS AS t FROM train),
         |tpos AS (SELECT doc_id, t, unnest(range(len(t)-4)) AS i FROM ttoks WHERE len(t) >= 5),
         |tsh AS (SELECT DISTINCT doc_id, array_to_string(t[i+1:i+5], ' ') AS shingle FROM tpos),
         |btoks AS (SELECT doc_id, $TOKS AS t FROM benchd),
         |bpos AS (SELECT doc_id, t, unnest(range(len(t)-4)) AS i FROM btoks WHERE len(t) >= 5),
         |bsh AS (SELECT DISTINCT array_to_string(t[i+1:i+5], ' ') AS shingle FROM bpos),
         |j AS (SELECT t.doc_id, b.shingle AS hit
         |      FROM tsh t LEFT JOIN bsh b ON t.shingle = b.shingle)
         |SELECT doc_id,
         |  CAST(count(*) AS BIGINT) AS n_shingles,
         |  CAST(count(hit) AS BIGINT) AS n_hits,
         |  CAST(count(hit) AS DOUBLE) / count(*) AS contam_frac
         |FROM j GROUP BY doc_id HAVING count(hit) > 0""".stripMargin


  /** Benchmark decontamination: flag training documents that share any
    * 5-token shingle with the held-out set — the n-gram-overlap check
    * every serious pre-training pipeline runs against its eval suites
    * (the industry norm is 8–13-gram; the fixture docs are short, so the
    * registry uses the corpus-wide n=5 shingle pipeline every other
    * dedup operator shares). Output: one row per CONTAMINATED train doc
    * with its distinct-shingle count, hit count, and hit fraction.
    *
    * Scale shape: the benchmark side of the join is the held-out suite —
    * small by construction (eval sets are MBs against a 100 TB corpus) —
    * so its distinct shingles BROADCAST and the train side never
    * shuffles for the probe; the per-doc counts then aggregate on one
    * doc_id hash-shuffle of (doc, shingle) pairs with map-side partial
    * counts. */
  def decontaminate(s: SparkSession, d: String): DataFrame =
    decontaminateOf(par(documents(s, d)))

  /** Single-corpus twin (fixture shape): the bench set is a hash bucket
    * of the SAME corpus. Bucket membership is per-document, so the
    * split COMMUTES with shingling — splitting documents first and
    * shingling each side through the production two-corpus path
    * ([[decontaminateAgainst]]) yields the identical two shingle sets
    * the r5 spelling built by shingling once and splitting after, with
    * the corpus-scale session cache (and its clearCache contract) gone
    * entirely. Measured CHEAPER than the cached spelling too
    * (BENCH_r05: the split form q_decontaminate_x ran 0.94 s vs this
    * twin's cached 1.14 s). The single-frame signature is kept for the
    * registry/oracle continuity of q_decontaminate. */
  def decontaminateOf(docs: DataFrame): DataFrame = {
    val bucket = TA.hashBucket(col("doc_id"), BenchBuckets)
    decontaminateAgainst(
      docs.where(bucket =!= BenchBucket),
      docs.where(bucket === BenchBucket))
  }

  /** TWO-CORPUS benchmark decontamination — the production signature a
    * real pipeline calls: `train` is the 100 TB corpus, `bench` the
    * held-out eval suite (MBs by construction). The bench side's distinct
    * shingles BROADCAST; the train side is ONE shingle pipeline feeding
    * one doc-keyed aggregation with map-side partial counts — no cache,
    * no construction-time jobs, nothing corpus-scale held resident.
    * Output contract matches [[decontaminateOf]]: one row per
    * contaminated train doc with shingle/hit counts and the hit
    * fraction. */
  def decontaminateAgainst(train: DataFrame, bench: DataFrame,
                           n: Int = 5): DataFrame =
    contaminated(
      Dedup.shingles(train, "doc_id", "text", n),
      Dedup.shingles(bench, "doc_id", "text", n).select("shingle").distinct())

  /** Shared probe+aggregate tail: left-join train (doc, shingle) pairs
    * against the broadcast bench shingle set, count hits per doc. */
  private def contaminated(trainSh: DataFrame, benchSh: DataFrame): DataFrame =
    trainSh
      .join(broadcast(benchSh.withColumn("hit", lit(1))), Seq("shingle"), "left")
      .groupBy("doc_id")
      // count(lit) = all distinct shingles; count(hit) skips the nulls
      // the left join leaves on unmatched shingles
      .agg(count(lit(1)).as("n_shingles"), count(col("hit")).as("n_hits"))
      .where(col("n_hits") > 0)
      .select(col("doc_id"), col("n_shingles"), col("n_hits"),
        (col("n_hits").cast("double") / col("n_shingles")).as("contam_frac"))

  /** Registry form of [[decontaminateAgainst]]: the fixture's bench
    * bucket split into a SEPARATE input frame first, then the two-input
    * API — same answer as q_decontaminate (the split commutes with
    * shingling), but exercising the no-cache broadcast-bench path the
    * 100 TB design calls for. */
  def decontaminateX(s: SparkSession, d: String): DataFrame = {
    val docs = par(documents(s, d))
    val bucket = TA.hashBucket(col("doc_id"), BenchBuckets)
    decontaminateAgainst(
      docs.where(bucket =!= BenchBucket),
      docs.where(bucket === BenchBucket))
  }

  /** The LARGE-BENCH decontamination path: when the eval suite's
    * distinct shingle set outgrows a comfortable broadcast (a full
    * eval-harness battery is GBs of shingle strings), broadcast an
    * 8-MB-capped BLOOM of the shingle hashes instead
    * ([[graft.functions.Bloom]] — codegen'd native expressions, the
    * `q_bloom_semi` machinery), prune the train shingle stream
    * map-side (~98%+ of shingles drop at the default sizing), and
    * exact-verify ONLY the survivors against the bench set with a
    * string-keyed semi-join. No false negatives (Bloom guarantee) and
    * the verify removes false positives, so the result is EXACTLY
    * [[decontaminateAgainst]]'s — the same oracle pins it. Totals
    * (n_shingles) come from the unpruned stream: one map-side-combined
    * per-doc count, no join. */
  def decontaminateBloomAgainst(train: DataFrame, bench: DataFrame,
                                n: Int = 5, mBits: Int = 1 << 16,
                                k: Int = 3): DataFrame = {
    import graft.functions.Bloom
    val trainSh = Dedup.shingles(train, "doc_id", "text", n)
    val benchSh = Dedup.shingles(bench, "doc_id", "text", n)
      .select("shingle").distinct()
    // ONE aggregate job: bloom words + a distinct estimate, rebuilt
    // once at sizedBits if the floor would saturate (the bloomSemiJoin
    // sizing discipline)
    val hashed = benchSh.select(Dedup.md5Hash60(col("shingle")).as("h"))
    val first = hashed.select(Bloom.bloomAgg(col("h"), mBits, k).as("w"),
      approx_count_distinct(col("h")).as("n")).head()
    val need = Bloom.sizedBits(first.getLong(1), mBits)
    val words = if (need <= mBits) first.getSeq[Long](0).toArray
      else hashed.select(Bloom.bloomAgg(col("h"), need, k).as("w"))
        .head().getSeq[Long](0).toArray
    val totals = trainSh.groupBy("doc_id")
      .agg(count(lit(1)).as("n_shingles"))
    val hits = trainSh
      .where(Bloom.contains(Dedup.md5Hash60(col("shingle")), words, k))
      .join(benchSh, Seq("shingle"), "left_semi")
      .groupBy("doc_id").agg(count(lit(1)).as("n_hits"))
    totals.join(hits, Seq("doc_id"))
      .select(col("doc_id"), col("n_shingles"), col("n_hits"),
        (col("n_hits").cast("double") / col("n_shingles")).as("contam_frac"))
  }

  /** The bloom-pruned registry row — same fixture split as
    * `q_decontaminate_x`, same oracle: the pruned path must be
    * indistinguishable from the broadcast-exact one. */
  def decontaminateBloom(s: SparkSession, d: String): DataFrame = {
    val docs = par(documents(s, d))
    val bucket = TA.hashBucket(col("doc_id"), BenchBuckets)
    decontaminateBloomAgainst(
      docs.where(bucket =!= BenchBucket),
      docs.where(bucket === BenchBucket))
  }

  /** Persist a bench set's distinct shingle fingerprints — the
    * decontamination artifact: bench sets are STATIC (a fixed eval
    * suite) while training corpora churn, so shingling the bench once
    * and probing the stored set per corpus batch is the production
    * shape — the `q_sim_*_probe` / `q_bm25_stored` write-once
    * convention applied to decontamination. The artifact is the
    * distinct-shingle set only (compact: ≈ bench token count rows),
    * broadcast at probe time. */
  def benchShingleArtifacts(bench: DataFrame, dir: String,
                            n: Int = 5): Unit =
    Dedup.shingles(bench, "doc_id", "text", n)
      .select("shingle").distinct()
      .write.mode("overwrite").parquet(s"$dir/bench_shingles")

  /** Decontaminate `train` against a PERSISTED bench shingle set
    * ([[benchShingleArtifacts]]) — zero bench-side compute per run;
    * identical scoring tail to [[decontaminateAgainst]], so the stored
    * path is oracle-pinned to `q_decontaminate_x`'s exact SQL. */
  def decontaminateFromDir(train: DataFrame, dir: String,
                           n: Int = 5): DataFrame =
    contaminated(
      Dedup.shingles(train, "doc_id", "text", n),
      parquet(train.sparkSession, s"$dir/bench_shingles"))

  /** The stored-artifact registry row: bench shingles write once per
    * (corpus fingerprint, JVM); every later call probes the stored
    * set. Same oracle as `q_decontaminate_x`. */
  def decontaminateStored(s: SparkSession, d: String): DataFrame = {
    val docs = par(documents(s, d))
    val bucket = TA.hashBucket(col("doc_id"), BenchBuckets)
    val dir = PipelineQueries.cachedArtifacts(
        s"decon:$d:${PipelineQueries.corpusFingerprintOf(s, d, "documents")}") {
      dir => benchShingleArtifacts(docs.where(bucket === BenchBucket), dir)
    }
    decontaminateFromDir(docs.where(bucket =!= BenchBucket), dir)
  }

  // ---- drop-reason audit -------------------------------------------------

  /** Quality floor shared by the audit and the pipeline compositions. */
  private[graft] val AuditQualityMin = 0.5

  /** Per-document curation AUDIT — the observability layer a production
    * pipeline runs next to its yield numbers: every document gets the
    * FIRST gate that would drop it, in the pipeline's evaluation order
    * (bench holdout → exact dedup → decontamination → quality floor), or
    * `kept`. Drop-reason attribution is how a data team explains a
    * yield change ("the new crawl is 40% exact dups, not lower
    * quality") without re-running the pipeline once per gate.
    *
    * Planted construction: the q_dedup_cap boilerplate replacement
    * (every doc_id % 7 == 0 shares one text) gives the exact-dup gate
    * real work on the dup-free fixture; all gates see the SAME planted
    * text, in engine and oracle alike.
    *
    * Scale shape: each gate contributes only a KEY set (keeper ids,
    * contaminated ids) left-joined onto the train scan — the quality
    * expression evaluates inline; nothing materializes more than
    * (doc_id, flag) pairs per gate, and the statuses are disjoint by
    * construction of the CASE order. */
  def dropReasons(s: SparkSession, d: String): DataFrame =
    dropReasonsOf(plantDups(par(documents(s, d))))

  def dropReasonsOf(docs: DataFrame): DataFrame = {
    val bench = TA.hashBucket(col("doc_id"), BenchBuckets) === BenchBucket
    val train = docs.where(!bench)
    // exact dedup runs over the TRAIN side only (bench is held out
    // before any mutation of the training pool)
    val keepers = Dedup.dedupKeepRows(train, "doc_id", "text")
      .select(col("doc_id"), lit(1).as("_keeper"))
    val contaminated = decontaminateOf(docs)
      .select(col("doc_id"), lit(1).as("_contam"))
    train
      .join(keepers, Seq("doc_id"), "left")
      .join(contaminated, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("_keeper").isNull, lit("exact_dup"))
          .when(col("_contam") === 1, lit("contaminated"))
          .when(TA.qualityScore(col("text"), Stopwords) < AuditQualityMin,
            lit("low_quality"))
          .otherwise(lit("kept")).as("status"))
      .union(docs.where(bench).select(col("doc_id"), lit("bench").as("status")))
  }

  /** The CURATION RUN REPORT — the per-feed summary a pipeline
    * operator actually reads after a pass: the [[dropReasons]] gate
    * battery rolled up to (source, status) counts, so a feed whose
    * exact-dup or contamination rate spiked is one row, not a
    * doc-level audit scan. Scale shape: the doc-level statuses reduce
    * map-side into |sources|×|statuses| rows — the report is bounded
    * metadata no matter the corpus. */
  def dropReportQ(s: SparkSession, d: String): DataFrame =
    dropReasons(s, d)
      .join(documents(s, d).select(col("doc_id"), col("source")), Seq("doc_id"))
      .groupBy("source", "status")
      .agg(count(lit(1)).as("n"))

  /** CROSS-MODAL drop-reason audit — [[dropReasonsOf]]'s gate battery
    * with the SEMANTIC decontamination gate spliced between the shingle
    * check and the quality floor: bench holdout → exact dedup →
    * shingle contamination → embedding contamination → quality floor →
    * kept. The holdout population is ONE hash family across both
    * modalities (doc_id and vec_id share ids and the md5 bucket), so
    * "bench" means the same documents whether probed by text shingles
    * or by embedding cosine — the audit a pipeline runs when its eval
    * suite leaks through paraphrase, not verbatim copy.
    *
    * Scale shape: each gate contributes a (doc_id, flag)-pair left
    * join (keepers and shingle-contam as in [[dropReasonsOf]]; the
    * semantic set from the zero-shuffle fused [[Similarity.decontaminateSem]]
    * scan); statuses stay disjoint by CASE order. */
  def dropReasonsSem(s: SparkSession, d: String): DataFrame = {
    val docs = plantDups(par(documents(s, d)))
    val bench = TA.hashBucket(col("doc_id"), BenchBuckets) === BenchBucket
    val train = docs.where(!bench)
    val keepers = Dedup.dedupKeepRows(train, "doc_id", "text")
      .select(col("doc_id"), lit(1).as("_keeper"))
    val contaminated = decontaminateOf(docs)
      .select(col("doc_id"), lit(1).as("_contam"))
    val emb = embeddings(s, d).withColumn("embedding",
      Similarity.requireWidth(col("embedding")))
    val ebucket = TA.hashBucket(col("vec_id"), PipelineQueries.SemBenchBuckets)
    val semContam = Similarity.decontaminateSem(
        emb.where(ebucket =!= PipelineQueries.SemBenchBucket),
        emb.where(ebucket === PipelineQueries.SemBenchBucket),
        "vec_id", "embedding", PipelineQueries.SemDeconMinCos)
      .select(col("vec_id").as("doc_id"), lit(1).as("_semc"))
    train
      .join(keepers, Seq("doc_id"), "left")
      .join(contaminated, Seq("doc_id"), "left")
      .join(semContam, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("_keeper").isNull, lit("exact_dup"))
          .when(col("_contam") === 1, lit("contaminated"))
          .when(col("_semc") === 1, lit("sem_contaminated"))
          .when(TA.qualityScore(col("text"), Stopwords) < AuditQualityMin,
            lit("low_quality"))
          .otherwise(lit("kept")).as("status"))
      .union(docs.where(bench).select(col("doc_id"), lit("bench").as("status")))
  }

  // ---- capped soft dedup ----------------------------------------------

  /** Copies kept per exact fingerprint. */
  private val DupCap = 2

  /** Soft dedup: keep up to [[DupCap]] copies per exact fingerprint —
    * the capped variant pipelines use when some duplication is signal
    * (a document repeated across crawl dumps is evidence of quality,
    * but a million copies is boilerplate). The fixture corpus has no
    * exact dups, so the shared [[plantDups]] construction plants them —
    * the q_pii_scrub pattern: engine and oracle construct the IDENTICAL
    * input and the cap semantics are compared.
    *
    * Scale shape: ONE fingerprint-keyed window (hash-shuffle on fp,
    * in-partition sort by id) over (fp, id) pairs — document text never
    * sorts through the exchange. */
  def dedupCap(s: SparkSession, d: String): DataFrame =
    dedupCapOf(par(documents(s, d)))

  def dedupCapOf(docs: DataFrame): DataFrame =
    plantDups(docs)
      .select(col("doc_id"), md5(lower(col("text"))).as("fp"))
      .withColumn("copy_rank", row_number().over(
        Window.partitionBy("fp").orderBy("doc_id")))
      .where(col("copy_rank") <= DupCap)

  // ---- token-budget selection -----------------------------------------

  /** Token budget for [[tokenBudget]] — roughly half the sf0.01 corpus
    * token mass, so the boundary lands mid-corpus and both the kept and
    * cut sides are non-trivial. */
  private val TokenBudget = 6000L
  /** Quality-bucket fan-out for the distributed prefix sum. */
  private val BudgetBuckets = 64

  /** Greedy token-budget selection: take documents in quality order
    * (best first, doc_id tie-break) until the cumulative token count
    * exceeds the budget — the "fill the training mix from the top"
    * selection.
    *
    * The naive spelling is `sum(n_tokens) OVER (ORDER BY quality DESC,
    * doc_id)` — an UNPARTITIONED ordered window, which Spark executes in
    * ONE partition: the whole corpus funnels through a single task, the
    * canonical scale-killer. This operator instead computes the SAME
    * exact prefix sum as a two-level decomposition (the distributed
    * prefix-sum pattern):
    *   1. bucket by floor(quality·B) — monotone in quality, so global
    *      order ≡ (bucket DESC, quality DESC, doc_id);
    *   2. within-bucket running sums via a window PARTITIONED by bucket
    *      (parallel across B buckets);
    *   3. per-bucket totals (≤ B+1 rows) get an ordered offset cumsum on
    *      the tiny aggregated frame, broadcast-joined back;
    *   4. cum = bucket offset + within-bucket running sum — bit-equal to
    *      the single-window spelling, which is exactly what the oracle
    *      runs in DuckDB.
    * Skewed quality distributions concentrate buckets; raise B or salt
    * equal-quality runs (doc_id is already in the sort key, so
    * correctness never depends on the bucket histogram). */
  def tokenBudget(s: SparkSession, d: String): DataFrame =
    tokenBudgetOf(par(documents(s, d)))

  /** `nTok` swaps the budget's denomination — whitespace words by
    * default, the trained tokenizer's subword count for
    * `q_token_budget_bpe` (the number a real training-mix budget is
    * actually stated in). */
  def tokenBudgetOf(docs: DataFrame, budget: Long = TokenBudget,
                    nTok: Column = TA.tokenCount(col("text"))): DataFrame = {
    // NO cache (the qualityTopPOf trade, same reasoning): the offsets
    // branch re-runs the regex-heavy score/tokenize scan but aggregates
    // with map-side partials straight to ≤ B+1 rows — one extra
    // streaming pass instead of a row-scale frame held resident for the
    // session behind a clearCache contract. CacheOwnershipSpec pins
    // that no persisted storage outlives the action.
    val scored = docs.select(col("doc_id"),
      TA.qualityScore(col("text"), Stopwords).as("quality"),
      nTok.as("n_tokens"))
      .withColumn("qb", floor(col("quality") * BudgetBuckets).cast("int"))
    val within = scored.withColumn("within_cum",
      sum(col("n_tokens")).over(
        Window.partitionBy("qb").orderBy(col("quality").desc, col("doc_id").asc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    // per-bucket totals: <= BudgetBuckets+1 rows — the offset cumsum and
    // its window run on this aggregated frame, never on documents
    val offsets = scored.groupBy("qb")
      .agg(sum(col("n_tokens")).as("bucket_tokens"))
      .withColumn("offset",
        coalesce(sum(col("bucket_tokens")).over(
          Window.orderBy(col("qb").desc)
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("qb"), col("offset"))
    within.join(broadcast(offsets), Seq("qb"))
      .select(col("doc_id"), col("quality"), col("n_tokens"),
        (col("offset") + col("within_cum")).as("cum_tokens"))
      .where(col("cum_tokens") <= budget)
  }

  /** SEQUENCE PACKING assignment — the training-data step that lays
    * documents head-to-tail into fixed-length context windows (GPT-style
    * packed pretraining batches): in deterministic doc_id order, each
    * document starts at the corpus-wide token offset `start_tok` =
    * Σ n_tokens of all earlier docs, and lands in window
    * `bin = start_tok div seqLen` at `bin_offset = start_tok mod seqLen`
    * (documents may straddle windows — the bin is where the doc STARTS,
    * which is all a pack-writer needs to route rows to shards).
    *
    * The global running sum is the q_token_budget decomposition, keyed
    * by doc_id RANGE chunks instead of quality buckets (any monotone
    * bucketing preserves the order; fixed-width `chunkWidth` keeps the
    * within-chunk windows parallel and the offsets frame at
    * ⌈idRange/chunkWidth⌉ rows — size chunkWidth so that count stays
    * ~10⁵ at corpus scale, or add a third level for more). Integer
    * `div`/`mod` throughout: ids and offsets stay exact past 2⁵³ where
    * a double floor would silently round. */
  def packSequences(s: SparkSession, d: String): DataFrame =
    // chunkWidth 512 (not the 65536 default): the fixture's dense ids
    // then span multiple chunks, so the registry row exercises the
    // multi-chunk decomposition, not a degenerate single-chunk window
    packSequencesOf(par(documents(s, d)), chunkWidth = 512)

  def packSequencesOf(docs: DataFrame, seqLen: Long = 2048,
                      chunkWidth: Long = 65536): DataFrame =
    packBase(docs, chunkWidth, TA.tokenCount(col("text")))
      .select(col("doc_id"), col("n_tokens"),
        expr(s"start_tok div $seqLen").as("bin"),
        expr(s"start_tok % $seqLen").as("bin_offset"))

  /** The shared (doc_id, n_tokens, start_tok) frame behind [[
    * packSequencesOf]] and [[packRowsOf]]: the corpus-wide running
    * token offset via the two-level chunked prefix-sum decomposition
    * (per-chunk windows parallel; the only unpartitioned window runs
    * on the ⌈idRange/chunkWidth⌉-row chunk-totals frame). */
  private def packBase(docs: DataFrame, chunkWidth: Long,
                       nTok: Column): DataFrame =
    runningOffsets(
      docs.select(col("doc_id"), nTok.as("n_tokens"))
        .withColumn("ck", expr(s"doc_id div $chunkWidth")),
      Seq(col("doc_id").asc))

  /** The two-level chunked prefix sum itself, over any `(doc_id,
    * n_tokens, ck, …)` frame whose chunk key `ck` is MONOTONE in
    * `order` (so chunk-total order ≡ global row order). Per-chunk
    * windows run parallel; the only unpartitioned window runs on the
    * chunk-totals frame (one row per chunk), never on documents. */
  private def runningOffsets(base: DataFrame, order: Seq[Column]): DataFrame = {
    val within = base.withColumn("within_cum",
      sum(col("n_tokens")).over(
        Window.partitionBy("ck").orderBy(order: _*)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    // per-chunk totals: the only unpartitioned window runs on this
    // aggregated frame (one row per chunk), never on documents
    val offsets = base.groupBy("ck")
      .agg(sum(col("n_tokens")).as("chunk_tokens"))
      .withColumn("offset",
        coalesce(sum(col("chunk_tokens")).over(
          Window.orderBy(col("ck").asc)
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("ck"), col("offset"))
    within.join(broadcast(offsets), Seq("ck"))
      .withColumn("start_tok", col("offset") + col("within_cum") - col("n_tokens"))
      .select(col("doc_id"), col("n_tokens"), col("start_tok"))
  }

  /** Window-straddle PACK ROWS — the writer-facing form of
    * [[packSequencesOf]] (which emits only each doc's START bin): one
    * row per (document, window) INTERSECTION, `(doc_id, bin, tok_from,
    * tok_to)` with doc-relative token offsets `[tok_from, tok_to)`. A
    * doc inside one window emits one row; a doc crossing window
    * boundaries emits one row per touched bin — exactly what a pack
    * writer needs to route each slice to its shard. By construction
    * every bin's slice lengths sum to `seqLen` except the corpus-final
    * bin (`CurationSpec` pins it). Scale shape: packBase's chunked
    * prefix sum plus ONE per-doc bounded explode (⌈n_tokens/seqLen⌉+1
    * rows max) — no corpus-wide window, no new shuffle past the
    * reused decomposition. Empty docs emit no rows (nothing to pack);
    * integer div throughout keeps offsets exact past 2⁵³. */
  def packRows(s: SparkSession, d: String): DataFrame =
    // chunkWidth 512 for the same reason as q_pack: the fixture's dense
    // ids must span multiple chunks so the registry row exercises the
    // multi-chunk decomposition
    packRowsOf(par(documents(s, d)), chunkWidth = 512)

  def packRowsOf(docs: DataFrame, seqLen: Long = 2048,
                 chunkWidth: Long = 65536,
                 nTok: Column = TA.tokenCount(col("text"))): DataFrame =
    sliceRows(packBase(docs, chunkWidth, nTok), seqLen)

  /** The slice emission below any `(doc_id, n_tokens, start_tok)`
    * frame — the engine twin of [[PackSliceSelect]], shared by the
    * id-order and shuffled pack writers. Bounded per-doc explode
    * (⌈n_tokens/seqLen⌉+1 rows max); empty docs emit no rows. */
  private def sliceRows(frame: DataFrame, seqLen: Long): DataFrame =
    frame
      .where(col("n_tokens") > 0)
      .select(col("doc_id"), col("start_tok"), col("n_tokens"),
        explode(sequence(expr(s"start_tok div $seqLen"),
          expr(s"(start_tok + n_tokens - 1) div $seqLen"))).as("bin"))
      .select(col("doc_id"), col("bin"),
        (greatest(col("start_tok"), col("bin") * seqLen) - col("start_tok"))
          .as("tok_from"),
        (least(col("start_tok") + col("n_tokens"), (col("bin") + 1) * seqLen)
          - col("start_tok")).as("tok_to"))

  /** EOD-accounted pack rows — [[packRowsOf]] with every document
    * contributing n+1 slots: its tokens plus one end-of-document
    * separator (the `<|endoftext|>` every GPT-style packer appends so
    * the model learns document boundaries). Slot `n_tokens-1` of each
    * doc's [tok_from, tok_to) range IS the separator; the tiling
    * invariant (every window exactly seqLen slots) now counts
    * separators, which is exactly how a real token budget is spent.
    * Same scale shape as the base row — only the counter changes. */
  def packRowsEod(s: SparkSession, d: String): DataFrame =
    packRowsOf(par(documents(s, d)), chunkWidth = 512,
      nTok = TA.tokenCount(col("text")) + 1)

  /** Pack PROVENANCE sidecar — the manifest's per-source refinement:
    * one row per (window, source) with slice/token counts, the "what
    * feeds window X" audit a mixture owner reads when a training run
    * spikes (is the spike's data region dominated by one feed?).
    * Aggregates the [[packRowsOf]] slices against the doc→source map:
    * one doc-keyed hash join + a bounded groupBy — |bins|·|sources|
    * output rows max. */
  def packSources(s: SparkSession, d: String): DataFrame =
    packSourcesOf(par(documents(s, d)), chunkWidth = 512)

  def packSourcesOf(docs: DataFrame, seqLen: Long = 2048,
                    chunkWidth: Long = 65536): DataFrame =
    packRowsOf(docs, seqLen, chunkWidth)
      .join(docs.select(col("doc_id"), col("source")), Seq("doc_id"))
      .groupBy("bin", "source")
      .agg(count(lit(1)).as("n_slices"),
        sum(col("tok_to") - col("tok_from")).as("n_tokens"))

  /** Epoch seed for the q_pack_shuffled registry row — spliced into
    * BOTH the engine hash input and the oracle's md5 argument. */
  private[queries] val PackEpochSeed = 1

  /** Epoch-seeded SHUFFLED pack rows — [[packRowsOf]] with the corpus
    * laid out in deterministic hash order instead of doc_id order.
    * Contiguous id-order packing puts each source's documents (crawl
    * batches, ingest shards — ids are assigned in arrival order) in
    * long same-source runs, so early training windows see one source
    * and late windows another; every production packer shuffles first.
    * Doing the shuffle by a SEEDED hash keeps the run reproducible
    * (same epoch ⇒ byte-identical shards, a different epoch ⇒ a fresh
    * permutation) with no materialized permutation table.
    *
    * Order key: the 60-bit md5 of `"<epoch>:<doc_id>"`
    * ([[Dedup.md5Hash60]], the registry's one hash family — the
    * DuckDB twin is `CAST('0x'||substr(md5(…),1,15) AS BIGINT)`),
    * ties broken by doc_id (a hash collision must order identically
    * on both engines). Scale shape: the SAME two-level decomposition
    * as [[packBase]] — the chunk key is the hash's high bits
    * (`hk div 2⁶⁰/nChunks`, monotone in the order key and uniform, so
    * chunks balance regardless of id density), per-chunk windows
    * parallel, the only unpartitioned window on the nChunks-row
    * totals frame, then the shared bounded slice explode. */
  def packRowsShuffled(s: SparkSession, d: String): DataFrame =
    // nChunks 64: the fixture's ~6k docs then span every chunk, so the
    // registry row exercises the multi-chunk hash decomposition
    packRowsShuffledOf(par(documents(s, d)), nChunks = 64,
      epoch = PackEpochSeed)

  /** SEMANTIC pack rows — the in-context-pretraining layout (Shi et
    * al. 2023: training windows of RELATED documents teach long-range
    * use of context that random neighbors can't): pack the corpus in
    * (embedding-cluster, doc_id) order, so each context window holds
    * topically similar documents. The cluster is the SAME seeded IVF
    * coarse assignment the ANN family is oracled on ([[
    * Similarity.seededCentroids]] + `NearestCentroid`) — deterministic
    * cross-engine, ties to the lower centroid position. The published
    * method orders by greedy nearest-neighbor traversal; the bucket
    * realization trades that precision for ZERO extra machinery (the
    * assignment is corpus-linear and already maintained for ANN) —
    * within a window the docs share a coarse cluster, which is the
    * property the training objective consumes.
    *
    * Cross-modal contract: only (doc_id, list) keys cross from the
    * embedding side — never vectors (the q_pipeline_semantic rule).
    * A doc WITHOUT an embedding row drops from the pack (inner join,
    * mirrored exactly in the oracle) — the layout is only defined
    * where the ordering key exists; callers wanting a fallback bucket
    * should union unembedded docs onto a sentinel list upstream.
    * Scale shape: one map-side centroid assignment + a doc-keyed
    * join + the SAME two-level decomposition with a composite chunk
    * key (list·2⁴⁰ + id-range chunk — monotone in the sort, so
    * chunk-total order ≡ global order; clusters far larger than a
    * chunk split across chunks, keeping per-chunk windows bounded). */
  def packRowsSemantic(s: SparkSession, d: String): DataFrame =
    packRowsSemanticOf(par(documents(s, d)), embChecked(s, d),
      nlist = 16, idWidth = 512)

  def packRowsSemanticOf(docs: DataFrame, emb: DataFrame,
                         seqLen: Long = 2048, nlist: Int = 1024,
                         idWidth: Long = 65536,
                         nTok: Column = TA.tokenCount(col("text"))): DataFrame = {
    val v = emb.select(col("vec_id").as("doc_id"),
      transform(col("embedding"), _.cast("double")).as("v"))
    val coarse = Similarity.seededCentroids(
      v.select(col("doc_id").as("vid"), col("v")), nlist)
    val asg = v.select(col("doc_id"),
      graft.functions.NearestCentroid(col("v"), coarse).as("list"))
    val base = docs.select(col("doc_id"), nTok.as("n_tokens"))
      .join(asg, Seq("doc_id"))
      .withColumn("ck",
        col("list").cast("long") * lit(1L << 40) + expr(s"doc_id div $idWidth"))
    sliceRows(
      runningOffsets(base, Seq(col("list").asc, col("doc_id").asc)), seqLen)
  }

  /** CURRICULUM pack rows — the corpus laid out easy-first: the running
    * offset runs in (perplexity, doc_id) order, so early context
    * windows hold the head of the CCNet quality spectrum and the tail
    * lands last (curriculum learning's data-order knob, Bengio et al.
    * 2009, with the q_ppl_buckets xent as the difficulty proxy). The
    * sort key is the SAME round(xent, 6) both engines already share,
    * ties broken by doc_id.
    *
    * Scale shape: the reused two-level decomposition with a VALUE
    * bucket as the chunk key (`floor(xent6·16)`, the q_ppl_buckets
    * bucketing — monotone in the sort key, so chunk-total order ≡
    * global order); per-chunk windows parallel, the only unpartitioned
    * window on the bucket-totals frame, then the shared bounded slice
    * explode. The xent scoring itself is the already-priced
    * q_unigram machinery (one explode + broadcast-probe join). */
  def packRowsCurriculum(s: SparkSession, d: String): DataFrame =
    packRowsCurriculumOf(par(documents(s, d)))

  /** `nTok` optionally re-denominates the SLOT counts (e.g. the BPE
    * subword count for a production run) while the ORDERING stays the
    * whitespace-unigram xent — difficulty proxy and budget
    * denomination are independent knobs; None keeps the counts the
    * xent machinery already computed (no extra join). */
  def packRowsCurriculumOf(docs: DataFrame, seqLen: Long = 2048,
                           nTok: Option[Column] = None): DataFrame = {
    val x = TA.unigramXent(docs, "doc_id", "text")
      .select(col("doc_id"), col("n_tokens"),
        round(col("xent"), 6).as("xent6"))
    val counted = nTok match {
      case None => x
      case Some(c) => x.drop("n_tokens")
        .join(docs.select(col("doc_id"), c.as("n_tokens")), Seq("doc_id"))
    }
    val base = counted.withColumn("ck", floor(col("xent6") * 16).cast("long"))
    sliceRows(
      runningOffsets(base, Seq(col("xent6").asc, col("doc_id").asc)), seqLen)
  }

  def packRowsShuffledOf(docs: DataFrame, seqLen: Long = 2048,
                         nChunks: Int = 1024, epoch: Int = 0,
                         nTok: Column = TA.tokenCount(col("text"))): DataFrame = {
    require(nChunks > 0 && (nChunks & (nChunks - 1)) == 0,
      s"nChunks must be a power of two for an exact hash-span split, got $nChunks")
    val span = (1L << 60) / nChunks
    val base = docs.select(col("doc_id"), nTok.as("n_tokens"))
      .withColumn("hk", Dedup.md5Hash60(
        concat(lit(s"$epoch:"), col("doc_id").cast("string"))))
      .withColumn("ck", expr(s"hk div $span"))
    sliceRows(
      runningOffsets(base, Seq(col("hk").asc, col("doc_id").asc)), seqLen)
  }

  /** Pack-shard WRITER MANIFEST: one row per context-window shard —
    * slice count, token count (== seqLen everywhere but the corpus
    * tail: the tiling invariant made queryable), distinct docs, and the
    * doc-id span. The sidecar a training-data writer ships next to its
    * shards so a loader can size reads and audit coverage without
    * opening them. Aggregates the [[packRowsOf]] slices — bounded at
    * one row per shard. */
  def packManifest(s: SparkSession, d: String): DataFrame =
    packRowsOf(par(documents(s, d)), chunkWidth = 512)
      .groupBy("bin")
      .agg(count(lit(1)).as("n_slices"),
        sum(col("tok_to") - col("tok_from")).as("n_tokens"),
        countDistinct(col("doc_id")).as("n_docs"),
        min(col("doc_id")).as("first_doc"),
        max(col("doc_id")).as("last_doc"))

  // ---- semantic dedup --------------------------------------------------

  /** Embeddings with the oracle-parity width guard (the generated SQL
    * unrolls [[Similarity.OracleDim]]-wide cosine chains) — one wrapper
    * for every semdedup consumer. */
  private def embChecked(s: SparkSession, d: String): DataFrame =
    embeddings(s, d).withColumn("embedding",
      Similarity.requireWidth(col("embedding")))

  /** SemDeDup over the embedding corpus — [[Similarity.semDedup]] with
    * the width guard. */
  def semDedupQ(s: SparkSession, d: String): DataFrame =
    Similarity.semDedup(embChecked(s, d), "vec_id", "embedding")

  /** Keep-one-per-component SemDeDup variant (r5 VERDICT item 6) —
    * [[Similarity.semDedupCC]]: paper-faithful retention via connected
    * components over the above-threshold pairs; q_semdedup keeps the
    * stricter pairwise-drop semantics unchanged. */
  def semDedupCCQ(s: SparkSession, d: String): DataFrame =
    Similarity.semDedupCC(embChecked(s, d), "vec_id", "embedding")

  /** Cross-modal curation composition — the third member of the
    * composition family (q_pipeline_clean: exact dedup; q_pipeline_neardup:
    * minhash components; this: EMBEDDING-space dedup): drop every doc
    * whose embedding SemDeDup marks as a semantic duplicate, then the
    * standard quality gate + token stats. Only (vec_id) drop keys cross
    * from the embedding side — an anti-join key set, never vectors. */
  def pipelineSemantic(s: SparkSession, d: String): DataFrame = {
    // just the drop-key set: skips semDedup's per-vector marking join —
    // only anti-join keys cross the modality boundary
    val dropped = Similarity
      .semDedupDropped(embChecked(s, d), "vec_id", "embedding")
      .select(col("vec_id").as("doc_id"))
    documents(s, d).join(dropped, Seq("doc_id"), "left_anti")
      .select(col("doc_id"),
        TA.qualityScore(col("text"), Stopwords).as("quality"),
        TA.tokenCount(col("text")).as("n_tokens"))
      .where(col("quality") >= 0.5)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_chunk"         -> (chunks _),
    "q_cdc_chunk"     -> (cdcChunks _),
    "q_fim"           -> (fimTransform _),
    "q_span_corrupt"  -> (spanCorrupt _),
    "q_quality_topp"  -> (qualityTopP _),
    "q_mix_plan"      -> (mixPlan _),
    "q_mix_apply"     -> (mixApply _),
    "q_mix_temp"      -> (mixTempPlan _),
    "q_mix_temp_apply" -> (mixTempApply _),
    "q_mix_repeat"    -> (mixRepeatPlan _),
    "q_mix_repeat_apply" -> (mixRepeatApply _),
    "q_decontaminate" -> (decontaminate _),
    "q_decontaminate_x" -> (decontaminateX _),
    "q_decontaminate_stored" -> (decontaminateStored _),
    "q_decontaminate_bloom" -> (decontaminateBloom _),
    "q_drop_reasons"  -> (dropReasons _),
    "q_drop_reasons_sem" -> (dropReasonsSem _),
    "q_drop_report"   -> (dropReportQ _),
    "q_dedup_cap"     -> (dedupCap _),
    "q_token_budget"  -> (tokenBudget _),
    "q_pack"          -> (packSequences _),
    "q_pack_rows"     -> (packRows _),
    "q_pack_eod"      -> (packRowsEod _),
    "q_pack_sources"  -> (packSources _),
    "q_pack_shuffled" -> (packRowsShuffled _),
    "q_pack_curriculum" -> (packRowsCurriculum _),
    "q_pack_semantic" -> (packRowsSemantic _),
    "q_pack_manifest" -> (packManifest _),
    "q_semdedup"      -> (semDedupQ _),
    "q_semdedup_cc"   -> (semDedupCCQ _),
    "q_pipeline_semantic" -> (pipelineSemantic _))

  // the mixture-plan SQL — q_mix_plan's oracle AND the CTE q_mix_apply
  // builds on (one copy, zero drift on a rate-formula change)
  private val MIX_PLAN_SQL =
    s"""SELECT source, n_docs, n_tokens,
       |  CAST(n_tokens AS DOUBLE) / total_tokens AS token_share,
       |  least(CAST(1 AS DOUBLE),
       |        CAST(total_tokens AS DOUBLE) / (n_sources * n_tokens)) AS sampling_rate
       |FROM (SELECT source, n_docs, n_tokens,
       |        CAST(sum(n_tokens) OVER () AS BIGINT) AS total_tokens,
       |        count(*) OVER () AS n_sources
       |      FROM (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       |              CAST(sum(len($TOKS)) AS BIGINT) AS n_tokens
       |            FROM documents GROUP BY source))""".stripMargin

  // the repeat-mixture plan — q_mix_repeat's oracle AND the CTE
  // q_mix_repeat_apply builds on (one copy, the MIX_PLAN_SQL rule)
  private val MIX_REPEAT_SQL =
    s"""SELECT source, n_docs, n_tokens,
       |  CAST(n_tokens AS DOUBLE) / total_tokens AS token_share,
       |  (total_tokens // n_sources) // n_tokens AS epochs_full,
       |  CAST((total_tokens // n_sources) % n_tokens AS DOUBLE) / n_tokens
       |    AS frac_rate
       |FROM (SELECT source, n_docs, n_tokens,
       |        CAST(sum(n_tokens) OVER () AS BIGINT) AS total_tokens,
       |        count(*) OVER () AS n_sources
       |      FROM (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       |              CAST(sum(len($TOKS)) AS BIGINT) AS n_tokens
       |            FROM documents GROUP BY source))""".stripMargin

  private val MIX_TEMP_SQL =
    s"""SELECT source, n_docs, n_tokens,
       |  CAST(n_tokens AS DOUBLE) / total_tokens AS token_share,
       |  sqrt(CAST(min_tokens AS DOUBLE) / n_tokens) AS temp_rate
       |FROM (SELECT source, n_docs, n_tokens,
       |        CAST(sum(n_tokens) OVER () AS BIGINT) AS total_tokens,
       |        CAST(min(n_tokens) OVER () AS BIGINT) AS min_tokens
       |      FROM (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       |              CAST(sum(len($TOKS)) AS BIGINT) AS n_tokens
       |            FROM documents GROUP BY source))""".stripMargin

  /** The slice emission below any `c (doc_id, n_tokens, start_tok)`
    * CTE — shared by the id-order, BPE, shuffled, curriculum, and
    * EOD pack oracles. */
  private[queries] val PackSliceSelect: String =
    """SELECT doc_id, bin,
      |  GREATEST(start_tok, bin * 2048) - start_tok AS tok_from,
      |  LEAST(start_tok + n_tokens, (bin + 1) * 2048) - start_tok AS tok_to
      |FROM c, UNNEST(generate_series(start_tok // 2048,
      |         (start_tok + n_tokens - 1) // 2048)) AS u(bin)
      |WHERE n_tokens > 0""".stripMargin

  /** The id-order running sum + slice tail below a `t (doc_id,
    * n_tokens)` CTE — one copy shared by the whitespace-token row, the
    * EOD twin, the manifest, and the BPE-denominated twin (which swap
    * only what n_tokens counts). */
  private[queries] val PackRowsTail: String =
    s"""c AS (SELECT doc_id, n_tokens,
       |        CAST(coalesce(sum(n_tokens) OVER (ORDER BY doc_id
       |               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |             AS BIGINT) AS start_tok
       |      FROM t)
       |$PackSliceSelect""".stripMargin

  /** The pack-rows SQL over any per-doc slot counter — `len(toks)` for
    * the base row, `len(toks) + 1` for the EOD-accounted twin. */
  private def packRowsSqlOver(nTokSql: String): String =
    s"""WITH t AS (SELECT doc_id, CAST($nTokSql AS INTEGER) AS n_tokens
       |           FROM documents),
       |$PackRowsTail""".stripMargin

  private val PackRowsSql: String = packRowsSqlOver(s"len($TOKS)")

  /** The hash-ordered running sum + slice tail below a `t (doc_id,
    * n_tokens)` CTE — the exact DuckDB twin of [[Dedup.md5Hash60]]
    * over `"<epoch>:<doc_id>"` (ties → doc_id); one copy shared by
    * the whitespace shuffled row and the BPE-denominated production
    * twin. */
  private[queries] val PackShuffledTail: String =
    s"""h AS (SELECT doc_id, n_tokens,
       |        CAST(concat('0x', substr(md5(concat('$PackEpochSeed:',
       |               CAST(doc_id AS VARCHAR))), 1, 15)) AS BIGINT) AS hk
       |      FROM t),
       |c AS (SELECT doc_id, n_tokens,
       |        CAST(coalesce(sum(n_tokens) OVER (ORDER BY hk, doc_id
       |               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |             AS BIGINT) AS start_tok
       |      FROM h)
       |$PackSliceSelect""".stripMargin

  private val PackShuffledSql: String =
    s"""WITH t AS (SELECT doc_id, CAST(len($TOKS) AS INTEGER) AS n_tokens
       |           FROM documents),
       |$PackShuffledTail""".stripMargin

  /** Shared oracle prefix for the two drop-reason audits: planted
    * construction + bench bucket + keeper/shingle-contamination CTEs —
    * ONE copy (the QUALITY_SQL rule), the variants differ only in the
    * gate list of the final CASE. */
  private val DROP_REASONS_CTES: String =
    s"""WITH t AS ($PLANT_CTE),
       |b AS (SELECT doc_id, text,
       |  CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
       |    % $BenchBuckets AS bucket FROM t),
       |train AS (SELECT doc_id, text FROM b WHERE bucket <> $BenchBucket),
       |keepers AS (SELECT md5(lower(text)) AS fp, min(doc_id) AS kid
       |            FROM train GROUP BY 1),
       |toks AS (SELECT doc_id, $TOKS AS tk FROM t),
       |pos AS (SELECT doc_id, tk, unnest(range(len(tk)-4)) AS i
       |        FROM toks WHERE len(tk) >= 5),
       |sh AS (SELECT DISTINCT doc_id, array_to_string(tk[i+1:i+5], ' ') AS shingle,
       |         CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
       |           % $BenchBuckets AS bucket
       |       FROM pos),
       |bsh AS (SELECT DISTINCT shingle FROM sh WHERE bucket = $BenchBucket),
       |contam AS (SELECT s.doc_id FROM sh s JOIN bsh ON s.shingle = bsh.shingle
       |           WHERE s.bucket <> $BenchBucket GROUP BY s.doc_id)""".stripMargin

  private val DropReasonsSql: String =
    s"""$DROP_REASONS_CTES,
       |r AS (SELECT tr.doc_id, tr.text, k.kid, c.doc_id AS cid
       |      FROM train tr
       |      JOIN keepers k ON md5(lower(tr.text)) IS NOT DISTINCT FROM k.fp
       |      LEFT JOIN contam c ON c.doc_id = tr.doc_id)
       |SELECT doc_id,
       |  CASE WHEN doc_id <> kid THEN 'exact_dup'
       |       WHEN cid IS NOT NULL THEN 'contaminated'
       |       WHEN $QUALITY_SQL < $AuditQualityMin THEN 'low_quality'
       |       ELSE 'kept' END AS status
       |FROM r
       |UNION ALL
       |SELECT doc_id, 'bench' AS status FROM b WHERE bucket = $BenchBucket""".stripMargin

  val oracle: Map[String, String] = Map(
    // range(0, len, stride) enumerates the same starts as the engine's
    // sequence(0, len-1, stride): every multiple of stride that indexes
    // a token; list slices clip at the end in both engines
    "q_chunk" ->
      s"""WITH toks AS (SELECT doc_id, $TOKS AS t FROM documents),
         |st AS (SELECT doc_id, t, unnest(range(0, len(t), $ChunkStride)) AS start FROM toks)
         |SELECT doc_id,
         |  CAST(start // $ChunkStride AS INTEGER) AS chunk_idx,
         |  array_to_string(t[start + 1 : start + $ChunkSize], ' ') AS chunk_text,
         |  CAST(least(len(t) - start, $ChunkSize) AS INTEGER) AS n_chunk_tokens
         |FROM st""".stripMargin,
    // same 60-bit token hash, same strictly-prior running boundary
    // count, chunk text re-ordered by position in the aggregate
    "q_cdc_chunk" ->
      s"""WITH toks AS (SELECT doc_id,
         |  generate_subscripts($TOKS, 1) - 1 AS pos, unnest($TOKS) AS tok
         |FROM documents),
         |b AS (SELECT doc_id, pos, tok,
         |  CASE WHEN CAST(concat('0x', substr(md5(tok),1,15)) AS BIGINT) % $CdcMask = 0
         |         OR (pos + 1) % $CdcMaxLen = 0
         |       THEN 1 ELSE 0 END AS is_b
         |FROM toks),
         |c AS (SELECT doc_id, pos, tok,
         |  CAST(coalesce(sum(is_b) OVER (PARTITION BY doc_id ORDER BY pos
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS INTEGER) AS chunk_idx
         |FROM b)
         |SELECT doc_id, chunk_idx,
         |  CAST(count(*) AS INTEGER) AS n_chunk_tokens,
         |  string_agg(tok, ' ' ORDER BY pos) AS chunk_text
         |FROM c GROUP BY doc_id, chunk_idx""".stripMargin,
    // the three salted md5 draws and the (n+1)/(n-a+1) cut moduli are
    // the engine's exact integer arithmetic; list slices t[i:j] are
    // 1-based inclusive, matching the engine's slice(toks, start, len)
    "q_fim" ->
      s"""WITH toks AS (SELECT doc_id, $TOKS AS t FROM documents),
         |s AS (SELECT doc_id, t, len(t) AS n,
         |  CASE WHEN CAST(concat('0x', substr(md5(concat('fim:',
         |           CAST(doc_id AS VARCHAR))), 1, 15)) AS BIGINT)
         |         % 1000000 < $FimRatePerM
         |       THEN 1 ELSE 0 END AS fim
         |FROM toks),
         |a AS (SELECT doc_id, t, n, fim,
         |  CASE WHEN fim = 1
         |       THEN CAST(concat('0x', substr(md5(concat('fim_a:',
         |              CAST(doc_id AS VARCHAR))), 1, 15)) AS BIGINT) % (n + 1)
         |       ELSE CAST(n AS BIGINT) END AS cut_a
         |FROM s),
         |c AS (SELECT doc_id, t, n, fim, cut_a,
         |  CASE WHEN fim = 1
         |       THEN cut_a + CAST(concat('0x', substr(md5(concat('fim_b:',
         |              CAST(doc_id AS VARCHAR))), 1, 15)) AS BIGINT) % (n - cut_a + 1)
         |       ELSE CAST(n AS BIGINT) END AS cut_b
         |FROM a)
         |SELECT doc_id, fim, cut_a, cut_b,
         |  coalesce(array_to_string(t[1:cut_a], ' '), '') AS prefix,
         |  coalesce(array_to_string(t[cut_a+1:cut_b], ' '), '') AS middle,
         |  coalesce(array_to_string(t[cut_b+1:n], ' '), '') AS suffix
         |FROM c""".stripMargin,
    // the span flags are the engine's exact per-position hash tests
    // (s_i = "a span started i positions back"); string_agg skips the
    // CASE's NULL branches like collect_list skips null structs, and
    // the empty aggregate coalesces to '' (array_join's empty result)
    "q_span_corrupt" -> {
      def s(i: Int) =
        s"""(pos >= $i AND CAST(concat('0x', substr(md5(concat('sc:',
           |    CAST(doc_id AS VARCHAR), ':', CAST(pos - $i AS VARCHAR))),
           |    1, 15)) AS BIGINT) % $SpanStride = 0)""".stripMargin
      s"""WITH toks AS (SELECT doc_id,
         |  generate_subscripts($TOKS, 1) - 1 AS pos, unnest($TOKS) AS tok
         |FROM documents),
         |f AS (SELECT doc_id, pos, tok,
         |        (s0 OR s1 OR s2) AS masked,
         |        (s0 OR s1 OR s2) AND NOT (s1 OR s2 OR s3) AS run_start
         |      FROM (SELECT doc_id, pos, tok,
         |              ${s(0)} AS s0, ${s(1)} AS s1,
         |              ${s(2)} AS s2, ${s(3)} AS s3
         |            FROM toks)),
         |sp AS (SELECT *, CAST(sum(CASE WHEN run_start THEN 1 ELSE 0 END)
         |         OVER (PARTITION BY doc_id ORDER BY pos
         |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |         AS BIGINT) - 1 AS span_id
         |       FROM f)
         |SELECT doc_id,
         |  CAST(sum(CASE WHEN masked THEN 1 ELSE 0 END) AS BIGINT) AS n_masked,
         |  CAST(sum(CASE WHEN run_start THEN 1 ELSE 0 END) AS BIGINT) AS n_spans,
         |  coalesce(string_agg(CASE
         |    WHEN NOT masked THEN tok
         |    WHEN run_start THEN concat('<extra_id_', CAST(span_id AS VARCHAR), '>')
         |    END, ' ' ORDER BY pos), '') AS inputs,
         |  coalesce(string_agg(CASE
         |    WHEN run_start THEN concat('<extra_id_', CAST(span_id AS VARCHAR), '> ', tok)
         |    WHEN masked THEN tok
         |    END, ' ' ORDER BY pos), '') AS targets
         |FROM sp GROUP BY doc_id""".stripMargin
    },
    "q_quality_topp" ->
      s"""WITH q AS (SELECT doc_id, lang, $QUALITY_SQL AS quality FROM documents),
         |r AS (SELECT doc_id, lang, quality,
         |        percent_rank() OVER (PARTITION BY lang
         |                             ORDER BY quality DESC, doc_id ASC) AS q_rank
         |      FROM q)
         |SELECT doc_id, lang, quality, q_rank FROM r WHERE q_rank <= $TopP""".stripMargin,
    // sum(BIGINT) is HUGEINT in DuckDB — cast back at each level so the
    // arithmetic runs in the same int64/double domains as the engine
    "q_mix_plan" -> MIX_PLAN_SQL,
    // T=2 temperature plan: the rate is sqrt of an exact integer ratio
    // (total cancels), so the doubles hash-match with no pow()
    "q_mix_temp" -> MIX_TEMP_SQL,
    "q_mix_temp_apply" ->
      s"""WITH plan AS ($MIX_TEMP_SQL)
         |SELECT d.doc_id, d.source
         |FROM documents d JOIN plan ON d.source = plan.source
         |WHERE CAST(CAST(concat('0x', substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
         |           % 1000000 AS DOUBLE) < temp_rate * 1000000""".stripMargin,
    // the plan SQL spliced as a CTE (one source of truth with
    // q_mix_plan), the q_hash_split md5 bucket at per-million
    // resolution, strict < on bit-identical doubles both sides
    "q_mix_apply" ->
      s"""WITH plan AS ($MIX_PLAN_SQL)
         |SELECT d.doc_id, d.source
         |FROM documents d JOIN plan ON d.source = plan.source
         |WHERE CAST(CAST(concat('0x', substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
         |           % 1000000 AS DOUBLE) < sampling_rate * 1000000""".stripMargin,
    "q_mix_repeat" -> MIX_REPEAT_SQL,
    // epochs 0..full-1 unconditional; the fractional pass draws on the
    // EPOCH-SALTED md5 bucket ("doc_id:epoch"), the engine's exact twin
    "q_mix_repeat_apply" ->
      s"""WITH plan AS ($MIX_REPEAT_SQL),
         |e AS (SELECT d.doc_id, d.source, p.epochs_full, p.frac_rate, u.epoch
         |      FROM documents d JOIN plan p ON d.source = p.source,
         |           UNNEST(generate_series(0, p.epochs_full)) AS u(epoch))
         |SELECT doc_id, source, epoch FROM e
         |WHERE epoch < epochs_full
         |   OR CAST(CAST(concat('0x', substr(md5(concat(CAST(doc_id AS VARCHAR),
         |        ':', CAST(epoch AS VARCHAR))), 1, 15)) AS BIGINT)
         |        % 1000000 AS DOUBLE) < frac_rate * 1000000""".stripMargin,
    // same toks/pos CTEs as every shingle oracle; benchmark membership
    // is the q_hash_split md5 bucket of the doc id
    "q_decontaminate" ->
      s"""WITH toks AS (SELECT doc_id, $TOKS AS t FROM documents),
         |pos AS (SELECT doc_id, t, unnest(range(len(t)-4)) AS i FROM toks WHERE len(t) >= 5),
         |sh AS (SELECT DISTINCT doc_id, array_to_string(t[i+1:i+5], ' ') AS shingle,
         |         CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
         |           % $BenchBuckets AS bucket
         |       FROM pos),
         |bench AS (SELECT DISTINCT shingle FROM sh WHERE bucket = $BenchBucket),
         |j AS (SELECT t.doc_id, bench.shingle AS hit
         |      FROM sh t LEFT JOIN bench ON t.shingle = bench.shingle
         |      WHERE t.bucket <> $BenchBucket)
         |SELECT doc_id,
         |  CAST(count(*) AS BIGINT) AS n_shingles,
         |  CAST(count(hit) AS BIGINT) AS n_hits,
         |  CAST(count(hit) AS DOUBLE) / count(*) AS contam_frac
         |FROM j GROUP BY doc_id HAVING count(hit) > 0""".stripMargin,
    // the two-input twin: train/bench split FIRST (mirroring the
    // decontaminateAgainst signature), then independent shingle
    // pipelines — must equal q_decontaminate (the split commutes with
    // shingling)
    "q_decontaminate_x" -> DecontaminateXSql,
    // the persisted-bench-set server shares the scoring tail exactly —
    // the SAME oracle SQL pins stored-probed to recomputed
    "q_decontaminate_stored" -> DecontaminateXSql,
    // the bloom prune has no false negatives and the string verify
    // removes false positives — identical answer, identical SQL
    "q_decontaminate_bloom" -> DecontaminateXSql,
    // planted construction + the three gate CTEs in the engine's CASE
    // order; keeper join is null-safe like dedupKeepRows' <=> discipline
    "q_drop_reasons" -> DropReasonsSql,
    // the per-feed rollup of the same battery — counts over the
    // verified status CTEs, source re-attached by doc_id
    "q_drop_report" ->
      s"""SELECT d.source, r.status, CAST(count(*) AS BIGINT) AS n
         |FROM ($DropReasonsSql) r JOIN documents d ON d.doc_id = r.doc_id
         |GROUP BY 1, 2""".stripMargin,
    // the cross-modal audit: the same prefix + the embedding-gate CTE
    // (one holdout population across both modalities — the doc_id/vec_id
    // md5 bucket), sem gate between shingle contamination and quality
    "q_drop_reasons_sem" ->
      s"""$DROP_REASONS_CTES,
         |${Similarity.decontaminateSemIdsCte(PipelineQueries.SemBenchBuckets,
              PipelineQueries.SemBenchBucket, PipelineQueries.SemDeconMinCos)},
         |r AS (SELECT tr.doc_id, tr.text, k.kid, c.doc_id AS cid, sc.doc_id AS sid
         |      FROM train tr
         |      JOIN keepers k ON md5(lower(tr.text)) IS NOT DISTINCT FROM k.fp
         |      LEFT JOIN contam c ON c.doc_id = tr.doc_id
         |      LEFT JOIN semc sc ON sc.doc_id = tr.doc_id)
         |SELECT doc_id,
         |  CASE WHEN doc_id <> kid THEN 'exact_dup'
         |       WHEN cid IS NOT NULL THEN 'contaminated'
         |       WHEN sid IS NOT NULL THEN 'sem_contaminated'
         |       WHEN $QUALITY_SQL < $AuditQualityMin THEN 'low_quality'
         |       ELSE 'kept' END AS status
         |FROM r
         |UNION ALL
         |SELECT doc_id, 'bench' AS status FROM b WHERE bucket = $BenchBucket""".stripMargin,
    // the shared planted construction; row_number over (fp, doc_id) is
    // fully deterministic
    "q_dedup_cap" ->
      s"""WITH t AS ($PLANT_CTE),
         |r AS (SELECT doc_id, md5(lower(text)) AS fp,
         |        CAST(row_number() OVER (PARTITION BY md5(lower(text))
         |                                ORDER BY doc_id) AS INTEGER) AS copy_rank
         |      FROM t)
         |SELECT doc_id, fp, copy_rank FROM r WHERE copy_rank <= $DupCap""".stripMargin,
    // the oracle runs the SINGLE-WINDOW spelling the engine decomposes:
    // same total order (quality DESC, doc_id), same integer sums — the
    // two-level prefix sum must reproduce it exactly
    "q_token_budget" ->
      s"""WITH q AS (SELECT doc_id,
         |  $QUALITY_SQL AS quality,
         |  CAST(len($TOKS) AS INTEGER) AS n_tokens
         |FROM documents),
         |c AS (SELECT doc_id, quality, n_tokens,
         |        CAST(sum(n_tokens) OVER (ORDER BY quality DESC, doc_id
         |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |             AS BIGINT) AS cum_tokens
         |      FROM q)
         |SELECT doc_id, quality, n_tokens, cum_tokens
         |FROM c WHERE cum_tokens <= $TokenBudget""".stripMargin,
    // the single-window spelling the two-level decomposition is
    // bit-equal to; DuckDB sum() returns HUGEINT → cast before div/mod
    "q_pack" ->
      s"""WITH t AS (SELECT doc_id, CAST(len($TOKS) AS INTEGER) AS n_tokens
         |           FROM documents),
         |c AS (SELECT doc_id, n_tokens,
         |        CAST(coalesce(sum(n_tokens) OVER (ORDER BY doc_id
         |               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |             AS BIGINT) AS start_tok
         |      FROM t)
         |SELECT doc_id, n_tokens,
         |  start_tok // 2048 AS bin,
         |  start_tok % 2048 AS bin_offset
         |FROM c""".stripMargin,
    "q_pack_rows" -> PackRowsSql,
    // the same tail over n+1 slots per doc: the end-of-document
    // separator spends budget exactly like a token
    "q_pack_eod" -> packRowsSqlOver(s"len($TOKS) + 1"),
    // per-(window, source) provenance: the pack SQL as a CTE joined
    // back to the doc->source map; sums cast back from HUGEINT
    "q_pack_sources" ->
      s"""WITH r AS ($PackRowsSql)
         |SELECT r.bin, d.source,
         |  CAST(count(*) AS BIGINT) AS n_slices,
         |  CAST(sum(r.tok_to - r.tok_from) AS BIGINT) AS n_tokens
         |FROM r JOIN documents d ON r.doc_id = d.doc_id
         |GROUP BY r.bin, d.source""".stripMargin,
    "q_pack_shuffled" -> PackShuffledSql,
    // the q_unigram xent CTEs (rounded to the shared 6-decimal key, the
    // q_ppl_buckets discipline) feeding the shared slice emission below
    // a running sum in (xent6, doc_id) order
    "q_pack_curriculum" ->
      s"""WITH toks AS (SELECT doc_id, unnest($TOKS) AS term FROM documents),
         |freq AS (SELECT term, count(*) AS tc FROM toks GROUP BY term),
         |tot AS (SELECT count(*) AS total FROM toks),
         |t AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
         |        round(avg(-ln(CAST(tc AS DOUBLE) / total)), 6) AS xent6
         |      FROM toks JOIN freq USING (term) CROSS JOIN tot
         |      GROUP BY doc_id),
         |c AS (SELECT doc_id, n_tokens,
         |        CAST(coalesce(sum(n_tokens) OVER (ORDER BY xent6, doc_id
         |               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |             AS BIGINT) AS start_tok
         |      FROM t)
         |$PackSliceSelect""".stripMargin,
    // the ANN family's coarse-assignment CTEs (seeds/sim/asg — the
    // seeded-centroid + nearest-with-position-tie-break oracle twin)
    // feeding the shared slice emission in (cluster, doc_id) order
    "q_pack_semantic" ->
      s"""${Similarity.coarseAsgCtes(16)},
         |t AS (SELECT d.doc_id, CAST(len($TOKS) AS INTEGER) AS n_tokens,
         |             a.pos AS list
         |      FROM documents d JOIN asg a ON a.vec_id = d.doc_id),
         |c AS (SELECT doc_id, n_tokens,
         |        CAST(coalesce(sum(n_tokens) OVER (ORDER BY list, doc_id
         |               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |             AS BIGINT) AS start_tok
         |      FROM t)
         |$PackSliceSelect""".stripMargin,
    // the writer manifest: one row per context-window shard over the
    // same slice SQL — n_tokens == seqLen everywhere but the tail is
    // the tiling invariant made queryable
    "q_pack_manifest" ->
      s"""WITH pr AS ($PackRowsSql)
         |SELECT bin, CAST(count(*) AS BIGINT) AS n_slices,
         |  CAST(sum(tok_to - tok_from) AS BIGINT) AS n_tokens,
         |  CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
         |  min(doc_id) AS first_doc, max(doc_id) AS last_doc
         |FROM pr GROUP BY bin""".stripMargin,
    "q_semdedup" -> Similarity.semDedupOracleSql(),
    "q_semdedup_cc" -> Similarity.semDedupCCOracleSql(),
    // the semdedup twin as a subquery; NOT IN over its dropped members,
    // then the same quality expressions as the other compositions
    "q_pipeline_semantic" ->
      s"""WITH sd AS (${Similarity.semDedupOracleSql()}),
         |d AS (SELECT doc_id, text FROM documents
         |      WHERE doc_id NOT IN (SELECT vec_id FROM sd WHERE dropped = 1)),
         |q AS (SELECT doc_id,
         |  $QUALITY_SQL AS quality,
         |  CAST(len($TOKS) AS INTEGER) AS n_tokens
         |FROM d)
         |SELECT doc_id, quality, n_tokens FROM q WHERE quality >= 0.5""".stripMargin)
}
