package graft

/** Plan-quality audit: prints `explain("formatted")` for representative
  * queries so scan pushdown, broadcast joins, TakeOrderedAndProject, and
  * single-shuffle window pipelines are inspectable —
  * `sbt "runMain graft.ExplainAudit" > docs/EXPLAIN.md`.
  */
object ExplainAudit {
  def main(args: Array[String]): Unit = {
    // the contract session (GraftExtensions included), so the audited
    // plans are the ones Bench and Verify run
    val spark = SessionTuning.session()
    spark.sparkContext.setLogLevel("ERROR")
    val d = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val picks = Seq(
      "q_range_filter",   // expect PushedFilters + pruned ReadSchema
      "q1_agg",           // expect partial_ aggregation before exchange
      "q_join_inner",     // expect BroadcastHashJoin on dims
      "q_topk",           // expect TakeOrderedAndProject
      "q_rsi",            // expect ONE exchange feeding both window aggs
      "q_sim_topk",       // expect broadcast of the query vector
      "q_asof",           // expect ONE exchange + per-partition sort
      "q_window_range",   // expect RANGE interval frame in WindowExec
      "q_minhash_pairs",  // expect fused MinhashHashes project + ONE
                          //   ObjectHashAggregate pair (partial+final) +
                          //   bucket aggregation (no self-join)
      "q_sim_ivf",        // expect map-side NearestCentroid filter +
                          //   TakeOrderedAndProject, zero exchanges
      "q_ngram_jaccard",  // expect ONE bucket aggregation (groupBy
                          //   shingle + collect_list) generating pairs,
                          //   no self-join of the shingle table.
                          //   (q_dedup_groups is not auditable here: at
                          //   audit scale its union-find fast path
                          //   returns a LocalRelation by design)
      "q_session",        // expect ONE exchange on user_id feeding
                          //   MergingSessions + session-window agg
                          //   (UpdatingSessions is the streaming twin)
      "q_range_join",     // expect a shuffled EQUI-join on the bucket id
                          //   (never BNLJ/cartesian) with the range
                          //   predicate as the join's post-condition
      "q_dup_ngrams",     // expect a single codegen'd Project of the two
                          //   NgramRepetition structs over the scan
      "q_kmv_distinct",   // expect partial+final ObjectHashAggregate of
                          //   ONE bounded KmvLongAgg buffer — no distinct
                          //   exchange of the shingle set
      "q_winnow",         // expect ONE hash exchange on doc_id feeding
                          //   the in-partition sort + running-min Window,
                          //   then the distinct aggregation
      "q_chunk",          // expect scan → project → Generate → project;
                          //   the ONE exchange is the round-robin
                          //   parallelism unlock on the single-row-group
                          //   fixture (no-op at corpus scale) — no
                          //   data-dependent exchange anywhere
      "q_decontaminate",  // expect the bench shingles under a
                          //   BroadcastExchange and ONE doc_id hash
                          //   exchange for the per-doc counts
      "q_decontaminate_x",// the two-input production path: same
                          //   broadcast contract, but NO InMemoryRelation
                          //   anywhere — nothing corpus-scale cached
      "q_semdedup",       // expect map-side NearestCentroid projection
                          //   (no centroid join) + cid-keyed self-join
      "q_decontaminate_sem", // expect ONE fused BestCosine projection
                          //   over the scan — zero exchanges, zero joins
                          //   (the collected bench matrix rides in the
                          //   expression)
      "q_heavy_hitters",  // expect the literal-array CMS est Filter
                          //   directly over the exploded scan (no join),
                          //   one exchange into the candidate-key agg
      "q_source_kl",      // expect ONE feature-stream pass into the
                          //   (source, b) partial agg; everything above
                          //   runs on |sources|·B rows
      "q_bloom_semi",     // expect a map-side BloomContainsLong Filter
                          //   directly over the lineitem scan, BELOW the
                          //   exact semi-join
      "q_token_budget",   // expect the doc-side Window PARTITIONED by
                          //   the quality bucket + the offsets window
                          //   only above the tiny per-bucket aggregate
      "q_quality_topp",   // expect the doc-side Window PARTITIONED by
                          //   (lang, qb); lang-only windows run above
                          //   the per-bucket aggregate frame only
      "q_unigram_ppl",    // expect TWO corpus token passes (vocab-sized
                          //   freq build + probe join), the total as a
                          //   broadcast scalar from a NO-SHUFFLE doc
                          //   scan (r6: no cache, no InMemoryRelation
                          //   anywhere), one doc-keyed aggregation
      "q_indicator_replay", // expect ONE exchange on user_id feeding
                          //   every Window op (change + RSI + EMA — the
                          //   T3 batch twin shares the q_rsi shape)
      "q_semdedup_cc",    // expect the q_semdedup assignment shape
                          //   (map-side NearestCentroid, cid-keyed
                          //   self-join); the CC rounds run at action
                          //   time, so the static plan shows the pair
                          //   side feeding the component join
      "q_drop_reasons",   // the most expensive non-dedup query (r6
                          //   audit): expect the whole rule battery as
                          //   ONE codegen'd Project over the scan — the
                          //   only exchanges are the parallelism unlock
                          //   and the tiny corpus-stats aggregate
      "q_minhash_dropped",// expect the drop-list miner (shingle-df agg
                          //   + top-k) anti-joined BELOW the signature
                          //   pipeline — boilerplate never reaches the
                          //   band shuffle
      "q_pipeline_neardup", // expect the pair pipeline feeding CC and a
                          //   doc_id anti-join; quality/token stage as
                          //   expressions on survivors, no extra
                          //   corpus-scale shuffle
      "q_percentiles",    // expect ONE exact-percentile aggregation
                          //   (partial+final) — no per-row window, no
                          //   global sort
      "q_neardup_gate",   // expect the word+char signature pipelines
                          //   unioned into ONE CC input, fingerprint
                          //   row_number windows partitioned by hash —
                          //   no unpartitioned window, no self-join of
                          //   the doc table
      "q_sim_pq",         // expect map-side NearestCentroid codes +
                          //   literal-array LUT lookups feeding
                          //   TakeOrderedAndProject — zero exchanges
                          //   in the scoring scan (codebooks are
                          //   driver literals)
      "q_sim_ivfpq",      // expect ONE map-side scan: NearestCentroid
                          //   coarse-list filter + m code assignments +
                          //   literal LUT lookups feeding
                          //   TakeOrderedAndProject — zero joins, zero
                          //   exchanges beyond the top-k
      "q_sim_pq_probe",   // the persisted-artifact serving shape:
                          //   expect a scan of ONLY the codes table
                          //   (vid + m-int code, no raw vectors, no
                          //   training aggregation anywhere) into
                          //   TakeOrderedAndProject
      "q_sim_ivfpq_probe",// same, plus the stored-list isin filter
                          //   pushed at the codes scan
      "q_ann_join",       // batch retrieval: expect the routed query
                          //   side under a BroadcastExchange, the
                          //   corpus scanned map-side (NearestCentroid
                          //   assignment, no corpus shuffle), and ONE
                          //   qid-keyed exchange for the per-query
                          //   top-k window — candidate-proportional
      "q_ann_join_pq",    // the same query-set shape over the STORED
                          //   index: expect a scan of only the codes
                          //   table joined to the broadcast routed
                          //   queries, nested-literal codebook lookups,
                          //   no training aggregation anywhere
      "q_ema_seg",        // expect TWO hash aggregations (chunk-level
                          //   then key-level segmented scan) — no
                          //   one-partition window, no full-series
                          //   buffer anywhere in the plan
      "q_line_dedup",     // expect posexplode → line-keyed distinct-doc
                          //   aggregation → anti-join → ONE doc_id
                          //   reassembly aggregation; shuffles carry
                          //   (line, id, pos) triples, never full docs
      "q_multimodal_video", // expect a pure MapPartitions codec
                          //   boundary — no hash exchange anywhere
                          //   (only the fixture parallelism unlock)
      "q_pack",           // expect the doc-side running-sum Window
                          //   PARTITIONED by the id-range chunk; the
                          //   only unpartitioned window runs over the
                          //   tiny per-chunk offsets aggregate
      "q_postings",       // expect ONE token-keyed ObjectHashAggregate
                          //   pair (bounded min-k buffer + df count) —
                          //   no collect_list, no window
      "q_bm25",           // expect the term filter BELOW the explode's
                          //   aggregations (df-sized frames), dl as a
                          //   per-row projection, and (N, avgdl) as a
                          //   single-row broadcast scalar attach
      "q_bm25_index",     // the index-SERVED twin: expect the term
                          //   filter directly over the tf artifact
                          //   (partition pruning once the table is
                          //   token-partitioned), df as a count over
                          //   the pruned slice, (N, avgdl) from the
                          //   doc-scale dl sidecar — never the corpus
      "q_pack_rows",      // expect q_pack's chunk-partitioned running
                          //   sum plus ONE bounded per-doc Generate
                          //   (bin sequence) — no corpus-wide window
      "q_pack_shuffled",  // expect the SAME decomposition in hash
                          //   order: cumsum window partitioned by the
                          //   md5-60 high-bits chunk (ordered hk, id),
                          //   offsets only over the nChunks-row totals
                          //   frame, then the shared bounded Generate
      "q_pack_curriculum", // the easy-first layout: cumsum window
                          //   partitioned by the xent VALUE bucket,
                          //   the unigram scalar as a one-row attach,
                          //   then the same bounded slice Generate
      "q_pack_semantic",  // the cluster-grouped layout: one map-side
                          //   NearestCentroid projection + a doc-keyed
                          //   join, cumsum window partitioned by the
                          //   composite (list, id-range) chunk — only
                          //   (doc_id, list) keys cross the modality
      "q_pack_shuffled_bpe", // the PRODUCTION combination: the hash-
                          //   order decomposition with the native
                          //   bpeencode count — same shapes as the
                          //   shuffled row, no joins, no explode
                          //   before the shared slice Generate
      "q_fim",            // expect a pure per-row projection — three
                          //   salted hashes + two array slices, no
                          //   hash exchange anywhere
      "q_span_corrupt",   // expect per-row hash flags (no lag chain)
                          //   and ONE doc_id exchange shared by the
                          //   sentinel-counter window and the
                          //   reassembly aggregation (subset rule)
      "q_loss_mask",      // expect tokenize + bounded posexplode +
                          //   two anchored regex tests — no exchange
      "q_mix_repeat_apply", // expect the |sources|-row plan broadcast
                          //   back over one scan + a bounded epoch
                          //   Generate — the corpus never shuffles
      "q_hard_negatives", // expect q_ann_join's routed-broadcast
                          //   candidate join with the band filter
                          //   BELOW the per-anchor rank window
      "q_zipf",           // expect two map-side-combinable partial
                          //   aggregation pairs; the regression runs
                          //   on the spectrum frame — no window
      "q_multimodal_pixels", // expect a pure MapPartitions codec
                          //   boundary (container walk + BMP raster) —
                          //   no hash exchange; blobs never shuffle
      "q_percentiles_disc", // expect exact rank selection: windows
                          //   partitioned by (group, value-bucket), the
                          //   ordered-offset pass only on the bucket-
                          //   totals frame — never a value-scale
                          //   unpartitioned window
      "q_bm25_topk_stored", // expect the endpoint composition in ONE
                          //   plan: PartitionFilters on tbucket at the
                          //   stored tf scan AND TakeOrderedAndProject
                          //   on top — never a global sort
      "q_bm25_serve",     // expect the df-cut endpoint: a SINGLE
                          //   tbucket partition value (the stopword
                          //   terms never enter the plan) under the
                          //   same TakeOrderedAndProject cut
      "q_bucket_join",    // expect NO join-side exchange: at audit
                          //   scale the optimizer broadcasts the small
                          //   side; at scale (broadcast disabled) the
                          //   co-bucketed scans feed a SortMergeJoin
                          //   with zero exchanges — PlanQualitySpec
                          //   pins that shape mechanically. The only
                          //   exchanges here are the tiny per-lang
                          //   rollup + its ORDER BY
      "q_bucket_lookup",  // expect the bucket-pruned point lookup:
                          //   SelectedBucketsCount: 1 out of 16 at the
                          //   scan — 1/16 of the files listed and read
      "q_phrase_serve",   // expect the phrase endpoint: PartitionFilters
                          //   naming exactly the 3 phrase terms' tbucket
                          //   dirs at the positional-index scan, the
                          //   adjacency fold, and TakeOrderedAndProject
                          //   on top — never a global sort
      "q_bm25_wand",      // expect BOTH partition filters at the WAND
                          //   tf scan — tbucket (query terms) AND dblock
                          //   (surviving doc blocks) — under the top-k
                          //   cut; global df joins as a broadcast literal
      "q_sim_sq",         // expect ONE map-side quantize-and-score
                          //   projection (max-abs fold + floor codes +
                          //   literal query dot) into
                          //   TakeOrderedAndProject — zero exchanges
      "q_sim_sq_probe",   // the persisted twin: a scan of ONLY the int8
                          //   codes table (no raw vectors) into the cut
      "q_nb_classify",    // expect the feature stream joined to the
                          //   BROADCAST C×B model grid, one (doc, class)
                          //   aggregation, and the argmax window over
                          //   C-row frames — never corpus-scale windows
      "q_pagerank_incr",  // expect the stored pair-shard scan (fixed-
                          //   width rows, no minhash pipeline anywhere)
                          //   feeding the iteration's cached edge join
      "q_split_leakproof", // expect the CC output left-joined to the doc
                          //   ids and ONE map-side md5-bucket projection
                          //   — the split itself adds no shuffle
      "q_hybrid_wand_ann", // the production endpoint in ONE plan: the
                          //   WAND tf scan carries BOTH partition
                          //   filters, the ANN side reads stored codes,
                          //   and every ranking is a TakeOrdered cut
                          //   (kw top-100, ADC shortlist, exact rerank,
                          //   fusion top-20)
      "q_bm25_retire",    // tombstoned serving: the retained dl/tf
                          //   anti-joins sit under the same pruned
                          //   scan + scalar attach — no corpus rescan,
                          //   no index rewrite
      "q_nb_retire",      // ingest − retire count channels union into
                          //   ONE bounded (class, bucket) aggregation —
                          //   the model grid stays C×B broadcast-scale
      "q_multimodal_audiohash", // expect a pure MapPartitions codec
                          //   boundary (WAV decode + energy fold) —
                          //   no hash exchange; blobs never shuffle
      "q_bm25_wand_retire", // tombstoned WAND: BOTH partition filters
                          //   survive the retire anti-joins; the df
                          //   correction joins as a broadcast literal
      "q_hybrid_wand_ann_retire", // the takedown-aware endpoint keeps
                          //   the q_hybrid_wand_ann shape: both
                          //   partition filters + >=4 TakeOrdered cuts
                          //   with O(tombstones) anti-joins layered in
      "q_sim_ivfpq_rerank_retire", // retained-codes ADC shortlist into
                          //   the exact-cosine rerank cut — the
                          //   remove_ids serve, no retrain, no rewrite
      "q_substr_incr",    // window table served from shards: NO
                          //   tokenize/hash stage anywhere in the plan —
                          //   the mine ran at ingest
      "q_substr_retire",  // tombstoned window serve: the doc-id channel
                          //   anti-join is the ONLY addition — still no
                          //   Generate/tokenize anywhere
      "q_substr_fold",    // post-fold serve: reads like the plain
                          //   incremental row (one m-shard, no channel)
      "q_line_dedup_incr", // hot-line set from summed count shards
                          //   broadcast into the anti-join; only the
                          //   docs being rewritten explode
      "q_line_dedup_retire", // netted hot set: the retire counts union
                          //   NEGATIVE into the same sum — one extra
                          //   shard scan, no second explode
      "q_winnow_incr",    // fingerprint table served from shards: no
                          //   shingle/hash/window stage in the plan —
                          //   the pair bucketing is the only corpus work
      "q_decontaminate_bloom", // the bloom prune is a map-side Filter
                          //   (native contains expression) ABOVE the
                          //   shingle stream; only survivors reach the
                          //   string-keyed exact semi-join
      "q_source_kl_incr", // drift from maintained counts: shard scan
                          //   into the bounded |sources|×B grid — no
                          //   corpus-scale feature explode at read
      "q_bigram_incr",    // LM scoring from the kind-tagged count
                          //   shards: the corpus explodes once for the
                          //   probe stream; counts come from shard scans
      "q_bpe_tokens",     // tokenizer apply: expect the native
                          //   codegen'd BpeEncode expression (merge
                          //   table as a plan reference object) over
                          //   the exploded word stream — no join,
                          //   one doc-keyed exchange
      "q_token_budget_bpe", // the BPE-denominated budget: expect the
                          //   same two-level prefix-sum shape as
                          //   q_token_budget (qb-partitioned doc-side
                          //   window, broadcast offsets) with the
                          //   subword count as ONE bpeencode projection
                          //   — never a join against an encoded vocab
      "q_mix_apply_bpe")  // BPE-denominated mixture: the |sources|-row
                          //   plan aggregates map-side and BROADCASTS
                          //   back; the corpus side reads once with a
                          //   per-row hash keep-test, no corpus shuffle
    picks.foreach { name =>
      println(s"\n## $name\n")
      SparkEntry.queries(name)(spark, d).explain("formatted")
    }
    spark.stop()
  }
}
