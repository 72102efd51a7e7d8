package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.streaming.{PostingsIndex, Snapshot}

/** Streaming inverted-index maintenance: shard-per-batch writes,
  * exact shard merging (KMV union property), replay idempotence by
  * construction, manifest-safe compaction. */
class PostingsIndexSpec extends SparkSpec {
  import spark.implicits._

  private def docs(ids: Range) =
    ids.map(i => (i.toLong, s"common uniq$i grp${i % 3}")).toDF("doc_id", "text")

  private def rows(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r =>
      (r.getString(0), r.getLong(1), r.getSeq[Long](2).toList)).toSet

  test("shards merge to the direct index; replay no-op; compaction keeps pinned reads") {
    val dir = java.nio.file.Files.createTempDirectory("postings-idx").toString
    val idx = s"$dir/index"
    val batches = (0 until 4).map(b => docs(b * 10 until b * 10 + 10))
    batches.zipWithIndex.foreach { case (b, i) =>
      PostingsIndex.indexBatch(b, i, idx, cap = 4, snapshots = true)
    }
    val direct = rows(graft.queries.PipelineQueries.postingsIndexOf(
      batches.reduce(_ unionByName _), cap = 4))
    assert(rows(PostingsIndex.readIndex(spark, idx, cap = 4)) == direct)
    // "common" spans all 40 docs; cap 4 forces true preview merging
    assert(direct.exists { case (t, df, p) =>
      t == "common" && df == 40L && p == List(0L, 1L, 2L, 3L) })

    // replay of an already-committed batch rewrites only its own shard,
    // and a version pinned BEFORE the replay keeps resolving — the
    // rewrite retires the prior files through the manifest instead of
    // deleting them out from under pinned readers
    val vPre = Snapshot.latestVersion(spark, idx).get
    PostingsIndex.indexBatch(batches(2), 2, idx, cap = 4, snapshots = true)
    assert(rows(PostingsIndex.readIndex(spark, idx, cap = 4)) == direct,
      "replayed batch changed the index")
    assert(rows(PostingsIndex.readIndex(spark, idx, cap = 4,
      version = Some(vPre))) == direct,
      "pinned pre-replay version broken by the shard rewrite")

    // compact all shards into one; a version pinned BEFORE compaction
    // still reads the identical index (retired shards resolve from
    // _stale), and the latest read is unchanged
    val v0 = Snapshot.latestVersion(spark, idx).get
    val (nb, na) = PostingsIndex.compactShards(spark, idx, cap = 4)
    assert(nb == 4 && na == 1, s"compaction $nb -> $na")
    assert(rows(PostingsIndex.readIndex(spark, idx, cap = 4)) == direct)
    assert(rows(PostingsIndex.readIndex(spark, idx, cap = 4,
      version = Some(v0))) == direct, "pinned pre-compaction read drifted")

    // appends after compaction keep composing
    PostingsIndex.indexBatch(docs(100 until 105), 4, idx, cap = 4,
      snapshots = true)
    val all = batches.reduce(_ unionByName _).unionByName(docs(100 until 105))
    val allRows = rows(graft.queries.PipelineQueries.postingsIndexOf(all, cap = 4))
    assert(rows(PostingsIndex.readIndex(spark, idx, cap = 4)) == allRows)

    // crash-injected compaction recovery: a compaction that died
    // between its merged-shard write and its commit left an ORPHAN
    // m-shard no manifest references — re-running compactShards must
    // delete it first (merging it would double-count every df)
    PostingsIndex.mergeShards(
        spark.read.parquet(idx).drop("shard"), cap = 4)
      .write.parquet(s"$idx/shard=mCRASH")
    val (nb2, na2) = PostingsIndex.compactShards(spark, idx, cap = 4)
    assert(na2 == 1, s"recovery compaction $nb2 -> $na2")
    assert(rows(PostingsIndex.readIndex(spark, idx, cap = 4)) == allRows,
      "orphan m-shard double-counted into the recovered index")

    // the OTHER replay window: a batch whose shard a compaction already
    // consumed (in-band: crash between the compactEvery compaction and
    // the checkpoint commit). The merged shard's watermark makes the
    // replay a no-op — without it, shard=b0 would be re-created and
    // every batch-0 df double-counted against the merged shard
    PostingsIndex.indexBatch(batches(0), 0, idx, cap = 4, snapshots = true)
    assert(rows(PostingsIndex.readIndex(spark, idx, cap = 4)) == allRows,
      "replay of a compaction-consumed batch double-counted")
  }

  test("the live sink maintains the index across micro-batches with compaction") {
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("postings-sink").toString
    val idx = s"$dir/index"
    val mem = MemoryStream[(Long, String)]
    val q = PostingsIndex.startIndexSink(
      mem.toDF().toDF("doc_id", "text"), idx, s"$dir/ck",
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0),
      cap = 4, compactEvery = 2, snapshots = true)
    try {
      mem.addData((1L, "x alpha"), (2L, "x beta"))
      q.processAllAvailable()
      mem.addData((3L, "x alpha"), (4L, "y"))
      q.processAllAvailable() // batch 1 -> compaction fires
      mem.addData((5L, "y zeta"))
      q.processAllAvailable()
    } finally q.stop()
    val expect = rows(graft.queries.PipelineQueries.postingsIndexOf(
      Seq((1L, "x alpha"), (2L, "x beta"), (3L, "x alpha"), (4L, "y"),
        (5L, "y zeta")).toDF("doc_id", "text"), cap = 4))
    assert(rows(PostingsIndex.readIndex(spark, idx, cap = 4)) == expect)
    assert(expect.exists { case (t, df, p) =>
      t == "x" && df == 3L && p == List(1L, 2L, 3L) })
  }

  test("a reader pinned at version v is bit-stable through crash + recovery + re-compaction") {
    // the r10 verdict's missing window: the orphan-m-shard recovery was
    // crash-injected, but nothing pinned a READER across the whole arc
    // — pin v, crash a compaction after its merged write, recover (the
    // re-run deletes the orphan), compact again after a new batch. The
    // pinned read must return the identical index at every point.
    val dir = java.nio.file.Files.createTempDirectory("postings-pin").toString
    val idx = s"$dir/index"
    val batches = (0 until 3).map(b => docs(b * 10 until b * 10 + 10))
    batches.zipWithIndex.foreach { case (b, i) =>
      PostingsIndex.indexBatch(b, i, idx, cap = 4, snapshots = true)
    }
    val expect = rows(graft.queries.PipelineQueries.postingsIndexOf(
      batches.reduce(_ unionByName _), cap = 4))
    val vPin = Snapshot.latestVersion(spark, idx).get
    def pinned() = rows(PostingsIndex.readIndex(spark, idx, cap = 4,
      version = Some(vPin)))

    // crash: merged m-shard fully written (CARRYING its watermark
    // suffix, as compactWith names it), manifest never committed
    PostingsIndex.compactShardsCrashAfterMerge(spark, idx, cap = 4)
    assert(pinned() == expect, "pinned read drifted inside the crash window")
    assert(rows(PostingsIndex.readIndex(spark, idx, cap = 4)) == expect,
      "latest manifest read saw the orphan m-shard")
    // a replay INSIDE the crash window must NOT trust the orphan's
    // watermark (it committed nothing): the shard rewrite still runs —
    // fresh files land in shard=b0 — instead of silently skipping
    val b0 = new org.apache.hadoop.fs.Path(s"$idx/shard=b0")
    val fs0 = b0.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def b0files() = fs0.listStatus(b0)
      .filter(_.getPath.getName.endsWith(".parquet"))
      .map(_.getPath.getName).toSet
    val preReplay = b0files()
    PostingsIndex.indexBatch(batches(0), 0, idx, cap = 4, snapshots = true)
    assert(b0files() != preReplay,
      "replay skipped its rewrite: the UNCOMMITTED orphan watermark was trusted")
    assert(pinned() == expect, "pinned read drifted across the in-window replay")
    assert(rows(PostingsIndex.readIndex(spark, idx, cap = 4)) == expect)

    // recovery: the re-run deletes the orphan, merges the referenced
    // originals, retires them through the manifest
    val (_, na) = PostingsIndex.compactShards(spark, idx, cap = 4)
    assert(na == 1, s"recovery left $na shards")
    assert(pinned() == expect, "pinned read drifted across recovery")
    assert(rows(PostingsIndex.readIndex(spark, idx, cap = 4)) == expect)

    // a further append + re-compaction after the recovery
    PostingsIndex.indexBatch(docs(100 until 110), 3, idx, cap = 4,
      snapshots = true)
    PostingsIndex.compactShards(spark, idx, cap = 4)
    assert(pinned() == expect, "pinned read broken by post-recovery compaction")
  }

  test("the streaming tf index serves BM25 across shard merges") {
    // the two halves of keyword retrieval COMPOSE: the continuously-
    // maintained tf/doc-length artifacts answer the flagship scoring
    // query without touching the corpus, through replay and compaction
    import graft.functions.TextAnalysis
    val dir = java.nio.file.Files.createTempDirectory("postings-tf").toString
    val (tfP, dlP) = (s"$dir/tf", s"$dir/dl")
    def tdocs(ids: Range) = ids.map(i => (i.toLong,
      s"join ${if (i % 2 == 0) "filter join" else "plain"} dup word$i"))
      .toDF("doc_id", "text")
    val batches = (0 until 3).map(b => tdocs(b * 7 until b * 7 + 7))
    // compactEvery=2: batch 1 triggers a mid-stream union compaction
    batches.zipWithIndex.foreach { case (b, i) =>
      PostingsIndex.tfIndexBatch(b, i, tfP, dlP, compactEvery = 2,
        snapshots = true)
    }
    val terms = Seq("join", "filter", "dup")
    def bm25Map(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) ->
        (r.getDouble(1), r.getLong(2))).toMap
    def servedMap() = bm25Map(TextAnalysis.bm25FromIndex(
      PostingsIndex.readUnionShards(spark, tfP),
      PostingsIndex.readUnionShards(spark, dlP), terms))
    val direct = bm25Map(TextAnalysis.bm25(
      batches.reduce(_ unionByName _), "doc_id", "text", terms))
    def assertServes(label: String): Unit = {
      val served = servedMap()
      assert(served.keySet == direct.keySet, s"$label: doc sets differ")
      served.foreach { case (k, (s, h)) =>
        val (ds, dh) = direct(k)
        assert(h == dh && math.abs(s - ds) < 1e-9,
          s"$label: doc $k served ($s,$h) vs direct ($ds,$dh)")
      }
    }
    assertServes("post-ingest")
    // replay of a committed batch is a no-op on the served scores
    val tfRows = PostingsIndex.readUnionShards(spark, tfP).count()
    PostingsIndex.tfIndexBatch(batches(1), 1, tfP, dlP, snapshots = true)
    assert(PostingsIndex.readUnionShards(spark, tfP).count() == tfRows,
      "replayed batch changed the tf index")
    assertServes("post-replay")
    // full union compaction of both artifacts — still identical (tf
    // keeps its token-bucketed layout through the rewrite)
    PostingsIndex.compactUnionShards(spark, tfP, tokenBuckets = true)
    PostingsIndex.compactUnionShards(spark, dlP)
    assertServes("post-compaction")

    // the STORED layout prunes: a single-term read touches only that
    // term's bucket dirs — here through the MANIFEST path (snapshots
    // are on), i.e. keepRel file-list pruning, across the compacted
    // m-shard too
    val bJoin = PostingsIndex.tokenBucketLocal("join")
    val pruned = PostingsIndex.readTfIndex(spark, tfP,
      buckets = Some(Set(bJoin)))
    assert(pruned.inputFiles.nonEmpty &&
      pruned.inputFiles.forall(_.contains(s"tbucket=$bJoin")),
      s"manifest-path pruning leaked: ${pruned.inputFiles.toSeq}")
    // and the pruned server returns the same scores
    val stored = bm25Map(PostingsIndex.bm25FromStored(spark, tfP, dlP, terms))
    assert(stored.keySet == direct.keySet)
    stored.foreach { case (k, (s, h)) =>
      val (ds, dh) = direct(k)
      assert(h == dh && math.abs(s - ds) < 1e-9,
        s"bm25FromStored: doc $k ($s,$h) vs ($ds,$dh)")
    }

    // raw-path pruning too (no snapshots): the plain partitioned read
    // prunes at PLANNING time from the partition-column filter —
    // inputFiles reflects the pre-planning file index, so the pin is
    // the scan's PartitionFilters clause (the PlanQualitySpec idiom)
    val dir2 = java.nio.file.Files.createTempDirectory("postings-tf-raw").toString
    PostingsIndex.tfIndexBatch(batches(0), 0, s"$dir2/tf", s"$dir2/dl")
    val prunedRaw = PostingsIndex.readTfIndex(spark, s"$dir2/tf",
      buckets = Some(Set(bJoin)))
    val rawPlan = prunedRaw.queryExecution.executedPlan.toString
    assert(rawPlan.contains("PartitionFilters: [") &&
      "PartitionFilters: \\[[^\\]]*tbucket".r.findFirstIn(rawPlan).isDefined,
      s"raw-path scan carries no tbucket partition filter:\n${rawPlan.take(900)}")
  }

  test("a crash between the tf and dl shard writes replays to a consistent pair") {
    // the split-write window: tfIndexBatch writes the tf shard, then
    // the dl shard — a crash between them leaves the pair inconsistent
    // until the checkpoint replays the batch. The replay must heal it:
    // the tf rewrite is a content no-op, the dl side lands, and the
    // served scores equal the direct computation.
    import graft.functions.TextAnalysis
    import org.apache.spark.sql.functions.col
    val dir = java.nio.file.Files.createTempDirectory("tf-crash").toString
    val (tfP, dlP) = (s"$dir/tf", s"$dir/dl")
    val b0 = Seq((1L, "join filter a"), (2L, "dup b")).toDF("doc_id", "text")
    val b1 = Seq((3L, "join c"), (4L, "filter dup d")).toDF("doc_id", "text")
    PostingsIndex.tfIndexBatch(b0, 0, tfP, dlP)
    // crash injection: batch 1's tf shard lands, its dl shard does NOT
    TextAnalysis.tfPostings(b1, "doc_id", "text")
      .withColumn("tbucket", PostingsIndex.tokenBucket(col("token")))
      .write.partitionBy("tbucket").mode("overwrite")
      .parquet(s"$tfP/shard=b1")
    // replay heals: tf rewritten (identical content), dl written
    PostingsIndex.tfIndexBatch(b1, 1, tfP, dlP)
    val terms = Seq("join", "filter", "dup")
    val served = PostingsIndex.bm25FromStored(spark, tfP, dlP, terms)
      .collect().map(r => r.getLong(0) -> ((r.getDouble(1), r.getLong(2)))).toMap
    val direct = TextAnalysis.bm25(b0.unionByName(b1), "doc_id", "text", terms)
      .collect().map(r => r.getLong(0) -> ((r.getDouble(1), r.getLong(2)))).toMap
    assert(served.keySet == direct.keySet && served.nonEmpty)
    served.foreach { case (k, (s, h)) =>
      val (ds, dh) = direct(k)
      assert(h == dh && math.abs(s - ds) < 1e-9,
        s"post-crash-replay doc $k: ($s,$h) vs ($ds,$dh)")
    }
  }

  test("the recorded tf/dl pair never mixes corpus states across a split-write crash") {
    // the version-drift hazard the _pairs sidecar closes: a crash
    // between the tf commit and the dl write leaves tf's version
    // counter one ahead — "latest of each" would score batch-1 tf rows
    // against a batch-0 dl sidecar (two different corpus states). The
    // pair marker lands strictly AFTER both commits, so the latest
    // RECORDED pair always names one corpus state, through the crash
    // window and after the replay heals it.
    import graft.functions.TextAnalysis
    val dir = java.nio.file.Files.createTempDirectory("tf-pairs").toString
    val (tfP, dlP) = (s"$dir/tf", s"$dir/dl")
    val b0 = Seq((1L, "join filter a"), (2L, "dup b join")).toDF("doc_id", "text")
    val b1 = Seq((3L, "join c"), (4L, "filter dup d")).toDF("doc_id", "text")
    val terms = Seq("join", "filter", "dup")
    def bm25Map(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) ->
        ((r.getDouble(1), r.getLong(2)))).toMap
    def directMap(docs: org.apache.spark.sql.DataFrame) =
      bm25Map(TextAnalysis.bm25(docs, "doc_id", "text", terms))
    def assertSame(label: String, a: Map[Long, (Double, Long)],
                   b: Map[Long, (Double, Long)]): Unit = {
      assert(a.keySet == b.keySet, s"$label: doc sets differ")
      a.foreach { case (k, (s, h)) =>
        val (ds, dh) = b(k)
        assert(h == dh && math.abs(s - ds) < 1e-9,
          s"$label: doc $k ($s,$h) vs ($ds,$dh)")
      }
    }
    PostingsIndex.tfIndexBatch(b0, 0, tfP, dlP, snapshots = true)
    val pair0 = PostingsIndex.latestConsistentPair(spark, tfP)
    assert(pair0.isDefined, "batch 0 recorded no pair")
    // crash: batch 1's tf shard COMMITS, its dl shard never lands, no
    // fresh pair is recorded — tf's latest version now leads the pair
    PostingsIndex.tfIndexBatchCrashAfterTf(b1, 1, tfP)
    assert(Snapshot.latestVersion(spark, tfP).get > pair0.get._1,
      "crash injection did not advance the tf version")
    assert(PostingsIndex.latestConsistentPair(spark, tfP) == pair0,
      "the crash window must not surface a new pair")
    // the naive latest-of-each read WOULD mix states (b1 tf rows over a
    // b0-only dl sidecar)...
    assert(PostingsIndex.readTfIndex(spark, tfP)
      .select("doc_id").distinct().count() == 4,
      "latest tf should already hold batch 1's docs")
    assert(PostingsIndex.readUnionShards(spark, dlP).count() == 2,
      "dl must still hold only batch 0")
    // ...but the pair-resolved default read keeps serving exactly the
    // pre-crash corpus state
    assertSame("inside the crash window",
      bm25Map(PostingsIndex.bm25FromStored(spark, tfP, dlP, terms)),
      directMap(b0))
    // the replay completes the batch and records the fresh pair
    PostingsIndex.tfIndexBatch(b1, 1, tfP, dlP, snapshots = true)
    val pair1 = PostingsIndex.latestConsistentPair(spark, tfP)
    assert(pair1.isDefined && pair1.get._1 > pair0.get._1)
    assertSame("after the healing replay",
      bm25Map(PostingsIndex.bm25FromStored(spark, tfP, dlP, terms)),
      directMap(b0.unionByName(b1)))
    // and the old pair stays pinnable: scoring at pair0 still serves b0
    assertSame("pinned at the pre-crash pair",
      bm25Map(PostingsIndex.bm25FromStored(spark, tfP, dlP, terms,
        tfVersion = Some(pair0.get._1), dlVersion = Some(pair0.get._2))),
      directMap(b0))
  }

  test("the df-bounded stored scorer cuts stopword terms inside the pinned deviation") {
    // partition pruning prunes to a term's BUCKET, not its posting
    // list: a stopword's Σ df tf rows are corpus-scale regardless. The
    // df summary sidecar lets the scorer drop such terms BEFORE the tf
    // scan; the price is a score deviation bounded by the dropped
    // terms' idf — which the BM25 formula sends to ~0 as df → N.
    val n = 40
    val corpus = (0 until n).map { i =>
      val rare = if (i % 10 == 0) " join" else ""
      (i.toLong, s"the common$rare word$i")
    }.toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("tf-dfbound").toString
    val (tfP, dlP, dfP) = (s"$dir/tf", s"$dir/dl", s"$dir/df")
    PostingsIndex.tfIndexBatch(corpus, 0, tfP, dlP, dfPath = Some(dfP))
    val terms = Seq("join", "the")
    def scoreMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val full = scoreMap(PostingsIndex.bm25FromStored(spark, tfP, dlP, terms))
    val bounded = scoreMap(PostingsIndex.bm25FromStored(spark, tfP, dlP,
      terms, dfPath = Some(dfP), maxDfFrac = Some(0.5)))
    // "the" (df = N) is cut; "join" (df = 4) survives — the deviation
    // of every surviving doc is at most the dropped term's maximum
    // possible contribution, idf · (k1+1), computed from the ACTUAL df
    val (k1, dfThe) = (1.2, n)
    val maxDev = math.log(1.0 + (n - dfThe + 0.5) / (dfThe + 0.5)) * (k1 + 1)
    assert(bounded.keySet == full.keySet.filter(_ % 10 == 0),
      "bounded result must keep exactly the docs with a surviving-term hit")
    bounded.foreach { case (k, s) =>
      assert(math.abs(full(k) - s) <= maxDev + 1e-9,
        s"doc $k deviates ${math.abs(full(k) - s)} > bound $maxDev")
    }
    // docs that left the result set had ONLY stopword hits — their full
    // score is itself inside the dropped-term bound
    (full.keySet -- bounded.keySet).foreach { k =>
      assert(full(k) <= maxDev + 1e-9,
        s"dropped doc $k had a non-stopword score ${full(k)}")
    }
    // exactness below the threshold: a frac no term crosses cuts
    // nothing and the result is IDENTICAL to the unbounded read
    val exact = scoreMap(PostingsIndex.bm25FromStored(spark, tfP, dlP,
      terms, dfPath = Some(dfP), maxDfFrac = Some(1.0)))
    assert(exact == full, "frac=1.0 must be bit-identical to unbounded")
    // every term cut: empty result, scorer schema intact
    val allCut = PostingsIndex.bm25FromStored(spark, tfP, dlP, Seq("the"),
      dfPath = Some(dfP), maxDfFrac = Some(0.5))
    assert(allCut.columns.toSeq == Seq("doc_id", "bm25", "n_hits") &&
      allCut.count() == 0)
    // and the df summary survives its re-aggregating compaction
    PostingsIndex.tfIndexBatch(
      Seq((100L, "the extra join doc")).toDF("doc_id", "text"), 1,
      tfP, dlP, dfPath = Some(dfP))
    PostingsIndex.compactDfShards(spark, dfP)
    val dfRows = PostingsIndex.readDfIndex(spark, dfP)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(dfRows("the") == (n + 1) && dfRows("join") == 5,
      s"compacted df summary wrong: $dfRows")
  }

  test("a pinned df-bounded read replays its cut decision as the corpus grows") {
    // The df summary is part of the pinned state: if the cut consulted
    // the LIVE summary, the same pinned call would change its term set
    // — and therefore its rows — the moment later batches push a term
    // across the threshold. The consistency marker records the df
    // version, and the pinned read cuts against THAT summary.
    val dir = java.nio.file.Files.createTempDirectory("tf-dfpin").toString
    val (tfP, dlP, dfP) = (s"$dir/tf", s"$dir/dl", s"$dir/df")
    // batch 0: 6 docs, "join" df=2 (frac 1/3, kept at 0.5), "the" df=6 (cut)
    val b0 = (0L until 6L).map { i =>
      (i, if (i < 2) s"the join doc$i" else s"the plain doc$i")
    }.toDF("doc_id", "text")
    PostingsIndex.tfIndexBatch(b0, 0, tfP, dlP, snapshots = true,
      dfPath = Some(dfP))
    val v0 = PostingsIndex.latestConsistentVersions(spark, tfP).get
    assert(v0._3.isDefined, "the marker must record the df version")
    def run(tfV: Option[Long], dlV: Option[Long],
            dfV: Option[Long] = None) =
      PostingsIndex.bm25FromStored(spark, tfP, dlP, Seq("join", "the"),
        tfVersion = tfV, dlVersion = dlV,
        dfPath = Some(dfP), maxDfFrac = Some(0.5), dfVersion = dfV)
        .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2)))
        .toSet
    val pinned0 = run(Some(v0._1), Some(v0._2))
    assert(pinned0.map(_._1) == Set(0L, 1L),
      s"batch-0 cut must keep exactly the join docs: $pinned0")
    // batch 1 floods "join": live df 12/16 crosses the 0.5 threshold
    val b1 = (10L until 20L).map(i => (i, s"the join flood$i"))
      .toDF("doc_id", "text")
    PostingsIndex.tfIndexBatch(b1, 1, tfP, dlP, snapshots = true,
      dfPath = Some(dfP))
    assert(run(None, None).isEmpty,
      "the LIVE read must now cut both terms (join df frac 0.75)")
    // the SAME pinned call replays the same cut and the same rows —
    // with and without spelling the marker's df version explicitly
    assert(run(Some(v0._1), Some(v0._2)) == pinned0,
      "the pinned cut decision drifted with the live df summary")
    assert(run(Some(v0._1), Some(v0._2), v0._3) == pinned0)
  }

  test("a one-sided version pin resolves its recorded partner, never the floating latest") {
    // Pinning only tfVersion (or only dlVersion) must not pair the pin
    // with the OTHER root's floating latest — that is the cross-state
    // mix the consistency markers exist to rule out. The partner comes
    // from the recorded marker history, and an un-recorded version
    // fails fast.
    val dir = java.nio.file.Files.createTempDirectory("tf-oneside").toString
    val (tfP, dlP) = (s"$dir/tf", s"$dir/dl")
    val terms = Seq("join", "filter", "dup")
    val b0 = Seq((1L, "join filter a"), (2L, "dup b join"))
      .toDF("doc_id", "text")
    PostingsIndex.tfIndexBatch(b0, 0, tfP, dlP, snapshots = true)
    val (t0, l0) = PostingsIndex.latestConsistentPair(spark, tfP).get
    // crash: tf advances past every recorded marker, dl stays behind
    PostingsIndex.tfIndexBatchCrashAfterTf(
      Seq((3L, "join c"), (4L, "filter dup d")).toDF("doc_id", "text"),
      1, tfP)
    def rowsOf(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2)))
        .toSet
    val full = rowsOf(PostingsIndex.bm25FromStored(spark, tfP, dlP, terms,
      tfVersion = Some(t0), dlVersion = Some(l0)))
    assert(rowsOf(PostingsIndex.bm25FromStored(spark, tfP, dlP, terms,
      tfVersion = Some(t0))) == full,
      "tf-only pin must resolve the marker's dl partner")
    assert(rowsOf(PostingsIndex.bm25FromStored(spark, tfP, dlP, terms,
      dlVersion = Some(l0))) == full,
      "dl-only pin must resolve the marker's tf partner")
    // the crash-advanced tf latest is in NO marker: one-sided pinning
    // it would have paired corpus state B's tf with state A's dl
    val tfLatest = Snapshot.latestVersion(spark, tfP).get
    assert(tfLatest > t0)
    intercept[IllegalArgumentException] {
      PostingsIndex.bm25FromStored(spark, tfP, dlP, terms,
        tfVersion = Some(tfLatest))
    }
  }

  test("a fully-pinned df-cut read fails fast once its marker is pruned, never drifts to live") {
    // r12 ADVICE: recordPair prunes markers beyond PairsKept; a fully
    // pinned (tfVersion, dlVersion) read with the df cut active used to
    // resolve df from those markers and SILENTLY fall back to the LIVE
    // df summary once the marker was gone — the pinned read's
    // stopword-cut decision then drifted with corpus growth, the exact
    // drift the marker exists to prevent. It must throw instead
    // (mirroring the one-sided partnerOf), and an explicit dfVersion
    // must still serve.
    val dir = java.nio.file.Files.createTempDirectory("tf-dfprune").toString
    val (tfP, dlP, dfP) = (s"$dir/tf", s"$dir/dl", s"$dir/df")
    // the plain doc keeps df("join") = 2/3 under the 0.9 cut
    val b0 = Seq((1L, "join filter a"), (2L, "join b"), (3L, "plain c"))
      .toDF("doc_id", "text")
    PostingsIndex.tfIndexBatch(b0, 0, tfP, dlP, snapshots = true,
      dfPath = Some(dfP))
    val v0 = PostingsIndex.latestConsistentVersions(spark, tfP).get
    def run(dfV: Option[Long]) =
      PostingsIndex.bm25FromStored(spark, tfP, dlP, Seq("join"),
        tfVersion = Some(v0._1), dlVersion = Some(v0._2),
        dfPath = Some(dfP), maxDfFrac = Some(0.9), dfVersion = dfV)
        .collect().map(_.getLong(0)).toSet
    val pinned = run(None)
    assert(pinned == Set(1L, 2L))
    // simulate the PairsKept prune: delete v0's marker file
    val pairs = new org.apache.hadoop.fs.Path(s"$tfP/_pairs")
    val fs = pairs.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val name = s"v${v0._1}-${v0._2}" + v0._3.map(v => s"-$v").getOrElse("")
    assert(fs.delete(new org.apache.hadoop.fs.Path(pairs, name), false),
      s"fixture bug: marker $name not found to delete")
    intercept[IllegalArgumentException] { run(None) }
    // the pin still serves when the caller spells the df version
    assert(run(v0._3) == pinned)
    // and WITHOUT the df cut the marker-less pin keeps working (no df
    // decision to drift)
    assert(PostingsIndex.bm25FromStored(spark, tfP, dlP, Seq("join"),
        tfVersion = Some(v0._1), dlVersion = Some(v0._2))
      .collect().map(_.getLong(0)).toSet == pinned)
  }

  test("block-max WAND: planted skew prunes whole doc-block files; top-k stays exact") {
    // a mid-df query over a skewed corpus — the shape the plain stored
    // top-k scores in full: docs 0-49 (block 0) carry tf=12 of 'mid',
    // the other blocks only tf=1, so block 0's k-th exact score exceeds
    // every other block's upper bound and they are skipped AT FILE
    // LEVEL (dblock partition dirs)
    val dir = java.nio.file.Files.createTempDirectory("wand").toString
    val (tfP, dlP, wP) = (s"$dir/tf", s"$dir/dl", s"$dir/wand")
    val docs = (0L until 200L).map { i =>
      val text =
        if (i < 50) ("mid " * 12) + "common"
        else if (i % 2 == 0) "mid common pad pad"
        else "common pad pad pad"
      (i, text)
    }.toDF("doc_id", "text")
    PostingsIndex.tfIndexBatch(docs, 0, tfP, dlP)
    PostingsIndex.wandLayoutFrom(spark, tfP, wP, span = 50L)
    val terms = Seq("mid", "common")
    val k = 10
    val (kept, _) = PostingsIndex.wandPlan(spark, wP, dlP, terms, k, 1.2, 0.75)
    assert(kept == Seq(0L),
      s"the planted skew must prune blocks 1-3 after seeding on block 0: $kept")
    // FILE-level evidence: the block filter shrinks the SCANNED file
    // set beyond what term-bucket pruning alone achieves — measured on
    // the executed scan's numFiles metric (DataFrame.inputFiles ignores
    // filters, so it cannot witness partition pruning)
    val buckets = terms.map(PostingsIndex.tokenBucketLocal)
      .toSet.toSeq.map((b: Int) => Integer.valueOf(b))
    def files(blockFilter: Boolean): Long = {
      import org.apache.spark.sql.functions.col
      val base = spark.read.parquet(s"$wP/tf")
        .where(col("tbucket").isin(buckets: _*))
      val df = if (blockFilter)
        base.where(col("dblock").isin(kept.map(java.lang.Long.valueOf): _*))
      else base
      df.collect()
      df.queryExecution.executedPlan.collectLeaves().collect {
        case s: org.apache.spark.sql.execution.FileSourceScanExec =>
          s.metrics("numFiles").value
      }.sum
    }
    assert(files(blockFilter = true) < files(blockFilter = false),
      s"block pruning must shrink the file set: ${files(true)} vs ${files(false)}")
    // EXACT: the pruned top-k equals the corpus-recomputed top-k,
    // scores included
    val wand = PostingsIndex.searchBm25Wand(spark, wP, dlP, terms, k)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    import org.apache.spark.sql.functions.col
    val full = graft.functions.TextAnalysis.bm25(docs, "doc_id", "text", terms)
      .orderBy(col("bm25").desc, col("doc_id").asc).limit(k)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(wand.map(_._1).toSeq == full.map(_._1).toSeq,
      s"pruned top-k ids diverged:\n${wand.toSeq}\nvs\n${full.toSeq}")
    wand.zip(full).foreach { case ((id, w), (_, f)) =>
      assert(math.abs(w - f) < 1e-9, s"doc $id: $w vs $f")
    }
    // uniform corpora are the null case: pruning keeps blocks, result
    // identical to the unpruned stored path (the q_bm25_wand oracle row
    // pins this on the fixture) — and an absent term yields empty
    assert(PostingsIndex.searchBm25Wand(spark, wP, dlP,
      Seq("never-seen"), k).collect().isEmpty)
  }

  test("WAND tombstones: the pruned serve equals a fresh layout over the retained corpus") {
    import org.apache.spark.sql.functions.col
    val dir = java.nio.file.Files.createTempDirectory("wand-ret").toString
    val (tfP, dlP, wP, retP) = (s"$dir/tf", s"$dir/dl", s"$dir/wand", s"$dir/retire")
    val docs = (0L until 200L).map { i =>
      val text =
        if (i < 50) ("mid " * 12) + "common"
        else if (i % 2 == 0) "mid common pad pad"
        else "common pad pad pad"
      (i, text)
    }.toDF("doc_id", "text")
    PostingsIndex.tfIndexBatch(docs, 0, tfP, dlP)
    PostingsIndex.wandLayoutFrom(spark, tfP, wP, span = 50L)
    // retire 40 of block 0's 50 heavy docs — the retained top-10 is a
    // genuinely different ranking (docs 40-49), df/N/avgdl all move
    val retired = docs.where(col("doc_id") < 40)
    PostingsIndex.retireAppend(retired.select("doc_id"), retP, 0L)
    val terms = Seq("mid", "common")
    val k = 10
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val served = rows(PostingsIndex.searchBm25Wand(spark, wP, dlP, terms, k,
      retirePath = Some(retP)))
    // ground truth 1: a FRESH index + layout over the retained corpus
    val (tfR, dlR, wR) = (s"$dir/tfR", s"$dir/dlR", s"$dir/wandR")
    val retained = docs.where(col("doc_id") >= 40)
    PostingsIndex.tfIndexBatch(retained, 0, tfR, dlR)
    PostingsIndex.wandLayoutFrom(spark, tfR, wR, span = 50L)
    val fresh = rows(PostingsIndex.searchBm25Wand(spark, wR, dlR, terms, k))
    assert(served.map(_._1) == fresh.map(_._1),
      s"tombstoned WAND ids diverged from the retained-corpus layout:\n$served\nvs\n$fresh")
    served.zip(fresh).foreach { case ((id, s), (_, f)) =>
      assert(math.abs(s - f) < 1e-9, s"doc $id: $s vs $f") }
    // ground truth 2: the unpruned corpus recompute
    val full = rows(graft.functions.TextAnalysis
      .bm25(retained, "doc_id", "text", terms)
      .orderBy(col("bm25").desc, col("doc_id").asc).limit(k))
    assert(served.map(_._1) == full.map(_._1))
    // no retired doc can be served, and the survivors of block 0 are
    assert(served.forall(_._1 >= 40))
    assert(served.map(_._1).toSet == (40L until 50L).toSet)
    // pruning still bites WITH tombstones active: stale block maxima
    // only over-bound, so block 0 still seeds and the tail blocks'
    // bounds stay below the retained theta on this skew
    val (kept, _) = PostingsIndex.wandPlan(spark, wP, dlP, terms, k,
      1.2, 0.75, retirePath = Some(retP))
    assert(kept.contains(0L) && kept.length < 4,
      s"tombstoned WAND stopped pruning: kept=$kept")
    // a never-written channel is plan-transparent: IDENTICAL physical
    // plan to the no-channel call (zero extra plan nodes — the
    // readCodesRetained discipline)
    val plain = PostingsIndex.searchBm25Wand(spark, wP, dlP, terms, k)
    val ghost = PostingsIndex.searchBm25Wand(spark, wP, dlP, terms, k,
      retirePath = Some(s"$dir/never-written"))
    // expression ids and plan ids differ between any two builds of the
    // same plan — strip them so the comparison sees plan SHAPE only
    def shape(df: org.apache.spark.sql.DataFrame): String =
      df.queryExecution.executedPlan.toString
        .replaceAll("#\\d+", "#x").replaceAll("plan_id=\\d+", "plan_id=x")
    assert(shape(ghost) == shape(plain),
      "a missing retire channel must not change the serving plan")
  }

  test("WAND maintenance: sharded appends serve bit-identically; compaction is bit-stable and replay-safe") {
    val dir = java.nio.file.Files.createTempDirectory("wand-maint").toString
    val (tfP, dlP) = (s"$dir/tf", s"$dir/dl")
    val docs = (0L until 200L).map { i =>
      val text =
        if (i < 50) ("mid " * 12) + "common"
        else if (i % 2 == 0) "mid common pad pad"
        else "common pad pad pad"
      (i, text)
    }.toDF("doc_id", "text")
    PostingsIndex.tfIndexBatch(docs, 0, tfP, dlP)
    // one-shot layout = the reference answer
    val wOne = s"$dir/wand-oneshot"
    PostingsIndex.wandLayoutFrom(spark, tfP, wOne, span = 50L)
    val terms = Seq("mid", "common")
    def top(wp: String) = PostingsIndex.searchBm25Wand(spark, wp, dlP,
      terms, 10).collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val reference = top(wOne)
    // maintained layout: three doc-hash-split batch appends — blocks
    // STRADDLE batches, so the sidecar's (max, sum) shard merge is
    // genuinely exercised, not just a disjoint union
    val wM = s"$dir/wand-maint"
    val parts = (0 until 3).map(b =>
      docs.where(graft.functions.TextAnalysis
        .hashBucket(org.apache.spark.sql.functions.col("doc_id"), 3) === b))
    parts.zipWithIndex.foreach { case (p, b) =>
      PostingsIndex.wandIndexBatch(p, b.toLong, wM, span = 50L) }
    assert(top(wM) == reference,
      "sharded WAND layout diverged from the one-shot layout")
    // a conflicting span on an existing layout must throw, not scatter
    intercept[IllegalArgumentException] {
      PostingsIndex.wandIndexBatch(parts(0), 99L, wM, span = 64L)
    }
    // replayed batch append: both shards exist -> no-op, result stable
    PostingsIndex.wandIndexBatch(parts(1), 1L, wM, span = 50L)
    assert(top(wM) == reference)
    // compaction folds the shards; the serve is BIT-stable across it
    val ((tfIn, tfOut), (bmIn, bmOut)) =
      PostingsIndex.compactWandShards(spark, wM)
    assert(tfIn == 3 && tfOut == 1 && bmIn == 3 && bmOut == 1,
      s"compaction shape: tf $tfIn->$tfOut bm $bmIn->$bmOut")
    assert(top(wM) == reference, "serve drifted across the compaction")
    // replayed compaction: <= 1 shard per table -> no-op
    val ((a, _), (c, _)) = PostingsIndex.compactWandShards(spark, wM)
    assert(a <= 1 && c <= 1)
    // a batch at or below the merged watermark must SKIP (its rows
    // live in the m-shard now; re-appending would double-count)
    PostingsIndex.wandIndexBatch(parts(2), 2L, wM, span = 50L)
    assert(top(wM) == reference,
      "replay below the compaction watermark re-appended rows")
  }

  test("a torn (0-byte) _span marker heals on the next WAND append") {
    val wP = java.nio.file.Files.createTempDirectory("wand-torn-span").toString
    val fs = new org.apache.hadoop.fs.Path(wP)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val marker = new org.apache.hadoop.fs.Path(s"$wP/_span")
    fs.create(marker, true).close() // death between create and write
    PostingsIndex.wandIndexBatch(docs(0 until 10), 0L, wP, span = 64L)
    val in = fs.open(marker)
    try assert(scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim == "64")
    finally in.close()
  }

  test("a new stream over a compacted index fails fast instead of losing batches") {
    // the lineage contract: the watermark skip is only safe for a TRUE
    // replay. A sink records its checkpoint in _lineage; a different
    // checkpoint — or none recorded where a skip is imminent — throws
    // at the first batch instead of silently dropping it.
    val dir = java.nio.file.Files.createTempDirectory("postings-lineage").toString
    val idx = s"$dir/index"
    val b = docs(0 until 5)
    PostingsIndex.indexBatch(b, 0, idx, snapshots = true,
      lineage = Some("ckA"))
    PostingsIndex.indexBatch(docs(5 until 10), 1, idx, snapshots = true,
      lineage = Some("ckA"))
    PostingsIndex.compactShards(spark, idx) // watermark m-shard exists
    val before = rows(PostingsIndex.readIndex(spark, idx))
    // true replay (same lineage): silent skip, content unchanged
    PostingsIndex.indexBatch(b, 0, idx, snapshots = true,
      lineage = Some("ckA"))
    assert(rows(PostingsIndex.readIndex(spark, idx)) == before)
    // a NEW stream (different checkpoint) must fail fast — both below
    // the watermark (the silent-loss case)...
    intercept[IllegalStateException] {
      PostingsIndex.indexBatch(docs(100 until 105), 0, idx,
        snapshots = true, lineage = Some("ckB"))
    }
    // ...and above it (interleaved batch ids would double-count docs)
    intercept[IllegalStateException] {
      PostingsIndex.indexBatch(docs(100 until 105), 99, idx,
        snapshots = true, lineage = Some("ckB"))
    }
    assert(rows(PostingsIndex.readIndex(spark, idx)) == before,
      "a rejected stream must leave the index untouched")
    // an UN-lineaged compacted index under a fresh sink: the imminent
    // skip cannot be confirmed as a replay — throw, never drop
    val idx2 = s"$dir/index2"
    PostingsIndex.indexBatch(b, 0, idx2, snapshots = true)
    PostingsIndex.indexBatch(docs(5 until 10), 1, idx2, snapshots = true)
    PostingsIndex.compactShards(spark, idx2)
    intercept[IllegalStateException] {
      PostingsIndex.indexBatch(docs(100 until 105), 0, idx2,
        snapshots = true, lineage = Some("ckC"))
    }
    // the direct API (no lineage) keeps the documented logged skip
    val n2 = rows(PostingsIndex.readIndex(spark, idx2))
    PostingsIndex.indexBatch(docs(100 until 105), 0, idx2, snapshots = true)
    assert(rows(PostingsIndex.readIndex(spark, idx2)) == n2)
  }

  test("the raw tf read survives a flat/bucketed shard layout mix") {
    // a pre-layout index (flat shards) a bucketed stream later appended
    // to: spark.read.parquet(root) rejects the conflicting directory
    // structures outright, so the raw path splits per layout and unions
    // — null tbucket for flat rows, which the bucket filter must KEEP
    // (they may hold the query terms; the scorer's token filter decides)
    import graft.functions.TextAnalysis
    import org.apache.spark.sql.functions.col
    val root = java.nio.file.Files.createTempDirectory("tf-mixed").toString + "/tf"
    val b0 = Seq((1L, "join alpha"), (2L, "beta")).toDF("doc_id", "text")
    val b1 = Seq((3L, "join gamma")).toDF("doc_id", "text")
    // flat shard (no tbucket dirs — the pre-layout format)
    TextAnalysis.tfPostings(b0, "doc_id", "text")
      .write.mode("overwrite").parquet(s"$root/shard=b0")
    // bucketed shard (the current layout)
    TextAnalysis.tfPostings(b1, "doc_id", "text")
      .withColumn("tbucket", PostingsIndex.tokenBucket(col("token")))
      .write.partitionBy("tbucket").mode("overwrite")
      .parquet(s"$root/shard=b1")
    val all = PostingsIndex.readTfIndex(spark, root)
    assert(all.select("doc_id").distinct().count() == 3,
      "mixed-layout read lost a shard")
    val bJoin = PostingsIndex.tokenBucketLocal("join")
    val filtered = PostingsIndex.readTfIndex(spark, root,
      buckets = Some(Set(bJoin)))
    // both "join" rows visible: the bucketed one via its bucket dir,
    // the flat one via the kept null-tbucket rows
    assert(filtered.where(col("token") === "join")
      .select("doc_id").distinct().count() == 2,
      "bucket filter dropped flat-layout rows")
  }

  test("a manifest read over a flat/bucketed shard mix keeps its columns") {
    import graft.functions.TextAnalysis
    import org.apache.spark.sql.functions.col
    val root = java.nio.file.Files.createTempDirectory("tf-mixed-snap").toString + "/tf"
    val b0 = Seq((1L, "join alpha"), (2L, "beta")).toDF("doc_id", "text")
    val b1 = Seq((3L, "join gamma")).toDF("doc_id", "text")
    TextAnalysis.tfPostings(b0, "doc_id", "text")
      .write.mode("overwrite").parquet(s"$root/shard=b0")
    TextAnalysis.tfPostings(b1, "doc_id", "text")
      .withColumn("tbucket", PostingsIndex.tokenBucket(col("token")))
      .write.partitionBy("tbucket").mode("overwrite")
      .parquet(s"$root/shard=b1")
    Snapshot.init(spark, root)
    Snapshot.commit(spark, root, Seq(""))
    val dataCols = spark.read.parquet(s"$root/shard=b0").columns.toSeq
    val bucketed = Snapshot.readVersion(spark, root, partitionCols = Seq("shard")).get
    assert(bucketed.columns.toSeq == dataCols :+ "shard")
    assert(bucketed.select("shard", "doc_id").distinct().collect()
      .map(r => (r.getString(0), r.getLong(1))).sorted.toSeq ==
      Seq(("b0", 1L), ("b0", 2L), ("b1", 3L)))
    val both = Snapshot.readVersion(spark, root, partitionCols = Seq("shard", "tbucket")).get
    assert(both.columns.toSeq == dataCols ++ Seq("shard", "tbucket"))
    assert(both.where(col("tbucket").isNull).select("doc_id").distinct().count() == 2L)
  }

  test("the live tf sink maintains BM25-servable artifacts") {
    import graft.functions.TextAnalysis
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("tf-sink").toString
    val (tfP, dlP) = (s"$dir/tf", s"$dir/dl")
    val rows = Seq((1L, "join filter x"), (2L, "join y"), (3L, "dup dup z"),
      (4L, "plain"), (5L, "filter join dup"))
    val mem = MemoryStream[(Long, String)]
    val q = PostingsIndex.startTfIndexSink(
      mem.toDF().toDF("doc_id", "text"), tfP, dlP, s"$dir/ck",
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0),
      compactEvery = 2, snapshots = true)
    try {
      mem.addData(rows(0), rows(1))
      q.processAllAvailable()
      mem.addData(rows(2), rows(3))
      q.processAllAvailable() // batch 1 -> union compaction fires
      mem.addData(rows(4))
      q.processAllAvailable()
    } finally q.stop()
    val terms = Seq("join", "filter", "dup")
    val served = TextAnalysis.bm25FromIndex(
      PostingsIndex.readUnionShards(spark, tfP),
      PostingsIndex.readUnionShards(spark, dlP), terms)
      .collect().map(r => r.getLong(0) -> ((r.getDouble(1), r.getLong(2)))).toMap
    val direct = TextAnalysis.bm25(rows.toDF("doc_id", "text"),
      "doc_id", "text", terms)
      .collect().map(r => r.getLong(0) -> ((r.getDouble(1), r.getLong(2)))).toMap
    assert(served.keySet == direct.keySet && served.nonEmpty)
    served.foreach { case (k, (s, h)) =>
      val (ds, dh) = direct(k)
      assert(h == dh && math.abs(s - ds) < 1e-9, s"doc $k: ($s,$h) vs ($ds,$dh)")
    }
  }

  test("the live tf sink end to end: df sidecar, recorded pairs, lineage enforcement") {
    import org.apache.spark.sql.functions.col
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("tf-sink-e2e").toString
    val (tfP, dlP, dfP) = (s"$dir/tf", s"$dir/dl", s"$dir/df")
    val mem = MemoryStream[(Long, String)]
    val q = PostingsIndex.startTfIndexSink(
      mem.toDF().toDF("doc_id", "text"), tfP, dlP, s"$dir/ck",
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0),
      compactEvery = 2, snapshots = true, dfPath = Some(dfP))
    try {
      mem.addData((1L, "the alpha dup"), (2L, "the beta"))
      q.processAllAvailable()
      mem.addData((3L, "the gamma"), (4L, "the delta dup"))
      q.processAllAvailable() // batch 1 -> union + df compaction fires
      mem.addData((5L, "the epsilon"))
      q.processAllAvailable()
    } finally q.stop()
    // the sink recorded a consistent pair, and the pair-resolved
    // df-bounded server cuts the every-doc 'the' while scoring 'dup'
    assert(PostingsIndex.latestConsistentPair(spark, tfP).isDefined,
      "sink recorded no tf/dl pair")
    val bounded = PostingsIndex.bm25FromStored(spark, tfP, dlP,
      Seq("dup", "the"), dfPath = Some(dfP), maxDfFrac = Some(0.5))
      .collect().map(_.getLong(0)).toSet
    assert(bounded == Set(1L, 4L),
      s"df-bounded sink-maintained serve returned $bounded")
    // the sink stamped its lineage on all three roots: a SECOND sink
    // over the same roots from a DIFFERENT checkpoint fails its first
    // batch instead of silently corrupting the index
    Seq(tfP, dlP, dfP).foreach { p =>
      assert(new java.io.File(s"$p/_lineage").isFile, s"no _lineage at $p")
    }
    val mem2 = MemoryStream[(Long, String)]
    val q2 = PostingsIndex.startTfIndexSink(
      mem2.toDF().toDF("doc_id", "text"), tfP, dlP, s"$dir/ck2",
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0),
      snapshots = true, dfPath = Some(dfP))
    try {
      mem2.addData((100L, "the rogue"))
      val err = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q2.processAllAvailable()
      }
      assert(err.getMessage.contains("lineage") ||
        Option(err.getCause).exists(_.getMessage.contains("lineage")),
        s"unexpected failure: ${err.getMessage}")
    } finally q2.stop()
    // and the rejected stream left the artifacts untouched: the
    // pair-resolved serve still returns exactly the five-doc corpus
    assert(PostingsIndex.readUnionShards(spark, dlP).count() == 5,
      "rejected stream mutated the dl sidecar")
  }
}
