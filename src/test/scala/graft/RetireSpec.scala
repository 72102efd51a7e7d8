package graft

import org.apache.spark.sql.functions._
import graft.functions.{GraphRank, ShardWrite, Sketches, TextAnalysis => TA}
import graft.streaming.PostingsIndex

/** Tombstone (retire-channel) contracts across the maintained stored
  * families: replay-idempotent retires, torn-shard healing, exact
  * subtraction (ingest − retire ≡ recompute over the retained corpus),
  * and half-commit invisibility where a family splits its write. The
  * oracle rows (`q_*_retire`) pin the arithmetic against DuckDB; this
  * suite pins the OPERATIONAL behavior no SQL row can express.
  */
class RetireSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private val docs = Seq(
    (1L, "alpha beta gamma alpha"),
    (2L, "beta beta delta"),
    (3L, "gamma epsilon zeta"),
    (4L, "alpha zeta zeta eta"),
    (7L, "omega omega theta alpha")).toDF("doc_id", "text")
  private val retired = docs.where($"doc_id" === 7L)
  private val retained = docs.where($"doc_id" =!= 7L)

  test("unigram retire: subtraction exact, replay idempotent, torn shard heals") {
    val dir = tmp("uni-ret")
    assert(TA.unigramCountsAppend(docs, "doc_id", "text", dir, 0L))
    assert(TA.unigramCountsRetire(retired, "doc_id", "text", dir, 0L))
    def score(frame: org.apache.spark.sql.DataFrame) = frame.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val viaChannel = score(
      TA.unigramXentFromCounts(retained, "doc_id", "text", dir))
    // exactness: ingest − retire ≡ a fresh count over the retained set
    val fresh = tmp("uni-fresh")
    assert(TA.unigramCountsAppend(retained, "doc_id", "text", fresh, 0L))
    assert(viaChannel ==
      score(TA.unigramXentFromCounts(retained, "doc_id", "text", fresh)))
    // a term living ONLY in retired docs nets tc = 0 and must vanish
    // (zero counts reaching ln() would poison every doc it joined) —
    // 'omega'/'theta' retired away, the retained scoring unaffected
    assert(viaChannel.nonEmpty)
    // replay: the second retire append is a no-op, counts unchanged
    assert(!TA.unigramCountsRetire(retired, "doc_id", "text", dir, 0L))
    assert(viaChannel == score(
      TA.unigramXentFromCounts(retained, "doc_id", "text", dir)))
    // torn retire shard: drop its _SUCCESS — the replay rewrites it
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.delete(
      new org.apache.hadoop.fs.Path(s"$dir/retire/batch=0/_SUCCESS"), false))
    assert(TA.unigramCountsRetire(retired, "doc_id", "text", dir, 0L),
      "torn retire shard was skipped as a replay")
    assert(viaChannel == score(
      TA.unigramXentFromCounts(retained, "doc_id", "text", dir)))
  }

  test("nb retire: half-committed retire batch is invisible until both halves land") {
    val labeled = docs.withColumn("lang",
      when($"doc_id" % 2 === 0, "a").otherwise("b"))
    val ret = labeled.where($"doc_id" === 7L)
    val kept = labeled.where($"doc_id" =!= 7L)
    val dir = tmp("nb-ret")
    assert(TA.nbCountsAppend(labeled, "doc_id", "text", "lang", dir, 0L))
    def rows(m: org.apache.spark.sql.DataFrame) = m.collect().map(r =>
      (r.getString(0), r.getLong(1), r.getDouble(2), r.getDouble(3))).toSet
    val full = rows(TA.nbModelFromCounts(spark, dir))
    // crash window: the retire shard lands but its claim never
    // completes — simulate by retiring then rewinding its _SUCCESS
    assert(TA.nbCountsRetire(ret, "doc_id", "text", "lang", dir, 0L))
    val retiredModel = rows(TA.nbModelFromCounts(spark, dir))
    assert(retiredModel == rows(
      TA.nbModel(kept, "doc_id", "text", "lang")),
      "retire-channel model diverged from the retained-set retrain")
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.delete(
      new org.apache.hadoop.fs.Path(s"$dir/retire/batch=0/_SUCCESS"), false))
    assert(rows(TA.nbModelFromCounts(spark, dir)) == full,
      "half-committed retire batch leaked into the assembled model")
    // the replayed retire completes the claim → applied
    assert(TA.nbCountsRetire(ret, "doc_id", "text", "lang", dir, 0L))
    assert(rows(TA.nbModelFromCounts(spark, dir)) == retiredModel)
  }

  test("cms retire: linear subtraction equals the retained-stream sketch") {
    val items = docs.select($"doc_id",
      explode(split($"text", " ")).as("v"))
    val dir = tmp("cms-ret")
    assert(Sketches.cmsAppend(items, "v", dir, 0L))
    assert(Sketches.cmsRetire(items.where($"doc_id" === 7L), "v", dir, 0L))
    def cells(f: org.apache.spark.sql.DataFrame) = f.collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSet
    val direct = Sketches.cmsCells(items.where($"doc_id" =!= 7L), "v")
    // the subtracted table may carry netted-to-zero cells the direct
    // build never had rows for — equality holds on the nonzero support
    assert(cells(Sketches.cmsFromShards(spark, dir).where($"n" =!= 0)) ==
      cells(direct))
  }

  test("pair-shard retire: exactly the edges touching tombstoned docs drop") {
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 7L), (7L, 4L))
      .toDF("doc_a", "doc_b")
    val dir = tmp("pairs-ret")
    assert(GraphRank.pairsAppend(pairs, "doc_a", "doc_b", dir, 0L))
    assert(GraphRank.retireAppend(retired, "doc_id", dir, 0L))
    val kept = GraphRank.readRetainedPairs(spark, dir)
      .collect().map(r => (r.getLong(1), r.getLong(0))).toSet
    assert(kept.map(p => Set(p._1, p._2)) == Set(Set(1L, 2L), Set(2L, 3L)),
      s"retained edges wrong: $kept")
    // replay-idempotent; and with no retire channel the read keeps all
    assert(!GraphRank.retireAppend(retired, "doc_id", dir, 0L))
    val virgin = tmp("pairs-virgin")
    assert(GraphRank.pairsAppend(pairs, "doc_a", "doc_b", virgin, 0L))
    assert(GraphRank.readRetainedPairs(spark, virgin).count() == 4)
  }

  test("postings retire: stored-index serving equals a fresh index over the retained corpus") {
    val root = tmp("bm25-ret")
    PostingsIndex.tfIndexBatch(docs, 0L, s"$root/tf", s"$root/dl",
      dfPath = Some(s"$root/df"))
    assert(PostingsIndex.retireAppend(
      retired.select($"doc_id"), s"$root/retire", 0L))
    val terms = Seq("alpha", "zeta")
    def scores(f: org.apache.spark.sql.DataFrame) = f.collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getLong(2))).toSet
    val served = scores(PostingsIndex.bm25FromStored(spark,
      s"$root/tf", s"$root/dl", terms,
      dfPath = Some(s"$root/df"), maxDfFrac = Some(0.9),
      retirePath = Some(s"$root/retire")))
    val fresh = tmp("bm25-fresh")
    PostingsIndex.tfIndexBatch(retained, 0L, s"$fresh/tf", s"$fresh/dl",
      dfPath = Some(s"$fresh/df"))
    assert(served == scores(PostingsIndex.bm25FromStored(spark,
      s"$fresh/tf", s"$fresh/dl", terms,
      dfPath = Some(s"$fresh/df"), maxDfFrac = Some(0.9))))
    // the tombstoned doc is gone from the result set; N/avgdl moved
    assert(!served.exists(_._1 == 7L))
    // df correction: 'alpha' appears in 3/5 docs stored, 2/4 retained —
    // a 0.55 cut keeps it only because the retired contribution is
    // subtracted from BOTH df and N (2/4 = 0.5 <= 0.55; stored 0.6 > 0.55)
    val cut = scores(PostingsIndex.bm25FromStored(spark,
      s"$root/tf", s"$root/dl", Seq("alpha"),
      dfPath = Some(s"$root/df"), maxDfFrac = Some(0.55),
      retirePath = Some(s"$root/retire")))
    assert(cut.nonEmpty, "retained-set df cut dropped a term it should keep")
  }

  test("pair + tombstone channels compact under the watermark discipline") {
    val dir = tmp("pairs-compact")
    val pairSets = Seq(Seq((1L, 2L)), Seq((2L, 3L)), Seq((3L, 7L), (7L, 4L)))
    pairSets.zipWithIndex.foreach { case (ps, b) =>
      assert(GraphRank.pairsAppend(ps.toDF("doc_a", "doc_b"),
        "doc_a", "doc_b", dir, b.toLong))
    }
    assert(GraphRank.retireAppend(retired, "doc_id", dir, 0L))
    assert(GraphRank.retireAppend(
      docs.where($"doc_id" === 4L), "doc_id", dir, 1L))
    def kept = GraphRank.readRetainedPairs(spark, dir)
      .collect().map(r => Set(r.getLong(0), r.getLong(1))).toSet
    val before = kept
    assert(before == Set(Set(1L, 2L), Set(2L, 3L)))
    val ((pIn, pOut), (rIn, rOut)) = GraphRank.compactPairShards(spark, dir)
    assert(pIn == 3 && pOut == 1 && rIn == 2 && rOut == 1)
    assert(kept == before, "retained pairs drifted across compaction")
    // consumed replays skip on BOTH channels
    assert(!GraphRank.pairsAppend(pairSets(1).toDF("doc_a", "doc_b"),
      "doc_a", "doc_b", dir, 1L))
    assert(!GraphRank.retireAppend(retired, "doc_id", dir, 0L))
    assert(kept == before)
    // the postings/ANN tombstone channels share the machinery
    val rp = tmp("post-retire")
    assert(PostingsIndex.retireAppend(retired.select($"doc_id"), rp, 0L))
    assert(PostingsIndex.retireAppend(
      docs.where($"doc_id" === 4L).select($"doc_id"), rp, 1L))
    val rBefore = PostingsIndex.retiredDocs(spark, rp)
      .collect().map(_.getLong(0)).toSet
    assert(PostingsIndex.compactRetire(spark, rp) == ((2, 1)))
    assert(PostingsIndex.retiredDocs(spark, rp)
      .collect().map(_.getLong(0)).toSet == rBefore)
  }

  test("streaming retire sink: one event stream fans into the channels; restart replay is a no-op") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.Trigger
    implicit val sqlCtx = spark.sqlContext
    val dir = tmp("stream-retire")
    val ckpt = tmp("stream-retire-ckpt")
    // ingest baseline: the unigram channel over the full corpus, the
    // pair channel over a planted edge set
    assert(TA.unigramCountsAppend(docs, "doc_id", "text", s"$dir/uni", 0L))
    assert(GraphRank.pairsAppend(
      Seq((1L, 2L), (3L, 7L)).toDF("doc_a", "doc_b"),
      "doc_a", "doc_b", s"$dir/graph", 0L))
    // the r15 window-mine channels ride the same sink: the window
    // table takes the doc-id-set shape, the line stats the
    // content-replay (count) shape
    assert(graft.functions.Dedup.substrWindowsAppend(
      docs, "doc_id", "text", s"$dir/win", 0L, L = 2))
    assert(graft.functions.Dedup.lineStatsAppend(
      docs, "doc_id", "text", s"$dir/line", 0L))
    val mem = MemoryStream[(Long, String)]
    val events = mem.toDF.toDF("doc_id", "text")
    def sink() = graft.streaming.RetireStream.startRetireSink(
        events, ckpt, trigger = Trigger.AvailableNow())(
      (b, id) => TA.unigramCountsRetire(b, "doc_id", "text", s"$dir/uni", id),
      (b, id) => GraphRank.retireAppend(b, "doc_id", s"$dir/graph", id),
      (b, id) => graft.functions.Dedup.windowRetireAppend(
        b, "doc_id", s"$dir/winret", id),
      (b, id) => graft.functions.Dedup.lineStatsRetire(
        b, "doc_id", "text", s"$dir/lineret", id))
    mem.addData((7L, "omega omega theta alpha"))
    val q = sink(); q.awaitTermination()
    def score = TA.unigramXentFromCounts(retained, "doc_id", "text",
        s"$dir/uni")
      .collect().map(r => (r.getLong(0), r.getDouble(2))).toSet
    val afterRetire = score
    // the subtraction equals a fresh count over the retained set
    val fresh = tmp("stream-retire-fresh")
    assert(TA.unigramCountsAppend(retained, "doc_id", "text", fresh, 0L))
    assert(afterRetire == TA.unigramXentFromCounts(
        retained, "doc_id", "text", fresh)
      .collect().map(r => (r.getLong(0), r.getDouble(2))).toSet)
    // the edge touching doc 7 dropped
    assert(GraphRank.readRetainedPairs(spark, s"$dir/graph")
      .collect().map(r => Set(r.getLong(0), r.getLong(1))).toSet ==
      Set(Set(1L, 2L)))
    // the window table's tombstoned read equals a retained-corpus mine,
    // and the netted line stats equal a retained-corpus count
    def winSpans = graft.functions.Dedup.exactSubstrSpansFromShards(
        spark, s"$dir/win", Some(s"$dir/winret"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).toSet
    assert(winSpans == graft.functions.Dedup.exactSubstrSpans(
        retained, "doc_id", "text", L = 2)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).toSet)
    def hotNetted = graft.functions.Dedup.hotLinesFromShards(
        spark, s"$dir/line", 2, Some(s"$dir/lineret"))
      .collect().map(_.getString(0)).toSet
    val hotAfterRetire = hotNetted
    // RESTART from the same checkpoint: a re-delivered batch re-runs the
    // same batch id into every channel — each skips (claim discipline),
    // nothing double-subtracts
    val q2 = sink(); q2.awaitTermination()
    assert(score == afterRetire, "restart replay double-subtracted")
    assert(hotNetted == hotAfterRetire,
      "line-stats channel double-subtracted on replay")
  }

  test("retire sink crash drill: deaths mid-fan-out AND mid-maintenance heal to the batch-twin state") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.Trigger
    implicit val sqlCtx = spark.sqlContext
    val dir = tmp("crash-retire")
    val ckpt = tmp("crash-retire-ckpt")
    // ingest baseline on two channels with different subtraction shapes
    assert(TA.unigramCountsAppend(docs, "doc_id", "text", s"$dir/uni", 0L))
    assert(GraphRank.pairsAppend(
      Seq((1L, 2L), (3L, 7L), (2L, 7L)).toDF("doc_a", "doc_b"),
      "doc_a", "doc_b", s"$dir/graph", 0L))
    val mem = MemoryStream[(Long, String)]
    val events = mem.toDF.toDF("doc_id", "text")
    // CRASH 1: die between the fan-out's two appends (first channel
    // committed, second never ran) — the window the claim discipline
    // exists for. CRASH 2: die INSIDE the maintenance window, after
    // compacting one channel but before the other.
    val dieInFanout = new java.util.concurrent.atomic.AtomicBoolean(true)
    val dieInMaint = new java.util.concurrent.atomic.AtomicBoolean(true)
    def sink() = graft.streaming.RetireStream.startRetireSink(
        events, ckpt, trigger = Trigger.AvailableNow(),
        compactEvery = 1,
        maintenance = { _ =>
          TA.compactUnigramCounts(spark, s"$dir/uni")
          if (dieInMaint.getAndSet(false))
            throw new RuntimeException("injected death inside maintenance")
          GraphRank.compactPairShards(spark, s"$dir/graph")
        })(
      (b, id) => TA.unigramCountsRetire(b, "doc_id", "text", s"$dir/uni", id),
      (b, id) => {
        if (dieInFanout.getAndSet(false))
          throw new RuntimeException("injected death mid-fan-out")
        GraphRank.retireAppend(b, "doc_id", s"$dir/graph", id)
      })
    mem.addData((7L, "omega omega theta alpha"))
    // attempt 1 dies mid-fan-out: the unigram retire landed, the graph
    // one never ran, the checkpoint did not commit
    val q1 = sink()
    intercept[Exception] { q1.awaitTermination() }
    // attempt 2 replays the SAME batch id: channel 1 skips (claim),
    // channel 2 completes — then dies inside the maintenance window
    // with the unigram channel compacted and the graph one untouched
    val q2 = sink()
    intercept[Exception] { q2.awaitTermination() }
    // attempt 3 replays again: both appends skip, maintenance reruns
    // end to end (compaction is replay-safe under the watermark), the
    // checkpoint finally commits
    val q3 = sink(); q3.awaitTermination()
    // every channel equals its batch twin over the retained corpus
    val fresh = tmp("crash-retire-fresh")
    assert(TA.unigramCountsAppend(retained, "doc_id", "text", fresh, 0L))
    def scoreAt(d: String) = TA.unigramXentFromCounts(
        retained, "doc_id", "text", d)
      .collect().map(r => (r.getLong(0), r.getDouble(2))).toSet
    assert(scoreAt(s"$dir/uni") == scoreAt(fresh),
      "unigram channel did not heal to the retained-corpus twin")
    assert(GraphRank.readRetainedPairs(spark, s"$dir/graph")
      .collect().map(r => Set(r.getLong(0), r.getLong(1))).toSet ==
      Set(Set(1L, 2L)),
      "graph channel did not heal to the retained edge set")
    // a full restart once healthy is a pure no-op on every channel
    val q4 = sink(); q4.awaitTermination()
    assert(scoreAt(s"$dir/uni") == scoreAt(fresh))
  }

  test("postings tombstone fold: byte-real takedown, serving identical, crash-convergent") {
    val dir = tmp("post-fold")
    val (tfP, dlP, dfP, retP) =
      (s"$dir/tf", s"$dir/dl", s"$dir/df", s"$dir/retire")
    for (b <- 0L until 2L)
      PostingsIndex.tfIndexBatch(docs.where($"doc_id" % 2 === b), b,
        tfP, dlP, dfPath = Some(dfP))
    PostingsIndex.retireAppend(retired.select("doc_id"), retP, 0L)
    val terms = Seq("alpha", "zeta", "beta")
    def serve(retire: Option[String]) = PostingsIndex.bm25FromStored(
        spark, tfP, dlP, terms, dfPath = Some(dfP), maxDfFrac = Some(0.9),
        retirePath = retire)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
    val truth = serve(Some(retP)) // read-time subtraction = the contract
    assert(truth.nonEmpty && !truth.exists(_._1 == 7L))
    // stash the pre-fold tf shard dirs to simulate the crash window
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val aside = new org.apache.hadoop.fs.Path(tmp("post-fold-aside"))
    val preDirs = fs.listStatus(new org.apache.hadoop.fs.Path(tfP))
      .filter(_.isDirectory).map(_.getPath)
    preDirs.foreach { d =>
      org.apache.hadoop.fs.FileUtil.copy(fs, d, fs,
        new org.apache.hadoop.fs.Path(aside, d.getName), false, true,
        spark.sparkContext.hadoopConfiguration)
    }
    assert(PostingsIndex.foldRetiredPostings(spark, tfP, dlP, retP,
      dfPath = Some(dfP)), "fold must run")
    assert(!fs.exists(new org.apache.hadoop.fs.Path(retP)),
      "the channel must be consumed")
    // byte-real: doc 7 gone from tf and dl; the UNRETIRED serve now
    // equals the tombstoned serve exactly (the q_bm25_fold oracle pins
    // this against DuckDB too)
    assert(PostingsIndex.readTfIndex(spark, tfP)
      .where($"doc_id" === 7L).isEmpty)
    assert(serve(None) == truth, "folded serve diverged from the contract")
    // a second fold with no channel is a no-op
    assert(!PostingsIndex.foldRetiredPostings(spark, tfP, dlP, retP,
      dfPath = Some(dfP)))
    // crash window: the fold's m-shard landed but the consumed shard
    // dirs came back (death before the deletes) AND the channel is
    // still present (death before its delete) — the rerun converges
    fs.listStatus(aside).foreach { d =>
      fs.rename(d.getPath,
        new org.apache.hadoop.fs.Path(s"$tfP/${d.getPath.getName}"))
    }
    PostingsIndex.retireAppend(retired.select("doc_id"), retP, 0L)
    assert(PostingsIndex.foldRetiredPostings(spark, tfP, dlP, retP,
      dfPath = Some(dfP)))
    assert(serve(None) == truth, "post-crash fold diverged")
    val tfRows = PostingsIndex.readTfIndex(spark, tfP)
    assert(tfRows.count() ==
      tfRows.dropDuplicates("token", "doc_id").count(),
      "the rerun must collapse the crash window's duplicates")
    // fold fence: a death between the tf fold and the df rewrite
    // leaves the fence up — serves must FAIL LOUDLY (the sidecar no
    // longer matches the folded tf bytes; scoring would be silently
    // wrong), and the fold's rerun heals and clears it
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$dlP/_fold_fence")),
      "a completed fold must leave no fence")
    fs.create(new org.apache.hadoop.fs.Path(s"$dlP/_fold_fence"), true).close()
    intercept[IllegalArgumentException] { serve(None) }
    intercept[IllegalArgumentException] { serve(Some(retP)) }
    PostingsIndex.retireAppend(retired.select("doc_id"), retP, 1L)
    assert(PostingsIndex.foldRetiredPostings(spark, tfP, dlP, retP,
      dfPath = Some(dfP)), "the fold rerun is the fence's recovery")
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$dlP/_fold_fence")))
    assert(serve(None) == truth)
    // stale fence, channel REMOVED out-of-band (the r15 ADVICE hole):
    // the advertised recovery — rerun the fold — must still self-heal
    // (sidecar rewritten from the current tf, fence cleared) instead
    // of early-returning false with serving bricked forever
    fs.create(new org.apache.hadoop.fs.Path(s"$dlP/_fold_fence"), true).close()
    intercept[IllegalArgumentException] { serve(None) }
    assert(!PostingsIndex.foldRetiredPostings(spark, tfP, dlP, retP,
      dfPath = Some(dfP)), "no channel → no fold ran")
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$dlP/_fold_fence")),
      "the rerun must clear a stale fence even with the channel gone")
    assert(serve(None) == truth, "healed serve diverged")
    // stale fence + channel present but EMPTY (complete empty shard):
    // same self-heal on the gone-empty early return, and the consume
    // must leave an in-flight (no _SUCCESS) tombstone append intact
    val emptyShard = s"$retP/batch=5"
    retired.select("doc_id").where($"doc_id" < 0).write.parquet(emptyShard)
    val inFlight = new org.apache.hadoop.fs.Path(s"$retP/batch=6")
    fs.mkdirs(inFlight) // claimed, not yet _SUCCESS-committed
    fs.create(new org.apache.hadoop.fs.Path(s"$dlP/_fold_fence"), true).close()
    assert(!PostingsIndex.foldRetiredPostings(spark, tfP, dlP, retP,
      dfPath = Some(dfP)))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$dlP/_fold_fence")),
      "gone-empty rerun must clear the fence")
    assert(!fs.exists(new org.apache.hadoop.fs.Path(emptyShard)),
      "the complete-but-empty shard is consumed")
    assert(fs.exists(inFlight),
      "an in-flight tombstone append must survive the consume")
    assert(serve(None) == truth)
    fs.delete(inFlight, true)
  }

  test("pairs fold: byte-real edge drop, waits without a strictly-increasing watermark") {
    val dir = tmp("pairs-fold")
    // ONE live shard: the fold must WAIT (no strictly-increasing
    // watermark possible), keeping the channel — read-time subtraction
    // stays the serving contract
    assert(GraphRank.pairsAppend(
      Seq((1L, 2L), (2L, 7L), (3L, 7L)).toDF("doc_a", "doc_b"),
      "doc_a", "doc_b", dir, 0L))
    assert(GraphRank.retireAppend(retired, "doc_id", dir, 0L))
    assert(!GraphRank.foldRetiredPairs(spark, dir),
      "a single live shard must not fold (watermark tie)")
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$dir/retire")),
      "the channel must survive a waiting fold")
    def retained = GraphRank.readRetainedPairs(spark, dir)
      .collect().map(r => Set(r.getLong(0), r.getLong(1))).toSet
    assert(retained == Set(Set(1L, 2L)))
    // a second shard arrives: now the fold runs, edges leave the BYTES,
    // the channel is consumed, and the PLAIN read equals the retained view
    assert(GraphRank.pairsAppend(
      Seq((2L, 3L), (4L, 7L)).toDF("doc_a", "doc_b"),
      "doc_a", "doc_b", dir, 1L))
    assert(GraphRank.foldRetiredPairs(spark, dir))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$dir/retire")))
    assert(GraphRank.readPairShards(spark, dir)
      .collect().map(r => Set(r.getLong(0), r.getLong(1))).toSet ==
      Set(Set(1L, 2L), Set(2L, 3L)),
      "tombstoned edges must be gone from the plain read")
    // a consumed-batch replay still skips at the folded watermark, and
    // a REPLAYED retire is inert by set semantics (its edges are gone)
    assert(!GraphRank.pairsAppend(
      Seq((2L, 3L), (4L, 7L)).toDF("doc_a", "doc_b"),
      "doc_a", "doc_b", dir, 1L))
    assert(GraphRank.retireAppend(retired, "doc_id", dir, 0L))
    assert(retained == Set(Set(1L, 2L), Set(2L, 3L)))
  }

  test("WAND fold: byte-real, sidecar recomputed (pruning power restored), serve identical") {
    import org.apache.spark.sql.functions.{col => c}
    val dir = tmp("wand-fold")
    val (tfP, dlP, wP) = (s"$dir/tf", s"$dir/dl", s"$dir/wand")
    // planted skew: docs 0-49 heavy on 'mid'; retire the heavy half of
    // block 0 so the recomputed block maxima genuinely DROP
    val wdocs = (0L until 200L).map { i =>
      val text =
        if (i < 50) ("mid " * 12) + "common"
        else if (i % 2 == 0) "mid common pad pad"
        else "common pad pad pad"
      (i, text)
    }.toDF("doc_id", "text")
    for (b <- 0L until 2L) {
      val slice = wdocs.where($"doc_id" % 2 === b)
      PostingsIndex.tfIndexBatch(slice, b, tfP, dlP)
      PostingsIndex.wandIndexBatch(slice, b, wP, span = 50L)
    }
    val gone = wdocs.where($"doc_id" < 40).select("doc_id")
    PostingsIndex.retireAppend(gone, s"$dir/retP", 0L)
    PostingsIndex.retireAppend(gone, s"$dir/retW", 0L)
    val terms = Seq("mid", "common")
    def serve() = PostingsIndex.searchBm25Wand(spark, wP, dlP, terms, 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val truth = PostingsIndex.searchBm25Wand(spark, wP, dlP, terms, 10,
        retirePath = Some(s"$dir/retW"))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    def maxMid = spark.read
      .schema("token STRING, dblock BIGINT, max_tf BIGINT, df BIGINT, tbucket INT")
      .parquet(s"$wP/bm").where(c("token") === "mid" && c("dblock") === 0L)
      .agg(org.apache.spark.sql.functions.max(c("max_tf"))).head().getLong(0)
    assert(maxMid == 12L)
    PostingsIndex.foldRetiredPostings(spark, tfP, dlP, s"$dir/retP")
    assert(PostingsIndex.foldRetiredWand(spark, wP, s"$dir/retW"))
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$dir/retW")))
    // byte-real + identical serve with NO channel
    val folded = serve()
    assert(folded.map(_._1) == truth.map(_._1),
      s"folded WAND serve diverged:\n$folded\nvs\n$truth")
    folded.zip(truth).foreach { case ((id, a), (_, b)) =>
      assert(math.abs(a - b) < 1e-9, s"doc $id: $a vs $b") }
    assert(folded.forall(_._1 >= 40))
    // pruning power restored: block 0 still holds heavy docs 40-49, so
    // its max stays 12, but the sidecar rows now count RETAINED df only
    assert(maxMid == 12L)
    val dfMid = spark.read
      .schema("token STRING, dblock BIGINT, max_tf BIGINT, df BIGINT, tbucket INT")
      .parquet(s"$wP/bm").where(c("token") === "mid" && c("dblock") === 0L)
      .agg(org.apache.spark.sql.functions.sum(c("df"))).head().getLong(0)
    assert(dfMid == 10L, s"block-0 df must be the 10 retained heavy docs, got $dfMid")
    // fold fence: a death between the wand tf fold and the bm sidecar
    // recompute leaves the fence up — the pruned serve must fail
    // loudly (stale sidecar df would feed the idf), rerun heals
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$wP/_fold_fence")))
    fs.create(new org.apache.hadoop.fs.Path(s"$wP/_fold_fence"), true).close()
    intercept[IllegalArgumentException] { serve() }
    PostingsIndex.retireAppend(gone, s"$dir/retW", 1L)
    assert(PostingsIndex.foldRetiredWand(spark, wP, s"$dir/retW"),
      "the fold rerun is the fence's recovery")
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$wP/_fold_fence")))
    assert(serve().map(_._1) == truth.map(_._1))
    // one-shot layouts refuse in-place folding with a pointed error
    val oneShot = s"$dir/oneshot"
    PostingsIndex.wandLayoutFrom(spark, tfP, oneShot, span = 50L)
    PostingsIndex.retireAppend(gone, s"$dir/retO", 0L)
    val e = intercept[IllegalArgumentException] {
      PostingsIndex.foldRetiredWand(spark, oneShot, s"$dir/retO")
    }
    assert(e.getMessage.contains("wandLayoutFrom"))
  }

  test("ANN tombstone fold: physical remove_ids, serving bit-identical, crash-convergent") {
    import graft.functions.Similarity
    val dim = 16
    val emb = spark.range(200L).toDF("vec_id")
      .select(col("vec_id"), transform(sequence(lit(1), lit(dim)),
        j => sin(col("vec_id") * j.cast("double") * 0.7321)).as("embedding"))
    val dir = tmp("fold-ivfpq")
    Similarity.ivfPqWriteArtifacts(emb, "vec_id", "embedding", dir,
      m = 4, ks = 8)
    Similarity.retireFromDir(
      emb.where(col("vec_id") % 10 === 7).select("vec_id"), "vec_id", dir, 0L)
    def probe() = Similarity.ivfPqRerankFromDir(
        emb, "vec_id", "embedding", dir, 0L, 10, shortlist = 50)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val before = probe() // channel-subtracted serve
    assert(before.nonEmpty && !before.exists(_._1 % 10 == 7))
    val codesBefore = spark.read.parquet(s"$dir/codes").count()
    assert(Similarity.foldRetired(spark, dir), "fold must run")
    val fsP = new org.apache.hadoop.fs.Path(s"$dir/retire")
    val fs = fsP.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(fsP), "the channel must be consumed")
    // physically gone, serving bit-identical, sizing hint refreshed
    val codes = spark.read.parquet(s"$dir/codes")
    assert(codes.where(col("vid") % 10 === 7).isEmpty)
    assert(codes.count() == codesBefore - 20)
    assert(probe() == before, "fold changed the served ranking")
    assert(spark.read.parquet(s"$dir/meta")
      .where(col("key") === "corpus_rows").head().getString(1).toLong ==
      codesBefore - 20)
    // replay: a second fold with no channel is a no-op
    assert(!Similarity.foldRetired(spark, dir))
    // crash inside the swap window: filtered files renamed in, the
    // originals back alongside (duplicated retained rows), channel
    // still present — the rerun converges to the exact retained set
    val codesP = new org.apache.hadoop.fs.Path(s"$dir/codes")
    val aside = new org.apache.hadoop.fs.Path(tmp("fold-aside"))
    val origs = fs.listStatus(codesP)
      .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
    origs.foreach { o =>
      org.apache.hadoop.fs.FileUtil.copy(fs, o.getPath, fs,
        new org.apache.hadoop.fs.Path(aside, o.getPath.getName), false, true,
        spark.sparkContext.hadoopConfiguration)
    }
    Similarity.retireFromDir(
      emb.where(col("vec_id") % 10 === 3).select("vec_id"), "vec_id", dir, 1L)
    val wantAfter = probe() // channel-subtracted truth for %10==3,7 gone
    // simulate: kernel ran, originals reappear, channel intact
    graft.streaming.LakeMaintenance.evictFromDir(spark, s"$dir/codes",
      emb.where(col("vec_id") % 10 === 3).select(col("vec_id").as("vid")),
      "vid")
    fs.listStatus(aside).foreach { o =>
      fs.rename(o.getPath, new org.apache.hadoop.fs.Path(codesP, o.getPath.getName))
    }
    val dup = spark.read.parquet(s"$dir/codes")
    assert(dup.count() > dup.dropDuplicates("vid").count(),
      "the simulated window must actually duplicate retained rows")
    assert(Similarity.foldRetired(spark, dir))
    val healed = spark.read.parquet(s"$dir/codes")
    assert(healed.where(col("vid") % 10 === 3).isEmpty)
    assert(healed.count() == healed.dropDuplicates("vid").count())
    assert(probe() == wantAfter, "post-crash fold diverged")
    // crash AFTER a completed rewrite but BEFORE the meta refresh: the
    // rerun's evict finds nothing to rewrite (rewrote = false) — the
    // corpus_rows refresh must run anyway, or the stale count freezes
    // forever once the channel is consumed
    val metaP = s"$dir/meta"
    val keptMeta = spark.read.parquet(metaP).collect()
      .map(r => (r.getString(0), r.getString(1)))
      .map { case ("corpus_rows", _) => ("corpus_rows", "999999")
             case kv => kv }.toSeq
    keptMeta.toDF("key", "value").write.mode("overwrite").parquet(metaP)
    Similarity.retireFromDir(
      emb.where(col("vec_id") % 10 === 3).select("vec_id"), "vec_id", dir, 2L)
    Similarity.foldRetired(spark, dir) // evict no-op, refresh must still run
    assert(spark.read.parquet(metaP)
      .where(col("key") === "corpus_rows").head().getString(1).toLong ==
      healed.count(),
      "corpus_rows must refresh even when the rerun's rewrite is a no-op")
    assert(!fs.exists(fsP))
  }

  test("readOrEmpty: a never-written channel reads as zero rows of the declared schema") {
    val df = ShardWrite.readOrEmpty(spark, "/tmp/graft-no-such-dir-xyz",
      "doc_id LONG")
    assert(df.columns.toSeq == Seq("doc_id") && df.count() == 0)
  }

  test("window-table retire + fold: anti-join exact, waits on one shard, byte-real drop") {
    import graft.functions.Dedup
    val dir = tmp("win-ret")
    val (win, ret) = (s"$dir/win", s"$dir/ret")
    // two doc-disjoint ingest batches at L=2, then doc 7 retires
    assert(Dedup.substrWindowsAppend(
      docs.where($"doc_id" <= 3L), "doc_id", "text", win, 0L, L = 2))
    assert(Dedup.substrWindowsAppend(
      docs.where($"doc_id" >= 4L), "doc_id", "text", win, 1L, L = 2))
    assert(Dedup.windowRetireAppend(retired, "doc_id", ret, 0L))
    def spans(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).toSet
    val truth = spans(Dedup.exactSubstrSpansFromShards(spark, win, Some(ret)))
    // exactness: the anti-joined read ≡ a fresh mine over the retained set
    assert(truth == spans(
      Dedup.exactSubstrSpans(retained, "doc_id", "text", L = 2)))
    assert(!truth.exists(_._1 == 7L))
    // fold: retired rows leave the BYTES, channel consumed, plain read
    // equals the tombstoned serve
    assert(Dedup.foldRetiredWindows(spark, win, ret), "fold must run")
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(ret)),
      "the channel must be consumed")
    assert(spans(Dedup.exactSubstrSpansFromShards(spark, win)) == truth,
      "folded serve diverged from the tombstoned contract")
    assert(ShardWrite.readShards(spark, win, "doc_id BIGINT, i INT, h BIGINT")
      .where($"doc_id" === 7L).isEmpty, "retired rows must be gone")
    // a REPLAYED retire is inert by set semantics: one m-shard remains,
    // so the fold WAITS (no strictly-increasing watermark) and the
    // read-time subtraction anti-joins rows that no longer exist
    assert(Dedup.windowRetireAppend(retired, "doc_id", ret, 1L))
    assert(!Dedup.foldRetiredWindows(spark, win, ret),
      "a single live m-shard must not fold (watermark tie)")
    assert(fs.exists(new org.apache.hadoop.fs.Path(ret)),
      "the channel must survive a waiting fold")
    assert(spans(Dedup.exactSubstrSpansFromShards(spark, win, Some(ret)))
      == truth)
  }

  test("winnow fingerprint table: (n,w) contract, retire anti-join exact, byte-real fold") {
    import graft.functions.Dedup
    val dir = tmp("winnow-ret")
    val (fps, ret) = (s"$dir/fps", s"$dir/ret")
    // a long shared passage so winnow actually pairs docs: 1 and 7
    // share a paragraph (pair exists only through doc 7), 2 and 3 share
    // another (pure retained pair)
    val passA = (1 to 12).map(i => s"alpha$i").mkString(" ")
    val passB = (1 to 12).map(i => s"beta$i").mkString(" ")
    val wdocs = Seq(
      (1L, s"$passA one tail"),
      (2L, s"$passB two tail"),
      (3L, s"$passB three tail"),
      (7L, s"$passA seven tail")).toDF("doc_id", "text")
    assert(Dedup.winnowFpAppend(
      wdocs.where($"doc_id" <= 2L), "doc_id", "text", fps, 0L))
    assert(Dedup.winnowFpAppend(
      wdocs.where($"doc_id" >= 3L), "doc_id", "text", fps, 1L))
    // the (n, w) layout contract rejects a mismatched later append
    intercept[IllegalArgumentException] {
      Dedup.winnowFpAppend(wdocs, "doc_id", "text", fps, 2L, n = 3, w = 4)
    }
    def pairs(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // shard-served ≡ fused over the same corpus
    assert(pairs(Dedup.winnowPairsFromShards(spark, fps)) ==
      pairs(Dedup.winnowPairs(wdocs, "doc_id", "text")))
    assert(pairs(Dedup.winnowPairsFromShards(spark, fps))
      .contains((1L, 7L)))
    // retire doc 7: the (1,7) pair vanishes, (2,3) survives — equal to
    // a fused re-mine over the retained corpus
    assert(Dedup.windowRetireAppend(retired, "doc_id", ret, 0L))
    val want = pairs(Dedup.winnowPairs(
      wdocs.where($"doc_id" =!= 7L), "doc_id", "text"))
    assert(pairs(Dedup.winnowPairsFromShards(spark, fps, retirePath = Some(ret)))
      == want)
    assert(want == Set((2L, 3L)))
    // the fold drops the fingerprints from the BYTES and consumes the
    // channel; the plain read then equals the retained serve
    assert(Dedup.foldRetiredWinnowFps(spark, fps, ret), "fold must run")
    val fsys = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fsys.exists(new org.apache.hadoop.fs.Path(ret)))
    assert(pairs(Dedup.winnowPairsFromShards(spark, fps)) == want)
    assert(ShardWrite.readShards(spark, fps, "doc_id BIGINT, fp BIGINT")
      .where($"doc_id" === 7L).isEmpty, "retired fingerprints must be gone")
    // a non-maintained dir is rejected loudly (no _NW marker)
    intercept[IllegalArgumentException] {
      Dedup.winnowPairsFromShards(spark, tmp("not-a-table"))
    }
  }

  test("line-stats retire: hot set nets to retained counts, zero-netted keys vanish") {
    import graft.functions.Dedup
    val dir = tmp("line-ret")
    val (cnt, ret) = (s"$dir/cnt", s"$dir/ret")
    // the footer crosses minDocs=3 ONLY counting retired doc 7; the
    // 'only7' line lives in doc 7 alone (must net to exactly zero)
    val lined = Seq(
      (1L, "content one\nFOOTER"),
      (2L, "content two\nFOOTER"),
      (3L, "content three"),
      (7L, "content seven\nFOOTER\nonly7")).toDF("doc_id", "text")
    assert(Dedup.lineStatsAppend(
      lined.where($"doc_id" <= 3L), "doc_id", "text", cnt, 0L))
    assert(Dedup.lineStatsAppend(
      lined.where($"doc_id" === 7L), "doc_id", "text", cnt, 1L))
    assert(Dedup.lineStatsRetire(
      lined.where($"doc_id" === 7L), "doc_id", "text", ret, 0L))
    // before the retire the footer is hot; netted, nothing crosses 3
    assert(Dedup.hotLinesFromShards(spark, cnt, 3).count() == 1)
    assert(Dedup.hotLinesFromShards(spark, cnt, 3, Some(ret)).isEmpty,
      "netted counts must drop the footer below minDocs")
    // a key netted to zero must not linger with a zero row gating reads
    // (minDocs >= 2 guards the API; assert via the served rewrite)
    val live = lined.where($"doc_id" =!= 7L)
    def rewrite(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(
      rewrite(Dedup.lineDedupFromShards(live, "doc_id", "text", cnt,
        minDocs = 3, Some(ret))) ==
      rewrite(Dedup.lineDedup(live, "doc_id", "text", minDocs = 3)),
      "netted serve diverged from the retained-corpus fused rewrite")
    // replay: the second retire append is a no-op
    assert(!Dedup.lineStatsRetire(
      lined.where($"doc_id" === 7L), "doc_id", "text", ret, 0L))
    assert(Dedup.hotLinesFromShards(spark, cnt, 3, Some(ret)).isEmpty)
  }
}
