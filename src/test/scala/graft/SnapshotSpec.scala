package graft

import org.apache.hadoop.fs.Path
import graft.streaming.{LakeMaintenance, NearDupGate, Snapshot, TickIngest}

/** [[Snapshot]] — versioned manifests over plain-parquet layouts: a
  * reader holding a VERSION sees exactly that version's row set across
  * concurrent appends, compaction, leaf splits, and a full reshard
  * (files are retired to `_stale`, never deleted, until [[Snapshot
  * .vacuum]] expires them) — the r6 verdict's external-reader gap. */
class SnapshotSpec extends SparkSpec {
  import spark.implicits._

  private def fs =
    new Path("/tmp").getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def doc(i: Int): String =
    (0 until 60).map(j => s"s${i}w$j").mkString(" ")

  private def ids(root: String, v: Long): Seq[Long] =
    Snapshot.readVersion(spark, root, Some(v)).get
      .select("doc_id").as[Long].collect().sorted.toSeq

  test("gate output: pinned versions survive compaction, split, reshard; vacuum expires") {
    val dir = java.nio.file.Files.createTempDirectory("snap-gate").toString
    val (out, state) = (s"$dir/out", s"$dir/state")
    Snapshot.init(spark, out)

    assert(NearDupGate.curateBatch(
      (0 until 4).map(i => (i.toLong, doc(i))).toDF("doc_id", "text"),
      out, state, buckets = 2) == 4L)
    val v1 = Snapshot.latestVersion(spark, out).get
    assert(ids(out, v1) == (0L until 4L))

    assert(NearDupGate.curateBatch(
      (4 until 8).map(i => (i.toLong, doc(i))).toDF("doc_id", "text"),
      out, state, buckets = 2) == 4L)
    val v2 = Snapshot.latestVersion(spark, out).get
    assert(v2 > v1 && ids(out, v2) == (0L until 8L))
    assert(ids(out, v1) == (0L until 4L)) // v1 unchanged by the append

    // COMPACTION retires the per-batch files; both pinned versions and
    // the new latest read the same logical rows
    NearDupGate.compactLayouts(spark, out, state, maxFiles = 1)
    val v3 = Snapshot.latestVersion(spark, out).get
    assert(v3 > v2, "compaction must commit a new snapshot version")
    assert(fs.exists(new Path(out, "_stale")), "originals retired, not deleted")
    assert(ids(out, v1) == (0L until 4L) && ids(out, v2) == (0L until 8L))
    assert(ids(out, v3) == (0L until 8L))

    // LEAF SPLIT on the output layout: trie deepens, rows identical,
    // pinned versions still resolve (stale direct files live in _stale)
    val outBucket = (0 until 2).find { b =>
      val p = new Path(s"$out/bucket=$b")
      fs.exists(p) && fs.listStatus(p)
        .exists(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
    }.get
    NearDupGate.splitNode(spark, out, state, "out", List(outBucket))
    val v4 = Snapshot.latestVersion(spark, out).get
    assert(v4 > v3 && ids(out, v4) == (0L until 8L))
    assert(ids(out, v1) == (0L until 4L) && ids(out, v2) == (0L until 8L))

    // FULL RESHARD (the escape hatch): every live file is rewritten at a
    // new fan-out; pinned versions resolve entirely from _stale
    NearDupGate.reshardState(spark, out, state, newBuckets = 5)
    val v5 = Snapshot.latestVersion(spark, out).get
    assert(v5 > v4 && ids(out, v5) == (0L until 8L))
    assert(ids(out, v1) == (0L until 4L) && ids(out, v2) == (0L until 8L))

    // the resharded gate keeps curating + committing
    assert(NearDupGate.curateBatch(
      // NOTE "s0w7" matches only token 7 (s0w70+ don't exist at 60
      // tokens) — a prefix like "s0w3" would also hit s0w30..s0w39 and
      // push est-Jaccard under the threshold
      Seq((20L, doc(0).replace("s0w7", "zz")), (21L, doc(9)))
        .toDF("doc_id", "text"), out, state, buckets = 2) == 1L)
    val v6 = Snapshot.latestVersion(spark, out).get
    assert(ids(out, v6) == (0L until 8L) :+ 21L)

    // readOutput prefers the manifest (version-consistent external read)
    assert(NearDupGate.readOutput(spark, out)
      .select("doc_id").as[Long].collect().sorted.toSeq ==
      (0L until 8L) :+ 21L)

    // VACUUM is the only deleter: keep the 2 newest versions readable,
    // older pins lose their retired files and fail LOUDLY
    Snapshot.vacuum(spark, out, keepVersions = 2)
    assert(ids(out, v6) == (0L until 8L) :+ 21L)
    intercept[IllegalStateException] { ids(out, v1) }
  }

  test("sink wiring: per-batch commits + vacuum retention in the window") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val dir = java.nio.file.Files.createTempDirectory("snap-sink").toString
    val (out, state) = (s"$dir/out", s"$dir/state")
    val mem = MemoryStream[(Long, String)]
    val q = NearDupGate.startNearDupSink(
      mem.toDF().toDF("doc_id", "text"), out, state, s"$dir/ckpt",
      org.apache.spark.sql.streaming.Trigger.ProcessingTime(0),
      buckets = 2, compactEvery = 1, snapshots = true,
      snapshotKeepVersions = 1)
    mem.addData((0L, doc(0)), (1L, doc(1)))
    q.processAllAvailable()
    mem.addData((2L, doc(2)))
    q.processAllAvailable()
    mem.addData((3L, doc(0)), (4L, doc(4))) // 3 = exact dup: drop
    q.processAllAvailable()
    q.stop()
    assert(NearDupGate.readOutput(spark, out)
      .select("doc_id").as[Long].collect().sorted.toSeq ==
      Seq(0L, 1L, 2L, 4L))
    // keep=1: each maintenance window expired the previous manifests —
    // only the newest survives (no stale trees yet: nothing compacted)
    val vs = fs.listStatus(new Path(out, "_snapshots"))
      .filter(_.isFile).map(_.getPath.getName).filter(_.matches("v\\d{8}"))
    assert(vs.length == 1, vs.mkString(","))
  }

  test("state layouts honor snapshots symmetrically with the output") {
    // split/compaction retire per-root; if batch appends didn't commit
    // per-root too, an enabled state manifest would go stale forever
    val dir = java.nio.file.Files.createTempDirectory("snap-state").toString
    val (out, state) = (s"$dir/out", s"$dir/state")
    Snapshot.init(spark, s"$state/bands")
    Snapshot.init(spark, s"$state/sigs")
    assert(NearDupGate.curateBatch(
      (0 until 4).map(i => (i.toLong, doc(i))).toDF("doc_id", "text"),
      out, state, buckets = 2) == 4L)
    for (layout <- Seq("bands", "sigs")) {
      val root = s"$state/$layout"
      assert(Snapshot.latestVersion(spark, root).contains(1L), layout)
      val viaManifest = Snapshot.readVersion(spark, root).get.count()
      val viaDir = spark.read.option("recursiveFileLookup", "true")
        .parquet(root).count()
      assert(viaManifest == viaDir && viaManifest > 0, layout)
    }
  }

  test("lake sink path: append commits + compaction retire keep pinned versions") {
    val dir = java.nio.file.Files.createTempDirectory("snap-lake").toString
    val lake = s"$dir/lake"
    Snapshot.init(spark, lake)
    def batch(ts: Long*) = ts.map(t =>
      ("FPT", new java.sql.Timestamp(t * 1000L), 10.0 + t)).toDF(
      "symbol", "time", "price")
    // the sink's exact wiring: commit ONLY the append's returned touched
    // partitions (a whole-root re-list would grow with lake size)
    val t1 = TickIngest.appendBatchIdempotent(batch(1, 2), lake)
    assert(t1 == Seq("symbol=FPT"))
    Snapshot.commit(spark, lake, t1)
    val v1 = Snapshot.latestVersion(spark, lake).get
    val t2 = TickIngest.appendBatchIdempotent(batch(3, 4, 5), lake)
    Snapshot.commit(spark, lake, t2)
    val v2 = Snapshot.latestVersion(spark, lake).get
    // explicit-file reads bypass partition discovery — partitionCols
    // reconstructs `symbol` from the manifest's relative paths (works
    // for stale-resolved files too, where basePath inference cannot)
    def snap(v: Long) =
      Snapshot.readVersion(spark, lake, Some(v), partitionCols = Seq("symbol")).get
    def times(v: Long): Seq[Long] =
      snap(v).select("time").collect()
        .map(_.getTimestamp(0).getTime / 1000).sorted.toSeq
    assert(times(v1) == Seq(1L, 2L) && times(v2) == (1L to 5L))
    // compaction with snapshotRoot retires originals under a new version
    val (parts, _, _) = LakeMaintenance.compactLake(spark, lake,
      maxFiles = 1, snapshotRoot = Some(lake))
    assert(parts == 1)
    val v3 = Snapshot.latestVersion(spark, lake).get
    assert(v3 > v2 && times(v1) == Seq(1L, 2L) && times(v3) == (1L to 5L))
    // the reconstructed partition column carries the dir value even for
    // files resolved out of _stale
    assert(snap(v1).select("symbol").collect().map(_.getString(0)).toSeq ==
      Seq("FPT", "FPT"))
    // without a manifest the same moment would double-read or miss rows;
    // the live dir itself holds only the compacted files
    assert(spark.read.parquet(lake).count() == 5)
  }

  test("reshard crash: a recreated dataless shell doesn't mask the aside restore") {
    // the review-found window: reshardState crashes right after
    // rename(out, aside); a restarted sink (or any external mkdirs,
    // e.g. Snapshot.init) recreates a DATALESS out dir before recovery
    // runs. The old restore check keyed on `!exists(out)` and would
    // read the shell as an empty layout — silently abandoning every
    // admitted row in the aside copy.
    val dir = java.nio.file.Files.createTempDirectory("snap-reshard-crash").toString
    val (out, state) = (s"$dir/out", s"$dir/state")
    Snapshot.init(spark, out)
    assert(NearDupGate.curateBatch(
      (0 until 4).map(i => (i.toLong, doc(i))).toDF("doc_id", "text"),
      out, state, buckets = 2) == 4L)
    // simulate the crash window by hand: fence down, out renamed aside
    val marker = new Path(state, "_gate_params")
    val base = {
      val in = fs.open(marker)
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
      finally in.close()
    }
    locally {
      val o = fs.create(marker, true)
      try o.write((base + ";resharding_to=4").getBytes("UTF-8"))
      finally o.close()
    }
    require(fs.rename(new Path(out), new Path(dir, ".out.reshard_old")))
    Snapshot.init(spark, out) // the shell: out exists, zero data files
    // recovery must restore the aside copy and complete the reshard
    assert(NearDupGate.recoverReshard(spark, out, state))
    assert(spark.read.option("recursiveFileLookup", "true").parquet(out)
      .select("doc_id").as[Long].collect().sorted.toSeq == (0L until 4L))
    // manifests survived inside the aside tree and keep committing
    assert(Snapshot.readVersion(spark, out).get
      .select("doc_id").as[Long].collect().sorted.toSeq == (0L until 4L))
    // the restored state still gates (near-dup of doc 1 drops)
    assert(NearDupGate.curateBatch(
      Seq((50L, doc(1).replace("s1w7", "zz"))).toDF("doc_id", "text"),
      out, state, buckets = 2) == 0L)
  }

  test("filesAt resolves entries orphaned by a retire-then-crash window") {
    // the review-found window in compaction: originals moved into
    // _stale/vN, crash before manifest N writes; a later unrelated
    // commit takes number N and INHERITS the old entries. Resolution
    // must search _stale/vN for version-N reads (>= v, not > v).
    val root = java.nio.file.Files.createTempDirectory("snap-orphan").toString
    Snapshot.init(spark, root)
    spark.range(5).toDF("id").coalesce(1).write.parquet(s"$root/a")
    assert(Snapshot.commit(spark, root, Seq("")) == 1L)
    // simulate: retire one live file under version 2, manifest never lands
    val aDir = new Path(s"$root/a")
    val f = fs.listStatus(aDir)
      .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet")).head.getPath
    val dest = new Path(s"$root/_stale/v00000002/a/${f.getName}")
    fs.mkdirs(dest.getParent)
    require(fs.rename(f, dest))
    // a later, unrelated commit becomes version 2
    spark.range(5, 8).toDF("id").coalesce(1).write.parquet(s"$root/b")
    assert(Snapshot.commit(spark, root, Seq("b")) == 2L)
    // both versions read the full original row set
    for (v <- Seq(1L, 2L)) {
      val ids = Snapshot.readVersion(spark, root, Some(v)).get
        .select("id").as[Long].collect().sorted.toSeq
      assert(ids.take(5) == (0L until 5L), s"v$v lost the orphaned file")
    }
  }

  test("property: every pinned version stays exact under a random op sequence") {
    // deterministic-seed sequence of appends and compactions; after
    // EVERY op, EVERY version committed so far must read exactly the
    // row set it pinned — the whole module's contract in one invariant
    val root = java.nio.file.Files.createTempDirectory("snap-prop").toString
    Snapshot.init(spark, root)
    val rnd = new scala.util.Random(42)
    var nextId = 0L
    val pinned = scala.collection.mutable.Map.empty[Long, Set[Long]]
    var liveIds = Set.empty[Long]
    def verifyAll(): Unit = pinned.foreach { case (v, expect) =>
      val got = Snapshot.readVersion(spark, root, Some(v)).get
        .select("id").as[Long].collect().toSet
      assert(got == expect, s"version $v drifted: ${got.size} vs ${expect.size}")
    }
    for (step <- 0 until 12) {
      if (step == 0 || rnd.nextDouble() < 0.7) {
        // append 1-3 rows into one of two partition dirs, commit it
        val d = if (rnd.nextBoolean()) "a" else "b"
        val n = 1 + rnd.nextInt(3)
        val ids = (nextId until nextId + n); nextId += n
        spark.range(ids.head, ids.last + 1).toDF("id")
          .coalesce(1).write.mode("append").parquet(s"$root/$d")
        liveIds ++= ids
        val v = Snapshot.commit(spark, root, Seq(d))
        pinned(v) = liveIds
      } else {
        // compact one dir (retires originals under a fresh version)
        val d = if (rnd.nextBoolean()) "a" else "b"
        LakeMaintenance.compactFlat(spark, s"$root/$d", maxFiles = 1,
          snapshotRoot = Some(root))
      }
      verifyAll()
    }
    // retention: newest 2 stay exact, older pins fail loudly
    val latest = Snapshot.latestVersion(spark, root).get
    Snapshot.vacuum(spark, root, keepVersions = 2)
    pinned.foreach { case (v, expect) =>
      if (v >= latest - 1)
        assert(Snapshot.readVersion(spark, root, Some(v)).get
          .select("id").as[Long].collect().toSet == expect)
      else intercept[IllegalStateException] {
        Snapshot.readVersion(spark, root, Some(v))
      }
    }
  }

  test("crash between append and commit heals on the replayed batch") {
    val dir = java.nio.file.Files.createTempDirectory("snap-crash").toString
    val (out, state) = (s"$dir/out", s"$dir/state")
    Snapshot.init(spark, out)
    assert(NearDupGate.curateBatch(
      Seq((0L, doc(0))).toDF("doc_id", "text"), out, state, buckets = 2) == 1L)
    val v1 = Snapshot.latestVersion(spark, out).get
    // simulate the crash window: batch 2's files land but its snapshot
    // commit never runs (manifests disabled for the write)
    val snapDir = new Path(out, "_snapshots")
    val hidden = new Path(out, ".snapshots_hidden")
    require(fs.rename(snapDir, hidden))
    assert(NearDupGate.curateBatch(
      Seq((1L, doc(1))).toDF("doc_id", "text"), out, state, buckets = 2) == 1L)
    require(fs.rename(hidden, snapDir))
    assert(Snapshot.latestVersion(spark, out).get == v1,
      "no commit must have happened during the simulated crash")
    // the REPLAYED batch admits nothing (idempotent anti-join) but its
    // reconciling commit re-lists the same touched leaves — the
    // orphaned files enter the manifest
    assert(NearDupGate.curateBatch(
      Seq((1L, doc(1))).toDF("doc_id", "text"), out, state, buckets = 2) == 0L)
    val v2 = Snapshot.latestVersion(spark, out).get
    assert(v2 > v1 && ids(out, v2) == Seq(0L, 1L))
  }

  test("reshard crash AFTER the swap renames keeps pre-crash versions resolvable") {
    // the r8 known-limit window, now closed: reshardState crashes after
    // rename(out → aside) + rename(tmp → out) but BEFORE the snapshot
    // trees move back and the old files retire — the aside tree holds
    // the manifests and every pre-crash data file. Recovery (rerunning
    // the reshard, which the fence mandates) must re-enter the
    // restore/retire tail instead of deleting the aside tree.
    val dir = java.nio.file.Files.createTempDirectory("snap-reshard-crash2").toString
    val (out, state) = (s"$dir/out", s"$dir/state")
    Snapshot.init(spark, out)
    assert(NearDupGate.curateBatch(
      (0 until 4).map(i => (i.toLong, doc(i))).toDF("doc_id", "text"),
      out, state, buckets = 2) == 4L)
    val v1 = Snapshot.latestVersion(spark, out).get
    assert(NearDupGate.curateBatch(
      (4 until 8).map(i => (i.toLong, doc(i))).toDF("doc_id", "text"),
      out, state, buckets = 2) == 4L)
    val v2 = Snapshot.latestVersion(spark, out).get
    // simulate the crash window by hand: fence down, out swapped aside,
    // a fresh out already renamed in (same logical rows, new files),
    // manifests still inside the aside tree
    val marker = new Path(state, "_gate_params")
    val base = {
      val in = fs.open(marker)
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
      finally in.close()
    }
    locally {
      val o = fs.create(marker, true)
      try o.write((base + ";resharding_to=4").getBytes("UTF-8"))
      finally o.close()
    }
    val aside = new Path(dir, ".out.reshard_old")
    val swapped = spark.read.option("recursiveFileLookup", "true")
      .parquet(out).persist()
    swapped.count()
    require(fs.rename(new Path(out), aside))
    swapped.write.parquet(out) // "tmp renamed in", manifest-less
    swapped.unpersist()
    // recovery completes the reshard AND the snapshot tail
    assert(NearDupGate.recoverReshard(spark, out, state))
    assert(!fs.exists(aside), "recovery must consume the aside tree")
    // both pre-crash versions still resolve exactly (from _stale)
    assert(ids(out, v1) == (0L until 4L))
    assert(ids(out, v2) == (0L until 8L))
    // the post-recovery latest reads the full row set
    assert(Snapshot.readVersion(spark, out).get
      .select("doc_id").as[Long].collect().sorted.toSeq == (0L until 8L))
    // the recovered state still gates (near-dup of doc 1 drops)
    assert(NearDupGate.curateBatch(
      Seq((50L, doc(1).replace("s1w7", "zz"))).toDF("doc_id", "text"),
      out, state, buckets = 2) == 0L)
  }

  test("Serving.lakeTable: snapshot-pinned tick-lake reads survive concurrent compaction") {
    import graft.queries.Serving
    import org.apache.spark.sql.functions.col
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    val dir = java.nio.file.Files.createTempDirectory("snap-serving").toString
    val path = s"$dir/data"
    Snapshot.init(spark, path)
    // four appends accrete one file per symbol partition each, each with
    // a reconciling manifest commit (the startLakeSink(snapshots=true)
    // shape, run synchronously here)
    (0 until 4).foreach { i =>
      val touched = TickIngest.appendBatchIdempotent(
        Seq(("FPT", t(s"2023-02-07 09:3$i:00"), 80.0 + i),
            ("VNM", t(s"2023-02-07 09:3$i:00"), 70.0 + i))
          .toDF("symbol", "time", "close"), path)
      Snapshot.commit(spark, path, touched)
    }
    def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.select(col("symbol").cast("string"), col("time"), col("close"))
        .collect().map(_.toString).sorted.toSeq
    val v0 = Snapshot.latestVersion(spark, path).get
    val before = rows(Serving.lakeTable(spark, path))
    assert(before.size == 8)
    // compaction rewrites both partitions, retiring the originals
    // through the manifest (never deleting)
    val (parts, nb, na) = LakeMaintenance.compactPartitioned(
      spark, path, "symbol=", maxFiles = 1, snapshotRoot = Some(path))
    assert(parts == 2 && na < nb, s"no compaction: $parts parts, $nb -> $na")
    // a serving reader that pinned v0 BEFORE the compaction still
    // resolves the retired files (from _stale) and sees the identical
    // row set — no half-swapped partition is ever visible
    assert(rows(Serving.lakeTable(spark, path, version = Some(v0))) == before)
    // the default (latest-manifest) read sees the same logical rows
    assert(rows(Serving.lakeTable(spark, path)) == before)
    // endpoint composition on the pinned table stays a normal plan
    val latestFpt = Serving.lakeTable(spark, path)
      .where(col("symbol") === "FPT")
      .orderBy(col("time").desc).limit(1)
      .select("close").collect().map(_.getDouble(0)).toSeq
    assert(latestFpt == Seq(83.0))
    // fallback: a lake that never opted into snapshots reads via plain
    // partition discovery
    val plain = s"$dir/plain"
    TickIngest.appendBatchIdempotent(
      Seq(("FPT", t("2023-02-07 09:30:00"), 80.0))
        .toDF("symbol", "time", "close"), plain)
    assert(rows(Serving.lakeTable(spark, plain)).size == 1)
  }

  test("Serving.lakeTable: a version over live and _stale files, escaped and null symbols") {
    import graft.queries.Serving
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    val dir = java.nio.file.Files.createTempDirectory("snap-mixed-trees").toString
    val path = s"$dir/data"
    Snapshot.init(spark, path)
    val batches = Seq(
      Seq(("FPT", t("2023-02-07 09:30:00"), 80.0), ("ES=F", t("2023-02-07 09:30:00"), 4100.0),
        (null, t("2023-02-07 09:30:00"), 1.0)),
      Seq(("FPT", t("2023-02-07 09:31:00"), 81.0)),
      Seq(("FPT", t("2023-02-07 09:32:00"), 82.0)))
    batches.foreach { rows =>
      Snapshot.commit(spark, path,
        TickIngest.appendBatchIdempotent(rows.toDF("symbol", "time", "close"), path))
    }
    val v = Snapshot.latestVersion(spark, path).get
    val want = batches.flatten.map { case (s, ts, c) => Seq(ts, c, s).mkString("[", ",", "]") }.sorted
    def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.toString).sorted.toSeq
    assert(rows(Serving.lakeTable(spark, path, version = Some(v))) == want)
    // only FPT holds more than one file: its files move to _stale, the
    // other two partitions stay live, so version v spans both trees
    val (parts, _, _) = LakeMaintenance.compactLake(spark, path, maxFiles = 1,
      snapshotRoot = Some(path))
    assert(parts == 1)
    assert(Snapshot.filesAt(spark, path, v).count(_.contains("/_stale/")) == 3)
    val pinned = Serving.lakeTable(spark, path, version = Some(v))
    assert(pinned.columns.toSeq == Seq("time", "close", "symbol"))
    assert(rows(pinned) == want)
    assert(rows(Serving.lakeTable(spark, path)) == want)
  }

  test("Serving.history on a pinned lake stays exact across a crashed compaction swap") {
    // the q_api_history endpoint shape (filter → orderBy desc → limit n)
    // served from Snapshot-pinned lake reads, asserted across BOTH
    // maintenance hazards: a completed compaction (originals retired
    // through the manifest) and the crash window where a compaction
    // moved a live file into the next version's _stale tree and died
    // before its manifest wrote.
    import graft.queries.Serving
    import org.apache.spark.sql.functions.col
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    val dir = java.nio.file.Files.createTempDirectory("snap-serving-hist").toString
    val path = s"$dir/data"
    Snapshot.init(spark, path)
    (0 until 5).foreach { i =>
      val touched = TickIngest.appendBatchIdempotent(
        Seq(("FPT", t(s"2023-02-07 09:3$i:00"), 80.0 + i),
            ("VNM", t(s"2023-02-07 09:3$i:00"), 70.0 + i))
          .toDF("symbol", "time", "close"), path)
      Snapshot.commit(spark, path, touched)
    }
    val v0 = Snapshot.latestVersion(spark, path).get
    def history(version: Option[Long]): Seq[(java.sql.Timestamp, Double)] = {
      val q = Serving.lakeTable(spark, path, version)
        .where(col("symbol") === "FPT")
        .orderBy(col("time").desc).limit(3)
        .select("time", "close")
      assert(q.queryExecution.executedPlan.toString.contains("TakeOrderedAndProject"),
        "the endpoint read must plan the top-k, not a global sort")
      q.collect().map(r => (r.getTimestamp(0), r.getDouble(1))).toSeq
    }
    val expected = (4 to 2 by -1).map(i => (t(s"2023-02-07 09:3$i:00"), 80.0 + i))
    assert(history(Some(v0)) == expected)
    // maintenance compacts both partitions, retiring originals through
    // the manifest — the pinned AND latest endpoint reads must not move
    val (parts, nb, na) = LakeMaintenance.compactPartitioned(
      spark, path, "symbol=", maxFiles = 1, snapshotRoot = Some(path))
    assert(parts == 2 && na < nb, s"no compaction: $parts parts, $nb -> $na")
    val v1 = Snapshot.latestVersion(spark, path).get
    assert(v1 > v0)
    assert(history(Some(v0)) == expected, "pre-compaction pin drifted")
    assert(history(None) == expected, "latest-version read drifted")
    // crash window: a second compaction retired a live FPT file into
    // _stale/v(N+1) and died before manifest N+1 wrote — the latest
    // committed manifest still lists that file, which filesAt resolves
    // from the stale tree (the >= v rule)
    val fpt = new Path(s"$path/symbol=FPT")
    val live = fs.listStatus(fpt)
      .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet")).head.getPath
    val orphan = new Path(
      f"$path/_stale/v${v1 + 1}%08d/symbol=FPT/${live.getName}")
    fs.mkdirs(orphan.getParent)
    require(fs.rename(live, orphan))
    assert(history(Some(v0)) == expected, "pinned read broken by the crash window")
    assert(history(None) == expected, "latest read broken by the crash window")
  }
}
