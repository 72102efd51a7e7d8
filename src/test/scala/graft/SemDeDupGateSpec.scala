package graft

import org.apache.spark.sql.functions._
import graft.streaming.SemDeDupGate

/** Streaming SemDeDup — the embedding-space gate: cross-batch semantic
  * near-dups drop against coarse-list-partitioned lake state, replays
  * are idempotent, only SURVIVORS register (state stays flat under a
  * tight-cluster flood), and a near-dup of a dropped vector still
  * collides whenever its REPRESENTATIVE covers it — with the bounded
  * transitive-recall deviation pinned explicitly. */
class SemDeDupGateSpec extends SparkSpec {
  import spark.implicits._

  private val dim = 32

  test("cross-batch semantic near-dups drop; replays idempotent; dropped still collide") {
    val rnd = new scala.util.Random(83)
    def vec() = Array.fill(dim)(rnd.nextGaussian())
    def noisy(v: Array[Double]) = v.map(x => x + 0.03 * rnd.nextGaussian())
    val dir = java.nio.file.Files.createTempDirectory("semgate").toString
    val (out, state) = (s"$dir/out", s"$dir/state")
    val base = (0 until 30).map(i => (i.toLong, vec())).toMap
    // batch 1: 30 vectors, id 25 replaced by a near-copy of id 3 —
    // the batch-local pairwise rule drops the higher id
    val batch1 = (0 until 30).map { i =>
      val v = if (i == 25) noisy(base(3L)) else base(i.toLong)
      (i.toLong, v.toSeq)
    }.toDF("vid", "v")
    assert(SemDeDupGate.curateBatch(batch1, out, state,
      minCos = 0.9, nlist = 4, nprobe = 2) == 29L)
    // batch 2: a near-dup of a seen survivor drops, a near-dup of the
    // DROPPED id-25 vector also drops — 25's REPRESENTATIVE (admitted
    // id 3) covers its neighborhood, which is the survivors-only
    // registration contract — and a fresh vector admits
    val batch2 = Seq(
      (100L, noisy(base(7L)).toSeq),  // near-dup of admitted: drop
      (101L, vec().toSeq),            // fresh: admit
      (102L, noisy(base(3L)).toSeq))  // near-dup of dropped 25 ≈ its rep 3: drop
      .toDF("vid", "v")
    assert(SemDeDupGate.curateBatch(batch2, out, state,
      minCos = 0.9, nlist = 4, nprobe = 2) == 1L)
    // replay of batch 2 is a TRUE no-op: output anti-joined AND state
    // anti-joined — row counts stable on both sides
    val stateBefore = spark.read.option("recursiveFileLookup", "true")
      .parquet(s"$state/vecs").count()
    assert(SemDeDupGate.curateBatch(batch2, out, state,
      minCos = 0.9, nlist = 4, nprobe = 2) == 0L)
    assert(spark.read.option("recursiveFileLookup", "true")
      .parquet(s"$state/vecs").count() == stateBefore,
      "replay must not accrete duplicate state rows")
    val outRows = spark.read.parquet(out)
    assert(outRows.select("vid").distinct().count() == 30L) // 29 + 1
    assert(!outRows.select("vid").as[Long].collect().contains(100L))
    // the lake layout is coarse-list-partitioned: probes read only the
    // routed lists
    val fs = new org.apache.hadoop.fs.Path(state)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val lists = fs.listStatus(new org.apache.hadoop.fs.Path(s"$state/vecs"))
      .filter(_.isDirectory).map(_.getPath.getName)
    assert(lists.nonEmpty && lists.forall(_.startsWith("list=")))
    // the quantizer is persisted once and stable across batches
    val cents = spark.read.parquet(s"$state/_centroids")
    assert(cents.count() == 4L)
    // a third batch against the bound state still gates correctly
    assert(SemDeDupGate.curateBatch(
      Seq((200L, noisy(base(11L)).toSeq)).toDF("vid", "v"),
      out, state, minCos = 0.9, nlist = 4, nprobe = 2) == 0L)
    // survivors-only registration: state vids == admitted vids (the
    // dropped 25/100/102 never register)
    val stateVids = spark.read.option("recursiveFileLookup", "true")
      .parquet(s"$state/vecs").select("vid").as[Long].collect().toSet
    assert(stateVids == outRows.select("vid").as[Long].collect().toSet,
      "state must hold exactly the admitted representatives")
  }

  test("survivors-only registration: state stays FLAT under a tight-cluster flood") {
    // the r10 scale boundary, closed: a sustained flood of ONE semantic
    // cluster is the exact shape a dedup gate exists for. Register-all
    // grew the hot list linearly with stream length — and splitList
    // provably cannot separate near-identical vectors (docs/SCALE.md) —
    // so every later probe paid the whole flood. Survivors-only keeps
    // ONE representative: state rows and per-batch probe bytes stay
    // flat no matter how long the flood runs.
    val rnd = new scala.util.Random(131)
    val dir = java.nio.file.Files.createTempDirectory("semgate-flood").toString
    val (out, state) = (s"$dir/out", s"$dir/state")
    val center = Array.fill(dim)(rnd.nextGaussian())
    def member() = center.map(x => x + 0.01 * rnd.nextGaussian())
    // admit decisions are cluster-LOCAL (the semDedup rule joins on the
    // routed list), so a cluster straddling list boundaries may keep up
    // to one representative per touched list — the bound is the LIST
    // count, never the stream length. The pin is flatness: every
    // admission happens in batch 0, and state never grows after it.
    val runs = (0 until 6).map { b =>
      val batch = (0 until 50).map(i =>
        ((b * 50 + i).toLong, member().toSeq)).toDF("vid", "v")
      val adm = SemDeDupGate.curateBatch(batch, out, state,
        minCos = 0.9, nlist = 4, nprobe = 2)
      (adm, spark.read.option("recursiveFileLookup", "true")
        .parquet(s"$state/vecs").count())
    }
    val reps = runs.head._2
    assert(reps <= 4L, s"representatives bounded by nlist, got $reps")
    assert(runs.tail.forall(_._1 == 0L),
      s"flood batches after the first must admit nothing: ${runs.map(_._1)}")
    assert(runs.forall(_._2 == reps),
      s"flood must not grow state past batch 0's representatives " +
        s"(register-all grew it by ~50/batch): ${runs.map(_._2)}")
  }

  test("transitive-recall deviation of survivors-only registration, pinned") {
    // The accepted, documented recall change: a chain x—y—z with
    // cos(x,y) >= t, cos(y,z) >= t but cos(x,z) < t. y drops against
    // registered x and does NOT register (x is its representative); a
    // later z collides with nothing registered and ADMITS. Register-all
    // dropped z against y — survivors-only trades that 2-hop drop for
    // flood-proof state (greedy leader clustering semantics).
    val dirT = java.nio.file.Files.createTempDirectory("semgate-chain").toString
    val (out, state) = (s"$dirT/out", s"$dirT/state")
    val a = math.acos(0.92) // cos(a)=0.92 >= t=0.9; cos(2a)=0.6928 < t
    def rot(theta: Double) = Array.tabulate(dim) {
      case 0 => math.cos(theta); case 1 => math.sin(theta); case _ => 0.0
    }
    def one(vid: Long, v: Array[Double]) =
      Seq((vid, v.toSeq)).toDF("vid", "v")
    assert(SemDeDupGate.curateBatch(one(1L, rot(0)), out, state,
      minCos = 0.9, nlist = 2, nprobe = 2) == 1L)       // x: admit
    assert(SemDeDupGate.curateBatch(one(2L, rot(a)), out, state,
      minCos = 0.9, nlist = 2, nprobe = 2) == 0L)       // y: drop vs x
    assert(SemDeDupGate.curateBatch(one(3L, rot(2 * a)), out, state,
      minCos = 0.9, nlist = 2, nprobe = 2) == 1L,       // z: ADMITS
      "2-hop chain member must admit under survivors-only registration")
  }

  test("maintenance: generic list-dir compaction keeps gate semantics") {
    // the state accretes one file per batch per touched list — the
    // text gate's problem, solved by the SAME generic kernel: the
    // layout is plain `list=N` dirs, so LakeMaintenance
    // .compactPartitioned needs no gate-specific code
    import graft.streaming.LakeMaintenance
    val rnd = new scala.util.Random(101)
    def vec() = Array.fill(dim)(rnd.nextGaussian())
    val dir = java.nio.file.Files.createTempDirectory("semgate-compact").toString
    val (out, state) = (s"$dir/out", s"$dir/state")
    val base = (0 until 8).map(i => (i.toLong, vec()))
    base.foreach { case (i, v) =>
      SemDeDupGate.curateBatch(Seq((i, v.toSeq)).toDF("vid", "v"),
        out, state, minCos = 0.9, nlist = 2, nprobe = 1)
    }
    val (parts, nb, na) = LakeMaintenance.compactPartitioned(
      spark, s"$state/vecs", "list=", maxFiles = 1)
    assert(parts >= 1 && na < nb, s"no compaction: $parts, $nb -> $na")
    // the compacted state still drops a near-dup and admits a fresh one
    assert(SemDeDupGate.curateBatch(
      Seq((100L, base(3)._2.map(x => x + 0.02 * rnd.nextGaussian()).toSeq))
        .toDF("vid", "v"),
      out, state, minCos = 0.9, nlist = 2, nprobe = 1) == 0L)
    assert(SemDeDupGate.curateBatch(
      Seq((101L, vec().toSeq)).toDF("vid", "v"),
      out, state, minCos = 0.9, nlist = 2, nprobe = 1) == 1L)
  }

  test("a seed micro-batch smaller than nprobe cannot wedge the gate") {
    // the r9 ADVICE wedge: a tiny first batch persists an undersized
    // quantizer; routeQueries' nprobe<=nlist require would then throw
    // forever. The effective probe width clamps instead.
    val rnd = new scala.util.Random(97)
    def vec() = Array.fill(dim)(rnd.nextGaussian())
    val dir = java.nio.file.Files.createTempDirectory("semgate-wedge").toString
    val (out, state) = (s"$dir/out", s"$dir/state")
    val v0 = vec()
    // seed batch: 2 vectors < nprobe=4
    assert(SemDeDupGate.curateBatch(
      Seq((0L, v0.toSeq), (1L, vec().toSeq)).toDF("vid", "v"),
      out, state, minCos = 0.9, nlist = 16, nprobe = 4) == 2L)
    // quantizer persisted undersized — and the gate keeps running
    assert(spark.read.parquet(s"$state/_centroids").count() == 2L)
    val batch2 = Seq(
      (10L, v0.map(x => x + 0.02 * rnd.nextGaussian()).toSeq), // near-dup: drop
      (11L, vec().toSeq)).toDF("vid", "v")                     // fresh: admit
    assert(SemDeDupGate.curateBatch(batch2, out, state,
      minCos = 0.9, nlist = 16, nprobe = 4) == 1L)
  }

  test("maintenance fence: gate refuses while down, recovery completes compaction") {
    import graft.streaming.Snapshot
    val rnd = new scala.util.Random(107)
    def vec() = Array.fill(dim)(rnd.nextGaussian())
    val dir = java.nio.file.Files.createTempDirectory("semgate-fence").toString
    val (out, state) = (s"$dir/out", s"$dir/state")
    SemDeDupGate.initSnapshots(spark, out, state)
    val base = (0 until 10).map(i => (i.toLong, vec()))
    base.foreach { case (i, v) =>
      SemDeDupGate.curateBatch(Seq((i, v.toSeq)).toDF("vid", "v"),
        out, state, minCos = 0.9, nlist = 2, nprobe = 1)
    }
    // a reader pins the current committed output version
    val pinnedV = Snapshot.latestVersion(spark, out).get
    val pinnedVids = Snapshot.readVersion(spark, out, Some(pinnedV))
      .get.select("vid").as[Long].collect().toSet
    // crash injection: a compaction died with the fence down — the gate
    // must refuse loudly, recovery must complete the operation
    SemDeDupGate.raiseFenceForTest(spark, state, "compacting")
    val ex = intercept[IllegalStateException] {
      SemDeDupGate.curateBatch(Seq((50L, vec().toSeq)).toDF("vid", "v"),
        out, state, minCos = 0.9, nlist = 2, nprobe = 1)
    }
    assert(ex.getMessage.contains("recoverMaintenance"))
    assert(SemDeDupGate.recoverMaintenance(spark, out, state))
    // compaction ran: per-list file count bounded at maxFiles
    val fs = new org.apache.hadoop.fs.Path(state)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val vecFiles = fs.listStatus(new org.apache.hadoop.fs.Path(s"$state/vecs"))
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("list="))
      .map(p => fs.listStatus(p.getPath)
        .count(f => f.isFile && f.getPath.getName.endsWith(".parquet")))
    assert(vecFiles.forall(_ <= 4), s"uncompacted: ${vecFiles.toSeq}")
    // the pinned pre-compaction version still resolves (retired files
    // served from _stale) with the same rows
    assert(Snapshot.readVersion(spark, out, Some(pinnedV))
      .get.select("vid").as[Long].collect().toSet == pinnedVids)
    // and the recovered gate still drops/admits correctly
    assert(SemDeDupGate.curateBatch(
      Seq((60L, base(3)._2.map(x => x + 0.02 * rnd.nextGaussian()).toSeq))
        .toDF("vid", "v"),
      out, state, minCos = 0.9, nlist = 2, nprobe = 1) == 0L)
    assert(SemDeDupGate.curateBatch(
      Seq((61L, vec().toSeq)).toDF("vid", "v"),
      out, state, minCos = 0.9, nlist = 2, nprobe = 1) == 1L)
    // readOutput prefers the committed manifest
    assert(SemDeDupGate.readOutput(spark, out)
      .select("vid").as[Long].collect().toSet
      == (base.map(_._1).toSet + 61L))
  }

  test("incremental list split: decisions unchanged, probes read sub-lists only") {
    val rnd = new scala.util.Random(211)
    def vec() = Array.fill(dim)(rnd.nextGaussian())
    def noisy(v: Array[Double], eps: Double = 0.02) =
      v.map(x => x + eps * rnd.nextGaussian())
    val dir = java.nio.file.Files.createTempDirectory("semgate-split").toString
    // two identical states: `ctl` stays flat, `spl` gets the hot list split
    val states = Seq((s"$dir/out-ctl", s"$dir/state-ctl"),
      (s"$dir/out-spl", s"$dir/state-spl"))
    val base = (0 until 40).map(i => (i.toLong, vec()))
    states.foreach { case (out, state) =>
      assert(SemDeDupGate.curateBatch(
        base.map { case (i, v) => (i, v.toSeq) }.toDF("vid", "v"),
        out, state, minCos = 0.9, nlist = 2, nprobe = 1) == 40L)
    }
    // split the larger list of the spl state into 4 sub-lists
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def listBytes(state: String, l: Int): Long = {
      val p = new org.apache.hadoop.fs.Path(s"$state/vecs/list=$l")
      if (!fs.exists(p)) 0L
      else fs.listStatus(p).filter(_.isFile).map(_.getLen).sum
    }
    val hot = Seq(1, 2).maxBy(listBytes(s"$dir/state-spl", _))
    SemDeDupGate.splitList(spark, s"$dir/state-spl", hot, nsub = 4)
    // structural: flat files retired, sub dirs hold the rows
    val hotDir = new org.apache.hadoop.fs.Path(s"$dir/state-spl/vecs/list=$hot")
    assert(!fs.listStatus(hotDir)
      .exists(s => s.isFile && s.getPath.getName.endsWith(".parquet")))
    val subDirs = fs.listStatus(hotDir)
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("sub="))
    assert(subDirs.length >= 2)
    // the gate's seen side reads one relation per layout — the flat
    // lists and the split sub-lists — however many dirs it touches, and
    // holds the rows the per-dir reads do
    val vecs = s"$dir/state-spl/vecs"
    val cold0 = Seq(1, 2).find(_ != hot).get
    val touched = s"$vecs/list=$cold0" +: subDirs.map(_.getPath.toString).toSeq
    assert(touched.length >= 3)
    val seen = SemDeDupGate.seenVectors(spark, vecs, touched)
    val scans = seen.queryExecution.sparkPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s }
    assert(scans.length <= 2, s"${scans.length} parquet scans on the seen side")
    def perDir(d: String, l: Int) = spark.read.parquet(d).select("vid")
      .as[Long].collect().map(_ -> l)
    assert(seen.select("seen_id", "list").as[(Long, Int)].collect().toSet ==
      (perDir(s"$vecs/list=$cold0", cold0) ++
        subDirs.flatMap(sd => perDir(sd.getPath.toString, hot))).toSet)
    // the SAME probe batches produce the SAME decisions in both states
    val probes = Seq(
      (100L, noisy(base(5)._2).toSeq),   // near-dup of a seen vector
      (101L, vec().toSeq),               // fresh
      (102L, noisy(base(17)._2).toSeq),  // near-dup
      (103L, vec().toSeq))               // fresh
    val admitted = states.map { case (out, state) =>
      SemDeDupGate.curateBatch(probes.toDF("vid", "v"), out, state,
        minCos = 0.9, nlist = 2, nprobe = 1, subProbe = 2)
    }
    assert(admitted.head == admitted.last,
      s"split changed admit count: $admitted")
    val outs = states.map { case (out, _) =>
      spark.read.parquet(out).select("vid").as[Long].collect().toSet }
    assert(outs.head == outs.last, "split changed the admitted set")
    // post-split registrations land in sub-lists (no flat regrowth)
    assert(!fs.listStatus(hotDir)
      .exists(s => s.isFile && s.getPath.getName.endsWith(".parquet")))
    // crash injection: a split dies AFTER sub rows write but BEFORE the
    // sub-centroid commit — recovery reruns it to completion and the
    // state does not duplicate rows
    val stateRows = spark.read.option("recursiveFileLookup", "true")
      .parquet(s"$dir/state-spl/vecs")
    val rowsBefore = stateRows.count()
    val cold = Seq(1, 2).find(_ != hot).get
    if (listBytes(s"$dir/state-spl", cold) > 0) {
      SemDeDupGate.splitListCrashBeforeCommit(spark, s"$dir/state-spl", cold, 2)
      intercept[IllegalStateException] {
        SemDeDupGate.curateBatch(Seq((200L, vec().toSeq)).toDF("vid", "v"),
          s"$dir/out-spl", s"$dir/state-spl",
          minCos = 0.9, nlist = 2, nprobe = 1)
      }
      assert(SemDeDupGate.recoverMaintenance(
        spark, s"$dir/out-spl", s"$dir/state-spl"))
      assert(spark.read.option("recursiveFileLookup", "true")
        .parquet(s"$dir/state-spl/vecs").count() == rowsBefore,
        "split recovery must not duplicate state rows")
      // decisions still match the control after the recovered split
      val admitted2 = states.map { case (out, state) =>
        SemDeDupGate.curateBatch(
          Seq((300L, noisy(base(9)._2).toSeq), (301L, vec().toSeq))
            .toDF("vid", "v"),
          out, state, minCos = 0.9, nlist = 2, nprobe = 1, subProbe = 2)
      }
      assert(admitted2.head == admitted2.last)
    }
  }

  test("sink wiring: foreachBatch gate over a memory stream") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val rnd = new scala.util.Random(89)
    def vec() = Array.fill(dim)(rnd.nextGaussian()).toSeq
    val dir = java.nio.file.Files.createTempDirectory("semgate-sink").toString
    val mem = MemoryStream[(Long, Seq[Double])]
    val q = SemDeDupGate.startSemDeDupSink(
      mem.toDF().toDF("vid", "v"), s"$dir/out", s"$dir/state",
      s"$dir/ckpt", org.apache.spark.sql.streaming.Trigger.AvailableNow(),
      minCos = 0.9, nlist = 2, nprobe = 1)
    val v0 = vec()
    mem.addData((0L, v0), (1L, vec()))
    q.awaitTermination(60000)
    val q2 = SemDeDupGate.startSemDeDupSink(
      mem.toDF().toDF("vid", "v"), s"$dir/out", s"$dir/state",
      s"$dir/ckpt", org.apache.spark.sql.streaming.Trigger.AvailableNow(),
      minCos = 0.9, nlist = 2, nprobe = 1)
    mem.addData((2L, v0.map(x => x + 0.01 * rnd.nextGaussian())), // near-dup
      (3L, vec()))                                                // fresh
    q2.awaitTermination(60000)
    assert(spark.read.parquet(s"$dir/out")
      .select("vid").as[Long].collect().sorted.toSeq == Seq(0L, 1L, 3L))
  }
}
