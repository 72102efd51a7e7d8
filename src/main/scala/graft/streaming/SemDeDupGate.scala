package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.functions.{NearestCentroid, Similarity, VectorExpressions}
import graft.Tables

/** Streaming SEMANTIC near-duplicate gate — the embedding-space
  * counterpart of [[NearDupGate]] (which gates on MinHash/text): a
  * continuously-ingesting pipeline drops vectors whose cosine against
  * anything already SEEN clears `minCos` — streaming SemDeDup, with the
  * seen-state as a coarse-list-partitioned LAKE table.
  *
  * The design mirrors the text gate where the problems are identical
  * and stays simpler where they are not:
  *  - state = `state/vecs/list=N` dirs keyed by the FIXED coarse
  *    quantizer ([[graft.functions.Similarity]]'s seeded deterministic
  *    centroids). A batch reads ONLY the lists its own vectors route to
  *    (`nprobe` nearest centroids per vector, explicit directory
  *    selection — pruned lists are never listed), so per-batch bytes
  *    track the batch's collision set, not |state|. `nlist` is the
  *    scale knob: thousands of lists at corpus scale keep per-list
  *    bytes near a target, exactly like the text gate's trie leaves.
  *  - the quantizer must be IDENTICAL across batches or probes would
  *    silently read the wrong lists — the first batch trains and
  *    PERSISTS it (`state/_centroids`, write-once, underscore-hidden);
  *    every later batch loads it. The analog of `_gate_params`. A seed
  *    batch SMALLER than `nlist` legally persists an undersized
  *    quantizer; the effective probe width clamps to the persisted
  *    centroid count (probing every list = exact), so a tiny first
  *    micro-batch can never wedge the gate, and a hot list from a
  *    coarse seed is re-balanced incrementally by [[splitList]].
  *  - admit rule, batch and state symmetric with batch [[graft
  *    .functions.Similarity.semDedup]]: within the batch, the higher id
  *    of any same-cluster pair with cosine ≥ `minCos` drops (min id
  *    survives a near-dup group); against state, a vector drops when
  *    ANY seen vector in its probed lists clears `minCos`. Only
  *    SURVIVORS register their (list, vid, v) row — a dropped vector's
  *    neighborhood is already covered at `minCos` by whatever it
  *    dropped against (its representative), so registering it would
  *    add bytes every later probe of that list pays without changing
  *    any first-order decision. This is what bounds state under a
  *    tight-cluster flood — the exact shape a dedup gate exists for:
  *    a sustained stream of one semantic cluster keeps ONE
  *    representative, not the whole flood, and per-batch probe bytes
  *    stay flat no matter how long the flood runs (register-all grew
  *    them linearly forever, and [[splitList]] provably cannot
  *    separate near-identical vectors — docs/SCALE.md). The accepted,
  *    bounded TRANSITIVE-RECALL deviation: for a chain x—y—z with
  *    cos(x,y) ≥ t, cos(y,z) ≥ t but cos(x,z) < t, where y dropped
  *    against registered x, a later z now ADMITS (register-all dropped
  *    it against the unregistered-now y). Greedy leader clustering has
  *    exactly this property; `SemDeDupGateSpec` pins both the
  *    unchanged non-transitive decisions and this deviation.
  *  - replay idempotence, BOTH sides: survivors append to the OUTPUT
  *    first (anti-joined against the touched output lists' existing
  *    ids), the batch's state rows append second, anti-joined against
  *    the probed lists' existing vids (registration targets the
  *    1-nearest list, which is always among the `nprobe` probed lists,
  *    so the probe read covers every registration target) — a crash
  *    between the appends, or a full re-run of a processed batch,
  *    replays into a true no-op on output AND state.
  *  - maintenance runs behind a FENCE (`state/_sem_fence`): the gate
  *    refuses to run while an operation owns the window, a crashed
  *    operation is completed by [[recoverMaintenance]] (the sink calls
  *    it at the top of every batch), and state/output dirs support
  *    [[Snapshot]] manifests ([[initSnapshots]]) so external readers
  *    and probes see committed versions across compaction.
  *
  * vs the text gate: no est-verify step (cosine IS the exact decision,
  * there is no cheaper candidate signal to verify), no short-doc
  * fallback (every vector has full signal). The text gate's
  * `splitLargestLeaf` has a direct analog in [[splitList]]: a hot
  * `list=N` re-partitions under sub-centroids trained on its own rows
  * (persisted, versioned) without touching any other list. */
object SemDeDupGate {

  private def centroidsPath(statePath: String) = s"$statePath/_centroids"
  private def subCentroidsPath(statePath: String, list: Int) =
    s"$statePath/_subcentroids/list=$list"
  private def vecsPath(statePath: String) = s"$statePath/vecs"
  private def fencePath(statePath: String) = new Path(statePath, "_sem_fence")

  private def fsOf(spark: SparkSession, p: String) =
    new Path(p).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Turn [[Snapshot]] manifests ON for the gate's two growing tables
    * (idempotent): external readers then see committed versions across
    * concurrent appends/compaction, and [[readOutput]] prefers the
    * manifest. */
  def initSnapshots(spark: SparkSession, outPath: String,
                    statePath: String): Unit = {
    Snapshot.init(spark, outPath)
    Snapshot.init(spark, vecsPath(statePath))
  }

  /** The gate's admitted output as ONE DataFrame (vid, v, list) —
    * snapshot-manifest read when the dir has one (version-consistent
    * under concurrent maintenance), plain partitioned read otherwise
    * (safe only while maintenance is paused). Mirrors
    * [[NearDupGate.readOutput]]. */
  def readOutput(spark: SparkSession, outPath: String,
                 statePath: Option[String] = None): DataFrame = {
    val raw =
      (if (Snapshot.enabled(spark, outPath))
         // manifest partition cols come back as strings — cast to match
         // the plain partitioned read's inferred int
         Snapshot.readVersion(spark, outPath, partitionCols = Seq("list"))
           .map(_.withColumn("list", col("list").cast("int")))
       else None).getOrElse(Tables.parquet(spark, outPath))
    // with the gate's statePath given, pending tombstones subtract at
    // read — a taken-down vector is invisible to corpus readers from
    // the instant of retireAppend, not the next eviction window
    statePath.flatMap(tombstones(_).live(spark)).fold(raw)(r =>
      raw.join(broadcast(r), Seq("vid"), "left_anti"))
  }

  // ---- vector tombstones (the retire channel on gate STATE) --------

  private def tombstones(statePath: String) =
    graft.functions.ShardWrite.Tombstones(s"$statePath/retire", "vid")

  /** TOMBSTONES for the gate's memory — the embedding-space twin of
    * [[NearDupGate.retireAppend]]: vec ids leaving the corpus append
    * to `$statePath/retire/batch=<id>` under the `_SUCCESS` claim
    * discipline (replays skip, torn shards heal). Effect is IMMEDIATE
    * at probe time: [[curateBatch]] anti-joins the channel out of the
    * seen rows before the cosine gate, so a retired REPRESENTATIVE
    * stops suppressing its semantic neighborhood from the next batch
    * on — under survivors-only registration this matters doubly: the
    * representative is the ONLY state row covering its cluster, so
    * without eviction a takedown would leave the whole cluster
    * suppressed by a vector that no longer exists. [[evictRetired]]
    * rewrites the touched lists in the maintenance window. Returns
    * false iff the shard already existed (replay). */
  def retireAppend(vecIds: DataFrame, statePath: String,
                   batchId: Long): Boolean =
    tombstones(statePath).append(batchId, vecIds, col("vid"))

  /** MAINTENANCE: physically rewrite every `list=`/`sub=` dir holding
    * tombstoned vectors — state vecs AND output — then CONSUME the
    * channel ([[LakeMaintenance.evictRetired]], the shared eviction
    * pass), behind the gate's `_sem_fence` (a crash mid-window heals
    * through [[recoverMaintenance]], which reruns this; the converging
    * [[LakeMaintenance.evictFromDir]] kernel makes the rerun exact).
    * The channel is consumed before the fence clears: a crash between
    * the two leaves only the fence, which the rerun clears as a no-op.
    * Returns (dirs scanned, dirs rewritten).
    *
    * `minEvictDensity` > 0 bounds the rewrite to the takedown's
    * footprint (the NearDupGate.evictRetired contract): a list/sub dir
    * rewrites only at tombstone density ≥ the bound; carried dirs stay
    * exact through the probe-time subtraction and the channel is kept
    * (compacted to one m-shard) instead of consumed. */
  def evictRetired(spark: SparkSession, outPath: String,
                   statePath: String,
                   minEvictDensity: Double = 0.0): (Int, Int) = {
    readFence(spark, statePath).foreach { f =>
      require(f == "evicting",
        s"a DIFFERENT maintenance operation is interrupted ($f) — run " +
          "recoverMaintenance to complete it before evicting")
    }
    val res = LakeMaintenance.evictRetired(spark, tombstones(statePath),
        minEvictDensity) {
      writeFence(spark, statePath, "evicting") // up before the first rewrite
      dataDirs(spark, outPath, statePath)
    }
    // any fence left here is "evicting" and the channel is settled:
    // clearing it completes this run or an interrupted one
    clearFence(spark, statePath)
    res.getOrElse((0, 0))
  }

  /** Every `list=` dir and its `sub=` dirs under the output and the
    * state vecs, each with its root: (dir, root) pairs, what the
    * maintenance rewrites walk. */
  private def dataDirs(spark: SparkSession, outPath: String,
                       statePath: String): Seq[(String, String)] = {
    def subDirs(dir: String, prefix: String): Seq[String] = {
      val p = new Path(dir)
      val fs = fsOf(spark, dir)
      if (!fs.exists(p)) Nil
      else fs.listStatus(p).toSeq.filter(_.isDirectory).map(_.getPath)
        .filter(_.getName.startsWith(prefix)).map(_.toString)
    }
    for (root <- Seq(outPath, vecsPath(statePath));
         lp <- subDirs(root, "list=");
         dir <- lp +: subDirs(lp, "sub="))
      yield (dir, root)
  }

  private def readFence(spark: SparkSession, statePath: String): Option[String] = {
    val fs = fsOf(spark, statePath)
    val f = fencePath(statePath)
    if (!fs.exists(f)) None
    else {
      val in = fs.open(f)
      try Some(scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim)
      finally in.close()
    }
  }

  private def writeFence(spark: SparkSession, statePath: String, s: String): Unit = {
    val fs = fsOf(spark, statePath)
    val out = fs.create(fencePath(statePath), true)
    try out.write(s.getBytes("UTF-8")) finally out.close()
  }

  private def clearFence(spark: SparkSession, statePath: String): Unit =
    fsOf(spark, statePath).delete(fencePath(statePath), false)

  /** Complete an interrupted maintenance operation if the fence is
    * down (the rerun IS the recovery — each operation is re-entrant).
    * Returns true iff a recovery ran. [[startSemDeDupSink]] calls this
    * at the top of every batch so a crash mid-maintenance self-heals on
    * stream restart instead of wedging on the fence. */
  def recoverMaintenance(spark: SparkSession, outPath: String,
                         statePath: String): Boolean =
    readFence(spark, statePath) match {
      case None => false
      case Some("compacting") =>
        compactState(spark, outPath, statePath); true
      case Some(f) if f.startsWith("splitting=") =>
        val Array(l, n) = f.stripPrefix("splitting=").split(":", 2)
        splitList(spark, statePath, l.toInt, n.toInt); true
      case Some("evicting") =>
        evictRetired(spark, outPath, statePath); true
      case Some(other) => throw new IllegalStateException(
        s"unknown maintenance fence at $statePath: $other")
    }

  /** Load the persisted quantizer, or train-and-persist it from this
    * batch (first call). Deterministic: the seeded first-`nlist`
    * centroids of [[Similarity.seededCentroids]]. */
  private def bindCentroids(spark: SparkSession, statePath: String,
                            v: DataFrame, nlist: Int): Array[Array[Double]] = {
    val dir = new Path(centroidsPath(statePath))
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(dir) && fs.listStatus(dir)
        .exists(s => s.isFile && s.getPath.getName.endsWith(".parquet"))) {
      Tables.parquet(spark, dir.toString).collect()
        .sortBy(_.getInt(0)).map(_.getSeq[Double](1).toArray)
    } else {
      import spark.implicits._
      val cents = Similarity.seededCentroids(v, nlist)
      cents.zipWithIndex.map { case (c, i) => (i + 1, c.toSeq) }.toSeq
        .toDF("pos", "centroid").coalesce(1)
        .write.mode("overwrite").parquet(dir.toString)
      cents
    }
  }

  /** Persisted sub-centroids for split lists: `list -> sub-centroid
    * matrix` for every `_subcentroids/list=N` dir. Bounded metadata
    * (splits × nsub × dim doubles). */
  private def loadSubCentroids(spark: SparkSession,
                               statePath: String): Map[Int, Array[Array[Double]]] = {
    val root = new Path(s"$statePath/_subcentroids")
    val fs = fsOf(spark, statePath)
    if (!fs.exists(root)) return Map.empty
    fs.listStatus(root).filter(_.isDirectory).map(_.getPath)
      .filter(_.getName.startsWith("list=")).map { p =>
        val l = p.getName.stripPrefix("list=").toInt
        l -> Tables.parquet(spark, p.toString).collect()
          .sortBy(_.getInt(0)).map(_.getSeq[Double](1).toArray)
      }.toMap
  }

  /** The (list, dir) pairs that exist with data under `root` — explicit
    * directory selection; the list id rides along because reading a
    * partition dir directly loses the dir-name column. A SPLIT list's
    * rows live one level deeper (`list=N/sub=M`), so the listing
    * recurses into sub-dirs — still only within the selected lists. */
  private def listDirs(spark: SparkSession, root: String,
                       lists: Seq[Int]): Seq[(Int, String)] = {
    val rootP = new Path(root)
    val fs = rootP.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(rootP)) return Nil
    def dataDirs(p: Path): Seq[Path] = {
      if (!fs.exists(p)) return Nil
      val st = fs.listStatus(p)
      val here =
        if (st.exists(s => s.isFile && s.getPath.getName.endsWith(".parquet")))
          Seq(p)
        else Nil
      here ++ st.filter(s => s.isDirectory &&
          s.getPath.getName.startsWith("sub="))
        .flatMap(s => dataDirs(s.getPath))
    }
    lists.sorted.flatMap { l =>
      dataDirs(new Path(rootP, s"list=$l")).map(d => (l, d.toString))
    }
  }

  /** As [[listDirs]], but restricted within a SPLIT list to the `subs`
    * sub-lists (un-split flat files in the list root are always
    * included — a list mid-migration keeps full recall). */
  private def listSubDirs(spark: SparkSession, root: String, list: Int,
                          subs: Seq[Int]): Seq[(Int, String)] = {
    val rootP = new Path(root)
    val fs = rootP.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val lp = new Path(rootP, s"list=$list")
    if (!fs.exists(lp)) return Nil
    val st = fs.listStatus(lp)
    val flat =
      if (st.exists(s => s.isFile && s.getPath.getName.endsWith(".parquet")))
        Seq((list, lp.toString))
      else Nil
    flat ++ subs.sorted.map(m => new Path(lp, s"sub=$m"))
      .filter(p => fs.exists(p) && fs.listStatus(p)
        .exists(s => s.isFile && s.getPath.getName.endsWith(".parquet")))
      .map(p => (list, p.toString))
  }

  /** The stored vectors in `dirs` — flat `list=L` and split
    * `list=L/sub=S` dirs of the vecs tree at `root` — as (seen_id,
    * seen_v, list): one read per layout ([[Tables.parquetByLayout]]),
    * `list` typed INT from the dir names. */
  private[graft] def seenVectors(spark: SparkSession, root: String,
                                 dirs: Seq[String]): DataFrame =
    Tables.parquetByLayout(spark, dirs.map(d => (root,
        d.split("/").reverse.takeWhile(_.contains("=")).reverse.mkString("/"), d)),
      org.apache.spark.sql.types.StructType.fromDDL("list INT"))
      .select(col("vid").as("seen_id"), col("v").as("seen_v"), col("list"))

  /** One micro-batch through the gate. `batch` must carry
    * (vid: long, v: array — float or double). Returns the number of
    * rows THIS call admitted (0 for an empty or fully-replayed batch). */
  def curateBatch(batch: DataFrame, outPath: String, statePath: String,
                  minCos: Double = 0.8, nlist: Int = 16,
                  nprobe: Int = 4, subProbe: Int = 2): Long = {
    val spark = batch.sparkSession
    readFence(spark, statePath).foreach { f =>
      throw new IllegalStateException(
        s"SemDeDupGate state at $statePath has an interrupted maintenance " +
          s"operation ($f) — run recoverMaintenance (the sink does this " +
          "automatically on restart) before running the gate")
    }
    val persisted = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    def hold(df: DataFrame): DataFrame = { persisted += df.persist(); df }
    try {
      val b = hold(batch.where(col("vid").isNotNull).dropDuplicates("vid")
        .select(col("vid"), transform(col("v"), _.cast("double")).as("v")))
      if (b.isEmpty) return 0L
      val coarse = bindCentroids(spark, statePath, b, nlist)
      // the wedge guard: a seed batch smaller than `nprobe` persists an
      // undersized quantizer — clamp the effective probe width so the
      // gate keeps running (probing every persisted list = exact)
      val np = math.min(nprobe, coarse.length)
      val subCents = loadSubCentroids(spark, statePath)
      val assigned = hold(b.withColumn("list", NearestCentroid(col("v"), coarse)))

      // ---- gate 1: state collisions in the probed lists -------------
      val routed = hold(Similarity.routeQueries(
        b.select(col("vid").as("qid"), col("v").as("qv")), coarse, np))
      val touched = routed.select("list").distinct()
        .collect().map(_.getInt(0)).toSeq
      // split lists probe only their routed sub-lists; the sub routing
      // is the same NearestCentroid driver-free expression, collected
      // per (list, sub) — bounded by touched × subProbe
      val (splitTouched, flatTouched) = touched.partition(subCents.contains)
      val flatDirs = listDirs(spark, vecsPath(statePath), flatTouched)
      val splitDirs = splitTouched.flatMap { l =>
        val sp = math.min(subProbe, subCents(l).length)
        val subs = routed.where(col("list") === l)
          .select(explode(slice(rankedPositions(col("qv"), subCents(l)), 1, sp))
            .as("sub")).distinct().collect().map(_.getInt(0)).toSeq
        listSubDirs(spark, vecsPath(statePath), l, subs)
      }
      // tombstoned vectors subtract from the SEEN side before the
      // cosine gate — a retired representative must stop suppressing
      // its neighborhood immediately, not at the next eviction window.
      // Absent channel → identical plan (the WAND/codes discipline).
      val gone = tombstones(statePath).live(spark)
      val seenOpt = (flatDirs ++ splitDirs) match {
        case Nil => None
        case dirs =>
          val seen0 = seenVectors(spark, vecsPath(statePath), dirs.map(_._2))
          Some(hold(gone.fold(seen0)(r => seen0.join(
            broadcast(r.select(col("vid").as("seen_id"))),
            Seq("seen_id"), "left_anti"))))
      }
      val stateDropped = seenOpt.map(seen =>
        routed.join(seen, Seq("list"))
          .where(VectorExpressions.cosineSim(col("qv"), col("seen_v")) >= minCos)
          .select(col("qid").as("vid")).distinct())

      // ---- gate 2: batch-local pairwise drop (the semDedup rule) ----
      val localDropped = assigned.as("a").join(assigned.as("b"),
          col("a.list") === col("b.list") && col("a.vid") < col("b.vid"))
        .where(VectorExpressions.cosineSim(col("a.v"), col("b.v")) >= minCos)
        .select(col("b.vid").as("vid")).distinct()

      val gated = hold((Seq(localDropped) ++ stateDropped)
        .foldLeft(b)((acc, d) => acc.join(d, Seq("vid"), "left_anti")))

      // ---- output, replay-idempotent and list-pruned ----------------
      val gatedAssigned = hold(gated
        .withColumn("list", NearestCentroid(col("v"), coarse)))
      val outLists = gatedAssigned.select("list").distinct()
        .collect().map(_.getInt(0)).toSeq
      val fresh = hold(listDirs(spark, outPath, outLists) match {
        case Nil => gatedAssigned
        case dirs =>
          gatedAssigned.join(
            Tables.parquet(spark, dirs.map(_._2): _*).select("vid"),
            Seq("vid"), "left_anti")
      })
      val admitted = fresh.count()
      fresh.select(col("vid"), col("v"), col("list"))
        .repartition(math.min(nlist, 32), col("list"))
        .write.partitionBy("list").mode("append").parquet(outPath)
      if (outLists.nonEmpty && Snapshot.enabled(spark, outPath))
        Snapshot.commit(spark, outPath, outLists.map(l => s"list=$l"))
      // state second: SURVIVORS ONLY register — a dropped vector's
      // representative already covers its neighborhood at minCos, and
      // registering drops is what let a tight-cluster flood grow probe
      // cost without bound (see the object doc's flood/transitive-recall
      // contract). Anti-joined against the probed lists' existing vids
      // (registration targets the 1-nearest list ⊆ the probed lists);
      // on a replay every survivor now collides with its own state row
      // at gate 1, so a replayed batch appends NOTHING on either side.
      val stateRows = gatedAssigned.select(col("vid"), col("v"), col("list"))
      val stateFresh = seenOpt.fold(stateRows)(seen =>
        stateRows.join(seen.select(col("seen_id").as("vid")),
          Seq("vid"), "left_anti"))
      // sub assignment for split lists: NearestCentroid IS rankedPositions'
      // top-1 (argmax cosine, lower pos on ties) — same routing both ways
      val withSub = subCents.foldLeft(
          stateFresh.withColumn("sub", lit(null.asInstanceOf[Integer]))) {
        case (df, (l, cs)) => df.withColumn("sub",
          when(col("list") === l, NearestCentroid(col("v"), cs))
            .otherwise(col("sub")))
      }
      val stateLists = stateFresh.select("list").distinct()
        .collect().map(_.getInt(0)).toSeq
      // split lists write one level deeper; partitionBy drops null subs
      // into the flat list dir via two writes
      val (splitRows, flatRows) = (withSub.where(col("sub").isNotNull),
        withSub.where(col("sub").isNull).drop("sub"))
      flatRows.repartition(math.min(nlist, 32), col("list"))
        .write.partitionBy("list").mode("append").parquet(vecsPath(statePath))
      if (!splitRows.isEmpty)
        splitRows.repartition(math.min(nlist, 32), col("list"), col("sub"))
          .write.partitionBy("list", "sub").mode("append")
          .parquet(vecsPath(statePath))
      if (stateLists.nonEmpty && Snapshot.enabled(spark, vecsPath(statePath)))
        Snapshot.commit(spark, vecsPath(statePath),
          stateLists.map(l => s"list=$l"))
      admitted
    } finally persisted.foreach(_.unpersist())
  }

  /** The positions (1-based) of `cents` ranked by cosine to `v`
    * descending, position ascending on ties — the same (−sim, pos)
    * order as [[Similarity.routeQueries]], as one array expression. */
  private def rankedPositions(v: org.apache.spark.sql.Column,
                              cents: Array[Array[Double]]): org.apache.spark.sql.Column = {
    val simPos = (1 to cents.length).map { pos =>
      struct(VectorExpressions.cosineSim(v,
        array(cents(pos - 1).map(lit): _*)).as("cs"), lit(pos).as("pos"))
    }
    transform(array_sort(array(simPos: _*), (l, r) =>
      when(l.getField("cs") > r.getField("cs"), -1)
        .when(l.getField("cs") < r.getField("cs"), 1)
        .when(l.getField("pos") < r.getField("pos"), -1)
        .otherwise(1)), s => s.getField("pos"))
  }

  /** MAINTENANCE: compact the one-file-per-batch accretion in every
    * list dir of the output and state layouts (snapshot-aware — with
    * manifests enabled, replaced files retire into `_stale` and one new
    * version commits per root). Runs behind the fence; MUST
    * run with the gate paused (the sink's hook runs it inside
    * `foreachBatch`). Re-entrant: a crash mid-compaction leaves the
    * fence down and [[recoverMaintenance]] reruns it — the kernel's
    * loss-proof swap tolerates the rerun. */
  def compactState(spark: SparkSession, outPath: String, statePath: String,
                   targetBytes: Long = 128L << 20, maxFiles: Int = 4): Unit = {
    readFence(spark, statePath).foreach { f =>
      require(f == "compacting",
        s"a DIFFERENT maintenance operation is interrupted ($f) — run " +
          "recoverMaintenance to complete it before compacting")
    }
    writeFence(spark, statePath, "compacting")
    LakeMaintenance.compactDirs(spark, dataDirs(spark, outPath, statePath)
      .map { case (dir, root) => new Path(dir) -> Some(root) }, targetBytes, maxFiles)
    clearFence(spark, statePath)
  }

  /** MAINTENANCE: split ONE hot state list into `nsub` sub-lists under
    * sub-centroids trained on the list's OWN rows (seeded deterministic
    * — first `nsub` by vid) — the embedding-space analog of the text
    * gate's `splitLargestLeaf`: the window is one list's bytes, never
    * O(|state|), and no other list is touched. After the split, probes
    * into this list read only the query's `subProbe` nearest sub-lists
    * and new registrations land in their 1-nearest sub-list.
    *
    * Crash contract, fence-first: `splitting=N:nsub` fence → sub rows
    * fully written under `list=N/sub=M` → sub-centroids persisted
    * (`_subcentroids/list=N`, the COMMIT point — routing consults them
    * only once this write lands) → flat originals retire → fence
    * clears. Re-entrant at every point ([[recoverMaintenance]] reruns
    * it): a rerun before the commit point rewrites the sub dirs from
    * the still-present flat files; after it, the remaining flat files
    * re-shard into subs (already-written rows dedupe by the state
    * append's anti-join contract — sub rows and flat rows never
    * double-read because the flat originals delete before the fence
    * clears, and a probe mid-crash reads flat + subs, which
    * over-returns duplicates that are inert for an existence gate). */
  def splitList(spark: SparkSession, statePath: String, list: Int,
                nsub: Int = 4): Unit = {
    require(nsub >= 2, s"nsub must be >= 2, got $nsub")
    readFence(spark, statePath).foreach { f =>
      require(f == s"splitting=$list:$nsub",
        s"a DIFFERENT maintenance operation is interrupted ($f) — run " +
          "recoverMaintenance to complete it before splitting")
    }
    val root = vecsPath(statePath)
    val fs = fsOf(spark, statePath)
    val lp = new Path(root, s"list=$list")
    if (!fs.exists(lp)) { clearFence(spark, statePath); return }
    val flat = fs.listStatus(lp)
      .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
    if (flat.isEmpty) { clearFence(spark, statePath); return }
    writeFence(spark, statePath, s"splitting=$list:$nsub")
    val rows = Tables.parquet(spark, flat.map(_.getPath.toString): _*)
      .select(col("vid"), col("v"))
    // sub-quantizer: seeded from the list's own rows, persisted BESIDE
    // _centroids — same deterministic contract as the coarse quantizer.
    // A prior crashed run's subcentroids are reused (routing must not
    // flip between reruns once any sub rows exist).
    val subDir = new Path(subCentroidsPath(statePath, list))
    val subs: Array[Array[Double]] =
      if (fs.exists(subDir) && fs.listStatus(subDir)
          .exists(s => s.isFile && s.getPath.getName.endsWith(".parquet")))
        Tables.parquet(spark, subDir.toString).collect()
          .sortBy(_.getInt(0)).map(_.getSeq[Double](1).toArray)
      else Similarity.seededCentroids(rows, nsub)
    // sub rows first (append; reruns anti-join against existing vids)
    val assigned = rows.withColumn("sub", NearestCentroid(col("v"), subs))
    val existingSubDirs = listSubDirs(spark, root, list, 1 to subs.length)
      .map(_._2).filter(_.contains("sub="))
    val freshRows = existingSubDirs match {
      case Nil => assigned
      case dirs => assigned.join(
        Tables.parquet(spark, dirs: _*).select("vid"), Seq("vid"), "left_anti")
    }
    freshRows.repartition(math.min(subs.length, 32), col("sub"))
      .write.partitionBy("sub").mode("append").parquet(lp.toString)
    // COMMIT point: routing consults _subcentroids only after this write
    if (!(fs.exists(subDir) && fs.listStatus(subDir)
        .exists(s => s.isFile && s.getPath.getName.endsWith(".parquet")))) {
      import spark.implicits._
      subs.zipWithIndex.map { case (c, i) => (i + 1, c.toSeq) }.toSeq
        .toDF("pos", "centroid").coalesce(1)
        .write.mode("overwrite").parquet(subDir.toString)
    }
    // retire the flat originals — snapshot-aware like compaction
    if (Snapshot.enabled(spark, root))
      Snapshot.commit(spark, root, Seq(s"list=$list"),
        retired = flat.map(_.getPath).toSeq)
    else flat.foreach(f => fs.delete(f.getPath, false))
    clearFence(spark, statePath)
    System.err.println(s"[SemDeDupGate] split hot list=$list into " +
      s"${subs.length} sub-lists (${flat.length} flat files retired)")
  }

  /** Test-only: raise a maintenance fence as a crashed operation would
    * leave it — the injection point for the recovery specs. */
  private[graft] def raiseFenceForTest(spark: SparkSession, statePath: String,
                                       fence: String): Unit =
    writeFence(spark, statePath, fence)

  /** Test-only fault injection: run [[splitList]]'s fence + sub-row
    * write, then stop BEFORE the sub-centroid commit point — the crash
    * window [[recoverMaintenance]]'s rerun must close. */
  private[graft] def splitListCrashBeforeCommit(spark: SparkSession,
      statePath: String, list: Int, nsub: Int): Unit = {
    val root = vecsPath(statePath)
    val fs = fsOf(spark, statePath)
    val lp = new Path(root, s"list=$list")
    val flat = fs.listStatus(lp)
      .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
    require(flat.nonEmpty, "crash-injection needs a non-empty flat list")
    writeFence(spark, statePath, s"splitting=$list:$nsub")
    val rows = Tables.parquet(spark, flat.map(_.getPath.toString): _*)
      .select(col("vid"), col("v"))
    val subs = Similarity.seededCentroids(rows, nsub)
    rows.withColumn("sub", NearestCentroid(col("v"), subs))
      .repartition(math.min(subs.length, 32), col("sub"))
      .write.partitionBy("sub").mode("append").parquet(lp.toString)
    // crash: no _subcentroids write, no retire, fence stays down
  }

  /** The gate as a streaming sink: vectors stream → semantically-deduped
    * lake, one [[curateBatch]] per micro-batch inside foreachBatch;
    * recovers any interrupted maintenance at the top of every batch. */
  /** `compactEvery` > 0 wires the maintenance window in on the
    * [[NearDupGate.startNearDupSink]] cadence (batchId % compactEvery
    * == compactEvery − 1): tombstone eviction first ([[evictRetired]] —
    * so the compactor then folds already-clean lists), then
    * [[compactState]]. Both run inside foreachBatch, where the
    * stream's own appends are naturally paused, and both self-heal
    * through [[recoverMaintenance]] at the top of every batch. */
  def startSemDeDupSink(vecs: DataFrame, outPath: String, statePath: String,
                        checkpoint: String,
                        trigger: Trigger = Trigger.ProcessingTime("10 seconds"),
                        minCos: Double = 0.8, nlist: Int = 16,
                        nprobe: Int = 4,
                        compactEvery: Int = 0): StreamingQuery =
    vecs.writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode("append")
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        recoverMaintenance(batch.sparkSession, outPath, statePath)
        curateBatch(batch, outPath, statePath, minCos, nlist, nprobe)
        if (compactEvery > 0 && batchId % compactEvery == compactEvery - 1) {
          evictRetired(batch.sparkSession, outPath, statePath)
          compactState(batch.sparkSession, outPath, statePath)
        }
        ()
      }
      .start()
}
