package graft.streaming

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.functions.{ArrayEqCount, Dedup}
import graft.Tables

/** Streaming NEAR-duplicate gate — the MinHash+LSH counterpart of
  * [[EventStream.dedupDocStream]] (which is exact-fingerprint only): a
  * continuously-ingesting pipeline drops documents that are near-dups of
  * anything already seen, not just byte-identical ones.
  *
  * Design: per micro-batch BATCH computation inside `foreachBatch`, with
  * the seen-state as LAKE TABLES — not operator state. That choice buys
  * three things a `flatMapGroupsWithState` formulation cannot: (a) the
  * admit decision needs ALL of a doc's bands (any-band collision), which
  * per-band keyed state cannot aggregate in one stateful pass; (b) the
  * state survives checkpoint loss and is inspectable/compactable like
  * any other table; (c) replays are idempotent end-to-end (below).
  *
  * == Split-trie layout — per-batch cost bounded by the batch, not |state|
  *
  * Every table the gate probes is HASH-PARTITIONED into an
  * extendible-hash TRIE of directories, and each batch reads ONLY the
  * leaves its own keys hash into (explicit directory selection — pruned
  * leaves are never even listed). The trie root is `buckets` dirs
  * (`bucket=N`, N = pmod(hash, buckets)); a leaf that outgrows the byte
  * target is SPLIT into 4 children (`bucket=N/child=M`, M = the next two
  * bits of the key hash), children split again into `child2=`, `child3=`…
  * as they grow. The `_gate_params` marker records the split set, so a
  * key resolves to exactly one leaf at any trie shape. Three layouts:
  *  - `state/bands` — (doc_id, band, band_hash) LSH band memberships,
  *    keyed by band_hash; the collision probe joins on (band, band_hash).
  *  - `state/sigs`  — (doc_id, sig) full k-long MinHash signatures,
  *    keyed by xxhash64(doc_id); read only for the doc_ids the band
  *    probe actually collided with.
  *  - `out`         — admitted rows, keyed by xxhash64(doc_id); the
  *    replay anti-join reads only the leaves the batch's ids land in.
  * A micro-batch with m keys touches ≤ m leaves, so per-batch bytes ≈
  * touched-leaves × leaf-target — proportional to the BATCH's collision
  * set no matter how large the seen-state grows.
  *
  * Growth is INCREMENTAL: [[splitLargestLeaf]] (run automatically in the
  * sink's compaction window when `reshardBucketBytes` > 0) splits ONE
  * over-target leaf per maintenance window, so the maintenance pause is
  * bounded by one leaf's bytes (≈ the target), never O(|state|) — the
  * r6 stop-the-world reshard is now only the OPTIONAL [[reshardState]]
  * (a full-rewrite escape hatch for re-choosing the root fan-out). A
  * MERGE-capable table format with clustering gives this for free; the
  * split trie is the table-format-free equivalent. Skew: a leaf whose
  * rows all carry one hash key (a hot boilerplate band, a common
  * short-doc fingerprint) can never shrink by splitting — the split
  * guard skips it, and [[mitigateHotBands]] (run in the same
  * maintenance window when `hotBandMembers` > 0) mines such keys into a
  * persisted drop list consumed by [[curateBatch]]: the leaf stops
  * growing, its rows rewrite out (Snapshot-retired), and every future
  * probe's per-band collision fan-out is bounded by `maxBandMembers`.
  * [[compactLayouts]] compacts the one-file-per-batch accretion in every
  * leaf — [[startNearDupSink]]'s `compactEvery` wires it in.
  *
  * == Admit rule — est-VERIFIED drops, batch and state symmetric
  *
  * A doc is DROPPED iff
  *  - some batch-LOCAL near-dup component contains it and it is not the
  *    component minimum (pairs est-verified at `threshold` via
  *    [[Dedup.minhashPairsFromSignatures]]); or
  *  - a STATE band collision pairs it with a seen doc whose full
  *    signature estimates Jaccard ≥ `threshold` (the seen signature is
  *    fetched from `state/sigs` by the colliding doc_ids only); or
  *  - it is too short to shingle (< shingleN tokens) and EITHER its
  *    whole-text fingerprint (md5-60 of lowercased text, null text ≡
  *    empty; a `band = -1` row in `state/bands`) matches a seen short
  *    doc's, OR its char-[[CharShingleN]]-gram MinHash signature (bands
  *    at `band <= -2`, the word/char keyspaces disjoint) est-verifies ≥
  *    `threshold` against a colliding seen short doc — so NEAR-dup
  *    short docs drop too, not just exact copies (closing the r6 gap).
  *    Within a batch the minimum-id copy of a component survives; only
  *    null/empty-text docs remain exact-only (nothing to sign).
  * The state registers the bands+fingerprints of EVERY processed doc —
  * survivors and dropped alike — so a later copy of a dropped document
  * still collides; signatures are registered for every SIGNED doc
  * (token keyspace for long docs, char keyspace for short ones).
  *
  * == Replay idempotence, by ordering
  *
  * Survivors append to the OUTPUT first (anti-joined against the
  * output's existing doc_ids in the touched leaves, so a replayed batch
  * re-admits nothing), the batch's band/fingerprint memberships and
  * signatures append to the STATE second. The state appends depend only
  * on the batch itself — never on the output anti-join — so a crash
  * between the appends cannot lose state: the stream cannot advance past
  * an uncommitted batch, the replay recomputes and re-appends identical
  * rows, and duplicate state rows are inert (the probes are
  * join-distinct). Exactly-once output, at-least-once state.
  *
  * == Maintenance crash contract — ONE fence, ALWAYS recoverable
  *
  * Every maintenance mutation (leaf split, full reshard) first rewrites
  * the `_gate_params` marker with a fence suffix (`;splitting=`,
  * `;split_cleanup=`, `;resharding_to=`) — from that instant ANY gate
  * run fails [[bindParams]] loudly, so a half-moved layout can never be
  * silently probed. [[recoverReshard]] (called by the sink at the top of
  * every batch) completes whichever operation the fence names; all three
  * are re-entrant. A leaf split is two-phase: children are fully written
  * into a hidden temp dir under the `splitting` fence (direct files
  * still authoritative — a crash just reruns the write); ONE marker
  * write then both adds the leaf to the split set and flips the fence to
  * `split_cleanup` (the commit point — children now authoritative);
  * cleanup moves the children in, deletes the stale direct files (or
  * RETIRES them into the layout's [[Snapshot]] `_stale` tree when
  * manifests are enabled), and clears the fence. External readers of a
  * mixed-depth trie go through [[readOutput]] — plain
  * `spark.read.parquet(dir)` partition inference rejects mixed depths.
  *
  * Parameter binding: band hashes AND the trie layout are
  * (shingleN, k, bands, seed, buckets, splits)-bound — restarting the
  * gate with different parameters would silently never collide (or probe
  * the wrong directories). The state dir carries a `_gate_params` marker
  * written on first use and VERIFIED on every batch; a mismatch fails
  * loudly. A v2 (r6) state dir fails the same check — its marker does
  * not carry the split-trie section.
  *
  * Path probes check existence explicitly ([[TickIngest]]'s discipline);
  * real IO errors PROPAGATE and fail the batch so the streaming engine
  * retries — a swallowed read error would silently disable the gate or
  * the output's exactly-once for that batch. */
object NearDupGate {

  /** Default root fan-out — sized so fixture-scale states stay readable
    * while the pruning math is real; production gates size this so
    * |state|/buckets ≈ one scan-split, then let leaf splits absorb
    * growth. */
  val DefaultBuckets = 64

  /** Maximum split depth: effective fan-out buckets·4¹² (~17M leaves per
    * root bucket) — bounds marker size and keeps the child-hash modulus
    * far from 64-bit overflow. An over-target leaf at max depth is
    * logged and left alone. */
  val MaxSplitDepth = 12

  /** Character n-gram width for the short-doc signature fallback — a
    * COMPILE-TIME constant (not a parameter) so it can never drift
    * between the run that wrote a state and the run probing it without
    * a code change; trigrams are the standard char-shingle width (MOSS,
    * n-gram LM practice). */
  val CharShingleN = 3

  /** Minimum distinct member signatures for [[mitigateHotBands]] to
    * MINE (permanently drop) a hot band key as diverse boilerplate —
    * below this a hot key is a low-cardinality copy/variant flood and
    * dedupes instead, preserving the band channel's recall (r9 ADVICE:
    * a `> 1` rule let a two-variant flood kill its channel). True
    * boilerplate keys carry hundreds of distinct signatures, so the
    * constant only has to clear plausible variant-flood cardinality. */
  val MinedMinSigs = 8L

  /** Char bands occupy `CharBandBase - band` (−2, −3, …): disjoint from
    * word bands (≥ 0) and the exact-fingerprint band (−1), so the two
    * signature keyspaces can never cross-collide. */
  val CharBandBase = -2

  /** Parsed `_gate_params`: the hash parameters plus the split trie.
    * `splits` maps each layout ("bands"/"sigs"/"out") to its set of
    * SPLIT node paths — a path `List(b, c1, c2…)` means that node's data
    * lives in its 4 children, not in the node dir itself. The set is
    * prefix-closed by construction (only leaves split). */
  private[streaming] final case class GateParams(
      shingleN: Int, k: Int, bands: Int, buckets: Int,
      splits: Map[String, Set[List[Int]]]) {
    def splitSet(l: String): Set[List[Int]] = splits.getOrElse(l, Set.empty)
    def withSplit(l: String, p: List[Int]): GateParams =
      copy(splits = splits.updated(l, splitSet(l) + p))
    def render: String = {
      def enc(l: String) =
        splitSet(l).toSeq.map(_.mkString("/")).sorted.mkString(".")
      s"shingleN=$shingleN,k=$k,bands=$bands,seed=42,buckets=$buckets," +
        s"split=bands:${enc("bands")}|sigs:${enc("sigs")}|out:${enc("out")},v=3"
    }
  }

  private[streaming] object GateParams {
    val Layouts: Seq[String] = Seq("bands", "sigs", "out")
    def emptySplits: Map[String, Set[List[Int]]] =
      Layouts.map(_ -> Set.empty[List[Int]]).toMap
    private val Re =
      ("""shingleN=(\d+),k=(\d+),bands=(\d+),seed=42,buckets=(\d+),""" +
        """split=bands:([0-9/.]*)\|sigs:([0-9/.]*)\|out:([0-9/.]*),v=3""").r
    def parse(s: String): Option[GateParams] = s match {
      case Re(sn, kk, bb, bk, sb, ss, so) =>
        def dec(x: String): Set[List[Int]] =
          if (x.isEmpty) Set.empty
          else x.split("\\.").map(_.split("/").map(_.toInt).toList).toSet
        Some(GateParams(sn.toInt, kk.toInt, bb.toInt, bk.toInt,
          Map("bands" -> dec(sb), "sigs" -> dec(ss), "out" -> dec(so))))
      case _ => None
    }
  }

  private def keyBucket(c: Column, buckets: Int): Column =
    pmod(c, lit(buckets.toLong)).cast("int")

  /** Partition-dir name for split level `d` ≥ 1. Level 1 matches the
    * natural `bucket=N/child=M` reading; deeper levels number the dir so
    * dynamic-partition writes (which key dirs by column name) stay
    * unambiguous. */
  private def childName(d: Int): String = if (d == 1) "child" else s"child$d"

  /** Child index at split level `d` (≥ 1): the next two bits of the key
    * hash beyond what `bucket` and shallower children already fixed —
    * the rows of node (b, c1…c_{d-1}) scatter over exactly 4 values, and
    * pmod keeps the assignment consistent for negative xxhash64 keys. */
  private def childCol(hash: Column, buckets: Int, d: Int): Column = {
    val lo = buckets.toLong << (2 * (d - 1))
    floor(pmod(hash, lit(lo * 4)) / lit(lo)).cast("int")
  }

  private def nodeRel(path: List[Int]): String =
    (s"bucket=${path.head}" +: path.tail.zipWithIndex.map {
      case (c, i) => s"${childName(i + 1)}=$c"
    }).mkString("/")

  private def nodeDir(root: Path, path: List[Int]): Path =
    new Path(root, nodeRel(path))

  private def layoutDir(layoutKey: String, outPath: String,
                        statePath: String): String = layoutKey match {
    case "bands" => s"$statePath/bands"
    case "sigs"  => s"$statePath/sigs"
    case "out"   => outPath
    case other   => throw new IllegalArgumentException(s"unknown layout $other")
  }

  /** The hot-band drop list lives NEXT TO `_gate_params` (underscore
    * prefix: hidden from any recursive data read). Append-only parquet
    * of (band, band_hash) keys — duplicates are inert (the consumer is
    * an anti-join), so a crash between the append and the leaf rewrite
    * in [[mitigateHotBands]] at worst re-mines the same keys. */
  private def hotBandsDir(statePath: String): String = s"$statePath/_hot_bands"

  /** The mined hot-band keys, or None when none were ever mined. Tiny
    * (bounded by layout-bytes / `maxBandMembers` keys) — consumers
    * broadcast it. */
  def readHotBands(spark: SparkSession, statePath: String): Option[DataFrame] = {
    val dir = new Path(hotBandsDir(statePath))
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(dir) && fs.listStatus(dir)
        .exists(s => s.isFile && s.getPath.getName.endsWith(".parquet")))
      Some(Tables.parquet(spark, dir.toString))
    else None
  }

  private def appendHotBands(spark: SparkSession, statePath: String,
                             keys: Seq[(Int, Long)]): Unit = {
    import spark.implicits._
    if (keys.nonEmpty)
      keys.toDF("band", "band_hash").coalesce(1)
        .write.mode("append").parquet(hotBandsDir(statePath))
  }

  /** MAINTENANCE: compact the append-only hot-band drop list to ONE
    * distinct-keys file. The list grows by a tiny file per
    * [[mitigateHotBands]] run and duplicate keys are inert for the
    * anti-join consumer — but neither is free to read forever, so the
    * maintenance cadence ([[compactLayouts]]) rewrites it bounded at
    * exactly the distinct key count. Replace-before-delete
    * ([[LakeMaintenance.swapIn]]): the merged file renames in FIRST,
    * the originals delete after — a crash between the two leaves
    * duplicate keys, which are inert; no crash point loses a key
    * (losing one would silently re-open a mined collision channel). */
  def compactHotBands(spark: SparkSession, statePath: String): Unit = {
    val dir = new Path(hotBandsDir(statePath))
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(dir)) return
    val files = LakeMaintenance.parquetFiles(fs, dir)
    if (files.length <= 1) return
    val tmp = new Path(dir, ".hotbands_tmp")
    fs.delete(tmp, true)
    Tables.parquet(spark, files.map(_.getPath.toString): _*)
      .distinct().coalesce(1).write.parquet(tmp.toString)
    LakeMaintenance.swapIn(spark, fs, dir, tmp, files, "hotbands",
      s"compactHotBands: rename into $dir failed")
  }

  // ---- document tombstones (the retire channel on gate STATE) -------

  private def tombstones(statePath: String) =
    graft.functions.ShardWrite.Tombstones(s"$statePath/retire", "doc_id")

  /** TOMBSTONES for the gate's memory: docs leaving the corpus
    * (takedowns, license pulls) append their ids to
    * `$statePath/retire/batch=<id>` under the standard `_SUCCESS`
    * claim discipline ([[graft.functions.ShardWrite.appendBatch]] —
    * replays skip, torn shards heal). Effect is IMMEDIATE at probe
    * time: [[curateBatch]] anti-joins the channel out of every seen
    * band/fingerprint row before the admit decision, so a retired
    * document stops suppressing near-duplicates of itself from the
    * next batch on — fresh near-identical content is admissible again,
    * which is the POINT of a takedown (the suppressed copy was only
    * inadmissible because the retired one existed). [[readOutput]]
    * subtracts the channel too, so external corpus readers never see a
    * taken-down row even before the physical rewrite.
    * [[evictRetired]] (wired into the sink's maintenance window)
    * then rewrites the touched leaves so the bytes leave the lake.
    * Identity note: a RE-INGEST of the retired doc_id itself stays
    * blocked by the output replay anti-join until eviction rewrites
    * the output leaf — re-admitting an id is indistinguishable from a
    * crash replay of its original batch, so the gate resolves that
    * ambiguity toward exactly-once output; near-dups under NEW ids
    * admit immediately. Cluster note: the gate registers EVERY
    * processed doc's bands (drops included — that is what makes exact
    * copies of drops keep dropping), so a takedown that intends to
    * free a neighborhood must retire every id carrying that content:
    * the admitted representative plus its logged rejected copies.
    * Ids never retired keep their normal suppressing effect, by
    * design. Returns false iff the shard already existed. */
  def retireAppend(docIds: DataFrame, statePath: String,
                   batchId: Long): Boolean =
    tombstones(statePath).append(batchId, docIds, col("doc_id"))

  /** MAINTENANCE: physically rewrite every leaf holding rows of
    * tombstoned docs — bands, sigs AND output — then CONSUME the
    * channel: the shared eviction pass ([[LakeMaintenance.evictRetired]],
    * loss-proof and crash-convergent) over every leaf of the three
    * layouts. Runs in the compaction window ([[startNearDupSink]] wires
    * it in before [[compactLayouts]]); the probe-time subtraction keeps
    * decisions correct throughout a crash window. Returns (leaves
    * scanned, leaves rewritten).
    *
    * `minEvictDensity` > 0 bounds the rewrite to the takedown's actual
    * FOOTPRINT (the r15 verdict's #3 — uniform 10% takedowns rewrote
    * 192/192 leaves): under-threshold leaves are CARRIED —
    * byte-untouched, exact through the probe-time subtraction — and
    * fold when density accumulates or a full (minEvictDensity = 0, the
    * default) pass runs on the compaction cadence. */
  def evictRetired(spark: SparkSession, outPath: String,
                   statePath: String,
                   minEvictDensity: Double = 0.0): (Int, Int) = {
    val fs = new Path(statePath).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val marker = new Path(statePath, "_gate_params")
    if (!fs.exists(marker) || readMarker(fs, marker).contains(";")) return (0, 0)
    val gp = GateParams.parse(readMarker(fs, marker)).getOrElse(return (0, 0))
    LakeMaintenance.evictRetired(spark, tombstones(statePath), minEvictDensity) {
      for (l <- GateParams.Layouts;
           root = new Path(layoutDir(l, outPath, statePath));
           (p, _) <- leafSizes(fs, root, gp, l))
        yield (nodeDir(root, p).toString, root.toString)
    }.getOrElse((0, 0))
  }

  /** The hash column each layout is keyed by — ONE definition so the
    * write path, the probe path, and the split rewrite can never
    * disagree on where a row lives. */
  private def layoutHash(layoutKey: String): Column = layoutKey match {
    case "bands" => col("band_hash")
    case _       => xxhash64(col("doc_id"))
  }

  /** Walk one key's (bucket, child…) tuple down the split trie to its
    * leaf. Terminates: `splits` paths are ≤ MaxSplitDepth long and
    * `children` carries one index per possible level. */
  private def resolveLeaf(bucket: Int, children: IndexedSeq[Int],
                          splits: Set[List[Int]]): List[Int] = {
    var p = List(bucket)
    while (splits.contains(p)) p = p :+ children(p.length - 1)
    p
  }

  /** The distinct trie leaves a frame's keys hash into — the driver-side
    * list that makes every read an EXPLICIT directory selection. Bounded:
    * ≤ min(batch keys, existing leaves) entries. */
  private def touchedLeaves(df: DataFrame, hash: Column, buckets: Int,
                            splits: Set[List[Int]]): Seq[List[Int]] = {
    val maxD = if (splits.isEmpty) 0 else splits.map(_.length).max
    val cols = keyBucket(hash, buckets).as("__b") +:
      (1 to maxD).map(d => childCol(hash, buckets, d).as(s"__c$d"))
    df.select(cols: _*).distinct().collect()
      .map(r => resolveLeaf(r.getInt(0), (1 to maxD).map(r.getInt), splits))
      .distinct.toSeq
  }

  /** Some(frame) iff ≥ 1 of the requested leaf dirs exists with parquet
    * part files — EXPLICIT directory selection (never a root listing),
    * so pruned leaves cost nothing; existence probes only, real IO
    * errors propagate. */
  private def readLeaves(spark: SparkSession, dir: String,
                         leaves: Seq[List[Int]]): Option[DataFrame] = {
    val root = new Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) return None
    val dirs = leaves.sortBy(_.mkString("/")).map(nodeDir(root, _))
      .filter(p => fs.exists(p) && fs.listStatus(p)
        .exists(s => s.isFile && s.getPath.getName.endsWith(".parquet")))
    if (dirs.isEmpty) None
    else Some(Tables.parquet(spark, dirs.map(_.toString): _*))
  }

  /** ONE copy of the dynamic-write clustering (batch appends AND split/
    * reshard rewrites): cluster by the partition key so an append adds
    * at most one file per touched leaf, with an EXPLICIT partition count
    * so AQE cannot coalesce a small batch to a single task that opens
    * every file serially. */
  private def clusterBy(df: DataFrame, cols: Seq[String], fanout: Int): DataFrame =
    df.repartition(
      math.max(1, math.min(fanout,
        df.sparkSession.sparkContext.defaultParallelism)),
      cols.map(col): _*)

  /** Append `df` into a layout's split trie: rows land in the LEAF their
    * key resolves to (depth-0 rows as direct `bucket=N` files, split-off
    * rows under `bucket=N/child=M…`) — one dynamic-partition write per
    * occupied depth. The depth test is a driver-literal membership probe
    * on the path string (split sets are small; a production-scale trie
    * would broadcast-join a split table instead). */
  private def writeLayout(df: DataFrame, hash: Column, dir: String,
                          buckets: Int, splits: Set[List[Int]]): Unit = {
    val maxD = if (splits.isEmpty) 0 else splits.map(_.length).max
    var out = df.withColumn("bucket", keyBucket(hash, buckets))
    for (d <- 1 to maxD) out = out.withColumn(childName(d), childCol(hash, buckets, d))
    val byLen = splits.groupBy(_.length)
      .map { case (l, ps) => l -> ps.map(_.mkString("/")).toSeq }
    // depth(row) = length of its longest split prefix; the split set is
    // prefix-closed, so testing shallow→deep with a when-chain is exact
    var depth: Column = lit(0)
    for (d <- 1 to maxD; strs <- byLen.get(d)) {
      val pathStr = concat_ws("/",
        (col("bucket") +: (1 until d).map(i => col(childName(i))))
          .map(_.cast("string")): _*)
      depth = when(pathStr.isin(strs: _*), lit(d)).otherwise(depth)
    }
    out = out.withColumn("__depth", depth)
    for (d <- (Seq(0) ++ byLen.keys).distinct.sorted) {
      val partCols = "bucket" +: (1 to d).map(childName)
      val drops = ((d + 1) to maxD).map(childName) :+ "__depth"
      val sub = out.where(col("__depth") === d).drop(drops: _*)
      clusterBy(sub, partCols, buckets)
        .write.mode("append").partitionBy(partCols: _*).parquet(dir)
    }
  }

  /** One micro-batch through the gate. `batch` must carry
    * (doc_id: long-orderable, text: string). Returns the number of rows
    * THIS call admitted to the output (0 for an empty or fully-replayed
    * batch).
    *
    * `buckets` is the INITIAL root fan-out, used only when this call
    * creates a fresh state; for an existing state the `_gate_params`
    * marker is authoritative (the trie shape is layout, not hash
    * semantics — [[splitLargestLeaf]]/[[reshardState]] legally change it
    * between runs, and a caller-supplied stale count must not make
    * probes silently read the wrong directories). Hash parameters
    * (shingleN, k, bands, seed) are strictly verified against the
    * marker. */
  def curateBatch(batch: DataFrame, outPath: String, statePath: String,
                  shingleN: Int = 5, k: Int = 64, bands: Int = 16,
                  threshold: Double = 0.5,
                  buckets: Int = DefaultBuckets): Long = {
    require(buckets >= 1, s"buckets must be >= 1, got $buckets")
    val spark = batch.sparkSession
    // every multi-consumer frame is persisted and fully materialized
    // (by the collects/count below) BEFORE the appends at the end — a
    // recompute after the writes could observe the just-written rows
    val persisted = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    def hold(df: DataFrame): DataFrame = { persisted += df.persist(); df }
    try {
      // null doc_ids are DROPPED up front, documented: a row with no
      // identity cannot participate in the idempotent output (a
      // null-keyed anti-join never matches, so it would re-append on
      // every replay) and its bucket hash is null (a poison pill for
      // the collected leaf lists). The id is the caller's row-key
      // contract; rows violating it are excluded like dropDuplicates
      // excludes later copies.
      val b = hold(batch.where(col("doc_id").isNotNull)
        .dropDuplicates("doc_id"))
      if (b.isEmpty) return 0L
      val gp = bindParams(spark, statePath, shingleN, k, bands, buckets)
      val nb = gp.buckets
      val sigs = hold(Dedup.minhashSignatures(
        Dedup.shinglesRaw(b, "doc_id", "text", shingleN), k))
      val banded = Dedup.signatureBands(sigs, k, bands)
      // short docs (< shingleN tokens — no token signature) get TWO
      // probe keyspaces:
      //  (a) a whole-text fingerprint as band = -1 — the exact path,
      //      and the ONLY path for null/empty text (null fingerprints
      //      like empty text: md5(null) is null and a null key would
      //      land in the default partition, invisible to the leaf probe)
      //  (b) char-[[CharShingleN]]-gram MinHash signatures banded into
      //      band <= -2 (CharBandBase - band), so NEAR-dup short docs
      //      est-verify exactly like long docs instead of passing
      //      unchecked (the r6 documented gap). Word bands (>= 0), the
      //      fingerprint band (-1), and char bands (<= -2) are disjoint
      //      ranges, so a char signature can never est-verify against a
      //      token signature — and a doc is in exactly one sig keyspace.
      // predicate, not an anti-join vs sigs (see batchDecision) — b is
      // persisted, so this is a cheap in-memory filter
      val short = hold(b.where(Dedup.tooShortToShingle(col("text"), shingleN)))
      val shortFps = short
        .select(col("doc_id"), lit(-1).as("band"),
          Dedup.md5Hash60(coalesce(lower(col("text")), lit(""))).as("band_hash"))
      val csigs = hold(Dedup.minhashSignatures(
        Dedup.charShinglesRaw(short, "doc_id", "text", CharShingleN), k))
      val cbanded = Dedup.signatureBands(csigs, k, bands)
        .select(col("doc_id"), (lit(CharBandBase) - col("band")).as("band"),
          col("band_hash"))
      val allSigs = hold(sigs.unionByName(csigs))
      // mined hot-band keys (boilerplate bands / ubiquitous keys whose
      // collision sets would dominate every probe — [[mitigateHotBands]])
      // are anti-joined out of the probe BEFORE leaf selection, state
      // collision, AND state registration: the hot leaf stops growing
      // and its collision set is never fetched again. Genuinely-near-dup
      // docs still collide on their other bands; a doc whose EVERY band
      // is hot is pure boilerplate, with no NEAR-dup content signal left
      // (the dropShingles semantics) — but EXACT dedup must survive even
      // for those, so any doc the prune left with zero probe rows falls
      // back to the whole-text fingerprint channel (band = -1: probed,
      // registered, deduped-not-dropped, and never minable). band = -1
      // is never mined, so the exact short-doc path is untouched.
      val hotBands = readHotBands(spark, statePath)
      def pruneHot(df: DataFrame): DataFrame = hotBands.fold(df)(h =>
        df.join(broadcast(h.select("band", "band_hash")),
          Seq("band", "band_hash"), "left_anti"))
      val preHot = banded.select("doc_id", "band", "band_hash")
        .unionByName(cbanded).unionByName(shortFps)
      val pruned = pruneHot(preHot)
      val probe = hold(hotBands.fold(pruned) { _ =>
        val allHot = preHot.select("doc_id").distinct()
          .join(pruned.select("doc_id").distinct(), Seq("doc_id"), "left_anti")
        val hotFps = b.join(allHot, Seq("doc_id"), "left_semi")
          .select(col("doc_id"), lit(-1).as("band"),
            Dedup.md5Hash60(coalesce(lower(col("text")), lit(""))).as("band_hash"))
        pruned.unionByName(hotFps)
      })
      // computed once: the read probe here and the bands snapshot commit
      // below (when enabled) use the identical leaf list
      val probeLeaves =
        touchedLeaves(probe, col("band_hash"), nb, gp.splitSet("bands"))
      // tombstoned docs are subtracted from the SEEN side before any
      // admit decision — a retired doc must stop suppressing
      // near-duplicates immediately, not at the next eviction window.
      // The sigs fetch needs no twin filter: colliding seen_ids derive
      // from these filtered rows. Absent channel → identical plan.
      val gone = tombstones(statePath).live(spark)
      val stateBands = readLeaves(spark, s"$statePath/bands", probeLeaves)
        .map(sb => gone.fold(sb)(r =>
          sb.join(broadcast(r), Seq("doc_id"), "left_anti")))

      // ---- gate 1: state collisions ---------------------------------
      // short docs: exact fingerprint match drops outright
      val shortStateDropped = stateBands.map { sb =>
        probe.where(col("band") === -1)
          .join(sb.where(col("band") === -1).select("band", "band_hash"),
            Seq("band", "band_hash"), "left_semi")
          .select("doc_id")
      }
      // signed docs (token OR char keyspace): band collision is only a
      // CANDIDATE — fetch the colliding seen docs' signatures
      // (leaf-pruned by their ids) and drop only when the estimated
      // Jaccard clears the threshold, symmetric with the batch-local
      // pair path. Disjoint band ranges keep the keyspaces from ever
      // cross-pairing.
      val verifiedStateDropped = stateBands.flatMap { sb =>
        val cand = hold(
          probe.where(col("band") =!= -1)
            .join(sb.where(col("band") =!= -1)
              .select(col("band"), col("band_hash"), col("doc_id").as("seen_id")),
              Seq("band", "band_hash"))
            .select(col("doc_id"), col("seen_id")).distinct())
        readLeaves(spark, s"$statePath/sigs",
          touchedLeaves(cand, xxhash64(col("seen_id")), nb, gp.splitSet("sigs")))
          .map { ss =>
            cand
              .join(ss.select(col("doc_id").as("seen_id"), col("sig").as("seen_sig")),
                Seq("seen_id"))
              .join(allSigs, Seq("doc_id"))
              .where(ArrayEqCount(col("sig"), col("seen_sig"))
                .cast("double") / k >= threshold)
              .select("doc_id").distinct()
          }
      }

      // ---- gate 2: batch-local components ---------------------------
      // word pairs and char pairs ride one component pass — the doc sets
      // are disjoint, so the union stays a distinct undirected pair set.
      // The hot-band list prunes the LOCAL expansions too (a batch full
      // of boilerplate-band docs would otherwise self-pair O(m²) inside
      // the batch): word keys pass through as-is; char keys map back
      // from the stored keyspace (band = CharBandBase − raw) to the raw
      // band ids the local banding emits.
      val wordDrop = hotBands.map(_.where(col("band") >= 0))
      val charDrop = hotBands.map(_.where(col("band") <= CharBandBase)
        .select((lit(CharBandBase) - col("band")).as("band"), col("band_hash")))
      val localPairs = Dedup.minhashPairsFromSignatures(sigs, k, bands, threshold,
          dropBands = wordDrop)
        .unionByName(Dedup.minhashPairsFromSignatures(csigs, k, bands, threshold,
          dropBands = charDrop))
      val localDropped = Dedup.connectedComponents(localPairs, pairsDistinct = true)
        .where(col("doc_id") =!= col("component_rep"))
        .select("doc_id")
      // batch-local short-doc exact dedup: min id per fingerprint wins
      val shortLocalDropped = probe.where(col("band") === -1)
        .withColumn("_rn", row_number().over(
          Window.partitionBy("band_hash").orderBy("doc_id")))
        .where(col("_rn") > 1).select("doc_id")

      val gated = (Seq(localDropped, shortLocalDropped) ++
        shortStateDropped ++ verifiedStateDropped)
        .foldLeft(b) { (acc, d) => acc.join(d, Seq("doc_id"), "left_anti") }

      // ---- output, replay-idempotent and leaf-pruned ----------------
      val gatedB = hold(gated)
      val outLeaves =
        touchedLeaves(gatedB, xxhash64(col("doc_id")), nb, gp.splitSet("out"))
      val fresh = hold(readLeaves(spark, outPath, outLeaves) match {
        case Some(existing) =>
          gatedB.join(existing.select("doc_id"), Seq("doc_id"), "left_anti")
        case None => gatedB
      })
      val admitted = fresh.count()
      writeLayout(fresh, xxhash64(col("doc_id")), outPath, nb, gp.splitSet("out"))
      // snapshot commit for external readers (opt-in — Snapshot.init on
      // the output dir): RECONCILES the leaves touched by the WHOLE
      // batch's ids (not just the survivors'), so a replay after a
      // crash between the append and this commit re-lists the leaves
      // the crashed attempt wrote into even when every replayed doc now
      // drops at gate 1 (its own state rows est-verify at 1.0) and the
      // survivor set is empty
      if (Snapshot.enabled(spark, outPath))
        Snapshot.commit(spark, outPath,
          touchedLeaves(b, xxhash64(col("doc_id")), nb, gp.splitSet("out"))
            .map(nodeRel))
      // state second: the WHOLE batch's memberships (survivors and
      // dropped), independent of the output anti-join — see the
      // crash-window contract above
      writeLayout(probe, col("band_hash"), s"$statePath/bands", nb,
        gp.splitSet("bands"))
      writeLayout(allSigs, xxhash64(col("doc_id")), s"$statePath/sigs", nb,
        gp.splitSet("sigs"))
      // the STATE layouts honor snapshots too (a user may init them for
      // external state inspection): split/compaction already retire
      // per-root, so batch appends must commit per-root as well or an
      // enabled state manifest would go permanently stale. Probes are
      // one exists() per layout when disabled — free.
      if (probeLeaves.nonEmpty && Snapshot.enabled(spark, s"$statePath/bands"))
        Snapshot.commit(spark, s"$statePath/bands", probeLeaves.map(nodeRel))
      if (Snapshot.enabled(spark, s"$statePath/sigs")) {
        // can be EMPTY (an all-empty-text batch signs nothing) — skip
        // rather than churn a no-op manifest version toward the vacuum
        // cutoff
        val sigLeaves =
          touchedLeaves(allSigs, xxhash64(col("doc_id")), nb, gp.splitSet("sigs"))
        if (sigLeaves.nonEmpty)
          Snapshot.commit(spark, s"$statePath/sigs", sigLeaves.map(nodeRel))
      }
      admitted
    } finally persisted.foreach(_.unpersist())
  }

  /** The gate's admit rule for ONE batch against EMPTY state, as a pure
    * DataFrame function — [[curateBatch]]'s gate 2 exactly (against
    * empty state, gate 1 vacuously passes, so this IS the whole
    * decision): `batch` (doc_id, text, …) → the admitted rows.
    *  - word-signed docs (≥ shingleN tokens): non-minimum members of
    *    est-verified MinHash pair components drop;
    *  - short docs: non-minimum members of char-[[CharShingleN]]-gram
    *    pair components drop, and non-minimum exact whole-text
    *    fingerprint copies drop (the only rule for empty/null text).
    * Registered as `q_neardup_gate` with a DuckDB oracle
    * ([[graft.functions.Dedup.gateDecisionOracleSql]]), and pinned
    * equal to `curateBatch`-on-empty-state by `StreamingSpec` — the
    * hash-exact coverage for the streaming gate's decision logic.
    * Kept free of the persistence concerns (leaf probes, holds, state
    * writes) so it stays a registry-runnable plan. */
  def batchDecision(batch: DataFrame, shingleN: Int = 5, k: Int = 64,
                    bands: Int = 16, threshold: Double = 0.5): DataFrame = {
    val b = batch.where(col("doc_id").isNotNull).dropDuplicates("doc_id")
    val sigs = Dedup.minhashSignatures(
      Dedup.shinglesRaw(b, "doc_id", "text", shingleN), k)
    // scan-level predicate, NOT an anti-join vs sigs' doc_ids — the
    // anti-join form re-runs the whole MinHash chain to enumerate the
    // signed side (measured ~1/3 of this query's cost)
    val short = b.where(Dedup.tooShortToShingle(col("text"), shingleN))
    val csigs = Dedup.minhashSignatures(
      Dedup.charShinglesRaw(short, "doc_id", "text", CharShingleN), k)
    val localPairs = Dedup.minhashPairsFromSignatures(sigs, k, bands, threshold)
      .unionByName(Dedup.minhashPairsFromSignatures(csigs, k, bands, threshold))
    val pairDropped = Dedup.connectedComponents(localPairs, pairsDistinct = true)
      .where(col("doc_id") =!= col("component_rep"))
      .select("doc_id")
    val fpDropped = short
      .select(col("doc_id"),
        Dedup.md5Hash60(coalesce(lower(col("text")), lit(""))).as("_fp"))
      .withColumn("_rn", row_number().over(
        Window.partitionBy("_fp").orderBy("doc_id")))
      .where(col("_rn") > 1).select("doc_id")
    Seq(pairDropped, fpDropped)
      .foldLeft(b) { (acc, d) => acc.join(d, Seq("doc_id"), "left_anti") }
  }

  /** Read the gate's admitted output as ONE DataFrame — the reader-side
    * answer to the split trie's mixed directory depths, which defeat
    * plain `spark.read.parquet(dir)` partition inference. Prefers the
    * [[Snapshot]] manifest when the dir has one (version-consistent
    * under concurrent maintenance — the production path for external
    * readers); falls back to a recursive-lookup read, which is only
    * safe while the gate's maintenance is paused. */
  def readOutput(spark: SparkSession, outPath: String,
                 statePath: Option[String] = None): DataFrame = {
    val raw =
      (if (Snapshot.enabled(spark, outPath)) Snapshot.readVersion(spark, outPath)
       else None).getOrElse(
        Tables.parquet(spark, Seq(outPath), Map("recursiveFileLookup" -> "true")))
    // with the gate's statePath given, pending tombstones subtract at
    // read — a taken-down doc is invisible to corpus readers from the
    // instant of retireAppend, not the next eviction window
    statePath.flatMap(tombstones(_).live(spark)).fold(raw)(r =>
      raw.join(broadcast(r), Seq("doc_id"), "left_anti"))
  }

  /** Write-once / verify-always parameter marker in the state dir.
    * Returns the EFFECTIVE layout: the marker's for an existing state
    * (trie shape is marker-authoritative — splits/reshards legally
    * change it between runs), a fresh flat layout at `defaultBuckets`
    * for a new one. Hash parameters are strictly verified; a maintenance
    * fence (`;splitting=` / `;split_cleanup=` / `;resharding_to=`) fails
    * every gate run until [[recoverReshard]] completes it. */
  private def bindParams(spark: SparkSession, statePath: String,
                         shingleN: Int, k: Int, bands: Int,
                         defaultBuckets: Int): GateParams = {
    val marker = new Path(statePath, "_gate_params")
    val fs = marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(marker)) {
      val got = readMarker(fs, marker)
      require(!got.contains(";"),
        s"NearDupGate state at $statePath has an interrupted maintenance " +
          s"operation ($got) — run recoverReshard (the sink does this " +
          "automatically on restart) to complete it before running the gate")
      val parsed = GateParams.parse(got)
      require(parsed.exists(p =>
          p.shingleN == shingleN && p.k == k && p.bands == bands),
        s"NearDupGate state at $statePath was built with ($got) but this " +
          s"gate runs (shingleN=$shingleN,k=$k,bands=$bands,seed=42) " +
          "— band hashes are parameter-bound and the probe would silently " +
          "never collide; use a fresh statePath or matching parameters")
      parsed.get
    } else {
      val p = GateParams(shingleN, k, bands, defaultBuckets, GateParams.emptySplits)
      writeMarker(fs, marker, p.render)
      p
    }
  }

  /** The state's current ROOT bucket fan-out, from the authoritative
    * marker (leaf splits grow the trie below this count; only
    * [[reshardState]] changes it). */
  def currentBuckets(spark: SparkSession, statePath: String): Option[Int] = {
    val marker = new Path(statePath, "_gate_params")
    val fs = marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(marker)) None
    else ",buckets=(\\d+),".r.findFirstMatchIn(readMarker(fs, marker))
      .map(_.group(1).toInt)
  }

  /** Parsed clean marker, or None when no state exists. Throws on an
    * interrupted maintenance fence — callers that can complete it use
    * [[recoverReshard]] first. */
  private def cleanParams(fs: FileSystem, statePath: String): Option[GateParams] = {
    val marker = new Path(statePath, "_gate_params")
    if (!fs.exists(marker)) return None
    val raw = readMarker(fs, marker)
    require(!raw.contains(";"),
      s"interrupted maintenance at $statePath ($raw) — run recoverReshard first")
    Some(GateParams.parse(raw).getOrElse(throw new IllegalStateException(
      s"unparseable _gate_params at $statePath: $raw")))
  }

  /** Complete an interrupted maintenance operation if the marker carries
    * a fence: reruns the fenced operation (the rerun IS the crash
    * recovery — each operation is re-entrant). Returns true iff a
    * recovery ran. [[startNearDupSink]] calls this at the top of every
    * batch so a crash mid-maintenance self-heals on stream restart
    * instead of wedging on the fence. */
  def recoverReshard(spark: SparkSession, outPath: String,
                     statePath: String): Boolean = {
    val marker = new Path(statePath, "_gate_params")
    val fs = marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(marker)) return false
    val raw = readMarker(fs, marker)
    raw.dropWhile(_ != ';') match {
      case "" => false
      case f if f.startsWith(";resharding_to=") =>
        reshardState(spark, outPath, statePath,
          f.stripPrefix(";resharding_to=").toInt)
        true
      case f if f.startsWith(";splitting=") || f.startsWith(";split_cleanup=") =>
        val body = f.drop(f.indexOf('=') + 1) // "layout:path"
        val Array(l, pstr) = body.split(":", 2)
        splitNode(spark, outPath, statePath, l,
          pstr.split("/").map(_.toInt).toList)
        true
      case other => throw new IllegalStateException(
        s"unknown maintenance fence at $statePath: $other")
    }
  }

  private def readMarker(fs: FileSystem, marker: Path): String = {
    val in = fs.open(marker)
    try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
    finally in.close()
  }

  private def writeMarker(fs: FileSystem, marker: Path, s: String): Unit = {
    val out = fs.create(marker, true)
    try out.write(s.getBytes("UTF-8")) finally out.close()
  }

  /** MAINTENANCE: split ONE trie leaf into its 4 children — the bounded
    * incremental reshard. The window this needs the gate paused for is
    * one leaf's bytes (the split reads and rewrites exactly that leaf),
    * never O(|state|). MUST run with the gate stopped for this state
    * (the sink's auto-hook runs it inside `foreachBatch`, where the
    * stream's own batches are naturally paused).
    *
    * Crash contract (see the class doc): `;splitting=` fence → children
    * fully written to a hidden temp dir → ONE commit write (split set +
    * `;split_cleanup=` fence) → children move in, direct files delete,
    * fence clears. Re-entrant at every point; [[recoverReshard]] reruns
    * it from the fence. */
  def splitNode(spark: SparkSession, outPath: String, statePath: String,
                layoutKey: String, path: List[Int]): Unit =
    splitNodeImpl(spark, outPath, statePath, layoutKey, path,
      crashAfterCommit = false)

  /** [[splitNode]] with a test-only fault injection point: throw right
    * after the commit marker write (children authoritative, direct files
    * still present, cleanup fence down) — the crash window the recovery
    * spec pins. */
  private[graft] def splitNodeImpl(spark: SparkSession, outPath: String,
      statePath: String, layoutKey: String, path: List[Int],
      crashAfterCommit: Boolean): Unit = {
    require(GateParams.Layouts.contains(layoutKey),
      s"unknown layout $layoutKey (expected one of ${GateParams.Layouts})")
    require(path.nonEmpty && path.tail.forall(c => c >= 0 && c < 4),
      s"malformed node path ${path.mkString("/")}")
    require(path.length <= MaxSplitDepth,
      s"split depth ${path.length} exceeds MaxSplitDepth=$MaxSplitDepth")
    val marker = new Path(statePath, "_gate_params")
    val fs = marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(marker), s"no gate state at $statePath to split")
    val raw = readMarker(fs, marker)
    val base = raw.takeWhile(_ != ';')
    val pstr = path.mkString("/")
    val fence = raw.drop(base.length)
    require(fence.isEmpty || fence == s";splitting=$layoutKey:$pstr" ||
        fence == s";split_cleanup=$layoutKey:$pstr",
      s"a DIFFERENT maintenance operation is interrupted ($raw) — run " +
        "recoverReshard to complete it before splitting")
    val gp = GateParams.parse(base).getOrElse(throw new IllegalStateException(
      s"unparseable _gate_params at $statePath: $base"))
    require(path.head >= 0 && path.head < gp.buckets,
      s"bucket ${path.head} outside root fan-out ${gp.buckets}")
    (1 until path.length).foreach { l =>
      require(gp.splitSet(layoutKey).contains(path.take(l)),
        s"cannot split $pstr: ancestor ${path.take(l).mkString("/")} of " +
          s"$layoutKey is not split")
    }
    val root = new Path(layoutDir(layoutKey, outPath, statePath))
    val leaf = nodeDir(root, path)
    val tmp = new Path(leaf, ".split_tmp")
    val d = path.length
    if (!gp.splitSet(layoutKey).contains(path)) {
      val files =
        if (!fs.exists(leaf)) Array.empty[FileStatus]
        else fs.listStatus(leaf)
          .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
      if (files.isEmpty) {
        // nothing to split — clear a dangling fence, leave the trie alone
        if (fence.nonEmpty) writeMarker(fs, marker, base)
        return
      }
      // FENCE phase 1: no gate may run while the leaf is half-split; the
      // direct files stay authoritative until the commit below, so a
      // crash anywhere in this phase just reruns the child write
      writeMarker(fs, marker, base + s";splitting=$layoutKey:$pstr")
      fs.delete(tmp, true)
      val cn = childName(d)
      clusterBy(
        Tables.parquet(spark, files.map(_.getPath.toString): _*)
          .withColumn(cn, childCol(layoutHash(layoutKey), gp.buckets, d)),
        Seq(cn), 4)
        .write.partitionBy(cn).parquet(tmp.toString)
      // COMMIT — one marker write adds the path to the split set and
      // flips the fence to cleanup: from here the children are the
      // authoritative copy and the direct files are garbage
      writeMarker(fs, marker,
        gp.withSplit(layoutKey, path).render + s";split_cleanup=$layoutKey:$pstr")
    }
    if (crashAfterCommit) throw new java.io.IOException(
      s"splitNode: injected crash after commit for $layoutKey:$pstr (test hook)")
    // CLEANUP (re-entrant): move children out of the temp dir, then drop
    // the now-redundant direct files and the fence
    if (fs.exists(tmp)) {
      fs.listStatus(tmp)
        .filter(s => s.isDirectory && s.getPath.getName.startsWith(childName(d) + "="))
        .foreach { c =>
          val dest = new Path(leaf, c.getPath.getName)
          // rename is an atomic move — a child lives in tmp OR at dest,
          // never both; an existing dest means a prior attempt moved it
          if (fs.exists(dest)) fs.delete(c.getPath, true)
          else require(fs.rename(c.getPath, dest),
            s"splitNode: rename ${c.getPath} -> $dest failed")
        }
      fs.delete(tmp, true)
    }
    if (fs.exists(leaf)) {
      val (parts, rest) = fs.listStatus(leaf).filter(_.isFile)
        .partition(_.getPath.getName.endsWith(".parquet"))
      if (Snapshot.enabled(spark, root.toString))
        // retire the stale direct files and re-list the leaf (now the
        // child dirs) in ONE commit — external readers at older versions
        // keep resolving the retired files from _stale
        Snapshot.commit(spark, root.toString, Seq(nodeRel(path)),
          retired = parts.map(_.getPath).toSeq)
      else parts.foreach(f => fs.delete(f.getPath, false))
      rest.foreach(f => fs.delete(f.getPath, false))
    }
    writeMarker(fs, marker, readMarker(fs, marker).takeWhile(_ != ';'))
  }

  /** Existing leaf dirs of a layout (per the marker's split trie) with
    * their parquet byte sizes. Driver FS work is O(leaves) listings,
    * maintenance-window-only. */
  private def leafSizes(fs: FileSystem, root: Path, gp: GateParams,
                        layoutKey: String): Seq[(List[Int], Long)] = {
    if (!fs.exists(root)) return Nil
    val splits = gp.splitSet(layoutKey)
    def expand(p: List[Int]): Seq[List[Int]] =
      if (splits.contains(p)) (0 until 4).flatMap(c => expand(p :+ c)) else Seq(p)
    (0 until gp.buckets).flatMap(b => expand(List(b))).flatMap { p =>
      val d = nodeDir(root, p)
      if (!fs.exists(d)) None
      else Some(p -> fs.listStatus(d)
        .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
        .map(_.getLen).sum)
    }.filter(_._2 > 0)
  }

  /** MAINTENANCE: find the single largest over-target leaf across the
    * three layouts and split it — the auto-reshard step the sink runs
    * once per compaction window. At most ONE leaf rewrite per call keeps
    * the maintenance pause bounded by `targetBytes`-ish regardless of
    * state size.
    *
    * Skew guard (r6 ADVICE): a leaf whose rows all hash to ONE child —
    * a single hot (band, band_hash) key such as a very common short-doc
    * fingerprint or boilerplate band — cannot shrink by splitting;
    * without the guard every window would re-split it, growing the trie
    * geometrically while the leaf never shrinks. Such leaves (and
    * leaves already at [[MaxSplitDepth]]) are skipped with a log line;
    * the next-largest splittable leaf is taken instead. Returns the
    * (layout, path) split, or None when nothing is over target or
    * splittable. */
  def splitLargestLeaf(spark: SparkSession, outPath: String, statePath: String,
                       targetBytes: Long): Option[(String, List[Int])] = {
    require(targetBytes > 0, s"targetBytes must be positive, got $targetBytes")
    val fs = new Path(statePath).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val gp = cleanParams(fs, statePath).getOrElse(return None)
    val over = GateParams.Layouts.flatMap { l =>
      leafSizes(fs, new Path(layoutDir(l, outPath, statePath)), gp, l)
        .filter(_._2 > targetBytes).map { case (p, bytes) => (l, p, bytes) }
    }.sortBy(-_._3)
    val pick = over.view.filter { case (l, p, bytes) =>
      if (p.length >= MaxSplitDepth) {
        System.err.println(s"[NearDupGate] leaf $l:${p.mkString("/")} " +
          s"($bytes B > $targetBytes) is at MaxSplitDepth=$MaxSplitDepth — skipping")
        false
      } else {
        val leaf = nodeDir(new Path(layoutDir(l, outPath, statePath)), p)
        val files = fs.listStatus(leaf)
          .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
        val children = Tables.parquet(spark, files.map(_.getPath.toString): _*)
          .select(childCol(layoutHash(l), gp.buckets, p.length).as("c"))
          .distinct().count()
        if (children > 1) true
        else {
          System.err.println(s"[NearDupGate] leaf $l:${p.mkString("/")} " +
            s"($bytes B > $targetBytes) is dominated by a single hash key — " +
            "splitting cannot shrink it; skipping (mitigateHotBands mines " +
            "such keys into the drop list in the same maintenance window)")
          false
        }
      }
    }.headOption
    pick.foreach { case (l, p, _) => splitNode(spark, outPath, statePath, l, p) }
    pick.map { case (l, p, _) => (l, p) }
  }

  /** MAINTENANCE: mine HOT band keys out of over-target `bands` leaves —
    * the automatic mitigation for the one leaf shape [[splitLargestLeaf]]
    * correctly refuses (a leaf dominated by a single hash key: a
    * boilerplate band shared by a large fraction of the corpus, a
    * ubiquitous short-doc char band). Splitting cannot shrink such a
    * leaf, and without mitigation every colliding batch would fetch and
    * est-verify the key's ENTIRE membership — the r7 adversarial scale
    * edge.
    *
    * Rule: inside any `bands` leaf over `targetBytes`, every
    * (band ≠ -1, band_hash) key with ≥ `maxBandMembers` membership rows
    * is a mitigation candidate, but a key can be hot for TWO different
    * reasons and only one of them may be dropped:
    *  - DIVERSE membership (many distinct documents sharing one band —
    *    true boilerplate): the band carries no discriminative signal;
    *    the key is MINED — (1) appended to the persisted drop list next
    *    to `_gate_params` ([[curateBatch]] anti-joins it before probing
    *    AND before state registration, so the leaf stops growing and
    *    the key's collision set is never read again) and (2) its state
    *    rows are rewritten out of the leaf (retired through
    *    [[Snapshot]] when the layout has manifests, so pinned external
    *    readers keep resolving). Near-dup docs keep dropping via their
    *    other bands — the [[graft.functions.Dedup]] `dropShingles`
    *    semantics at band granularity.
    *  - DUPLICATE CLUSTER (one document — or a handful of variants —
    *    ingested many times: a copy flood): the membership carries only
    *    a FEW distinct full signatures, so dropping the key would
    *    permanently disable near-dup detection for future VARIANTS of
    *    those documents (exact copies still drop via other channels) —
    *    a recall loss, not a mitigation. Such keys are instead DEDUPED
    *    to one representative row per key (min doc_id), which is
    *    semantics-preserving for the dominant exact-copy case and
    *    bounds the leaf the same way.
    * Diversity is measured as the count of distinct full signatures
    * among the key's members, fetched from `state/sigs` by the member
    * doc_ids only (leaf-pruned; bounded by the leaf's own row count);
    * a key is mined only at ≥ [[MinedMinSigs]] distinct signatures
    * (r9 ADVICE: at `> 1` a TWO-variant copy-flood counted as diverse
    * boilerplate and lost its band channel — low-cardinality variant
    * floods now fall on the dedupe side).
    * A member with no signature row (possible only in the
    * bands-written/sigs-unwritten replay crash window) counts as zero —
    * erring toward dedupe, the recall-preserving side.
    * `maxBandMembers` remains a direct PER-PROBE COST BOUND either way:
    * after mitigation no band collision can ever fan out to more than
    * that many signature fetches.
    *
    * The EXACT-fingerprint band (-1) is never dropped (a collision
    * there IS the decision, not a candidate) — a hot fingerprint key's
    * rows are always DEDUPED to one representative per key, which is
    * semantics-preserving (the probe is an existence semi-join) and
    * bounds that leaf the same way.
    *
    * Crash order: the drop-list append lands BEFORE the leaf rewrite,
    * so a crash between them leaves the key suppressed (no regrowth)
    * with stale state rows that the next maintenance window re-mines;
    * duplicate drop-list rows are inert. MUST run in the maintenance
    * window (gate paused), like every other maintenance operation.
    * Returns the newly mined (band, band_hash) keys. */
  def mitigateHotBands(spark: SparkSession, outPath: String, statePath: String,
                       targetBytes: Long, maxBandMembers: Long): Seq[(Int, Long)] = {
    require(targetBytes > 0, s"targetBytes must be positive, got $targetBytes")
    require(maxBandMembers > 0, s"maxBandMembers must be positive, got $maxBandMembers")
    val fs = new Path(statePath).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val gp = cleanParams(fs, statePath).getOrElse(return Nil)
    val root = new Path(layoutDir("bands", outPath, statePath))
    val mined = scala.collection.mutable.ArrayBuffer.empty[(Int, Long)]
    import spark.implicits._
    leafSizes(fs, root, gp, "bands")
      .filter(_._2 > targetBytes).foreach { case (p, bytes) =>
        val leaf = nodeDir(root, p)
        val files = fs.listStatus(leaf)
          .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
        if (files.nonEmpty) {
          val df = Tables.parquet(spark, files.map(_.getPath.toString): _*)
          // bounded collect: at most leafRows / maxBandMembers keys
          val over = df.groupBy("band", "band_hash").count()
            .where(col("count") >= maxBandMembers).collect()
          val cand = over.filter(_.getInt(0) != -1)
            .map(r => (r.getInt(0), r.getLong(1))).toSeq
          val fpHot = over.filter(_.getInt(0) == -1).map(_.getLong(1)).toSeq
          // diversity split (see the contract above): a candidate key
          // whose members all carry ONE signature is a duplicate
          // cluster — dedupe, never drop. Bounded: the member set is a
          // subset of this leaf's rows; the sig fetch is leaf-pruned by
          // the member ids.
          val (hot, dupKeys) = if (cand.isEmpty) (Nil, Nil) else {
            val candDf = broadcast(cand.toDF("band", "band_hash"))
            val members = df.join(candDf, Seq("band", "band_hash"), "left_semi")
            val memberIds = members.select("doc_id").distinct()
            val sigLeaves = touchedLeaves(memberIds, xxhash64(col("doc_id")),
              gp.buckets, gp.splitSet("sigs"))
            val diversity: Map[(Int, Long), Long] =
              readLeaves(spark, s"$statePath/sigs", sigLeaves) match {
                case Some(ss) =>
                  members.join(ss.select(col("doc_id"), col("sig")),
                      Seq("doc_id"), "left")
                    .groupBy("band", "band_hash")
                    .agg(countDistinct(xxhash64(col("sig"))).as("nsig"))
                    .collect()
                    .map(r => ((r.getInt(0), r.getLong(1)), r.getLong(2)))
                    .toMap
                case None => Map.empty
              }
            cand.partition(k => diversity.getOrElse(k, 0L) >= MinedMinSigs)
          }
          if (hot.nonEmpty || fpHot.nonEmpty || dupKeys.nonEmpty) {
            // drop list FIRST (crash order — see the contract above)
            appendHotBands(spark, statePath, hot)
            mined ++= hot
            var keep =
              if (hot.isEmpty) df
              else df.join(broadcast(hot.toDF("band", "band_hash")),
                Seq("band", "band_hash"), "left_anti")
            val dedupKeys = fpHot.map(h => (-1, h)) ++ dupKeys
            if (dedupKeys.nonEmpty) {
              keep = keep
                .join(broadcast(dedupKeys.toDF("band", "band_hash")
                  .withColumn("_dd", lit(true))),
                  Seq("band", "band_hash"), "left")
                .withColumn("_rn", row_number().over(
                  Window.partitionBy("band", "band_hash").orderBy("doc_id")))
                .where(col("_dd").isNull || col("_rn") === 1)
                .drop("_rn", "_dd")
            }
            keep.coalesce(4).write.mode("append").parquet(leaf.toString)
            if (Snapshot.enabled(spark, root.toString))
              Snapshot.commit(spark, root.toString, Seq(nodeRel(p)),
                retired = files.map(_.getPath).toSeq)
            else files.foreach(f => fs.delete(f.getPath, false))
            System.err.println(s"[NearDupGate] mitigated hot leaf " +
              s"bands:${p.mkString("/")} ($bytes B): dropped ${hot.size} " +
              s"diverse band key(s), deduped ${dupKeys.size} " +
              s"duplicate-cluster + ${fpHot.size} fingerprint key(s)")
          }
        }
      }
    mined.toSeq
  }

  /** MAINTENANCE: compact the one-file-per-batch accretion in every LEAF
    * dir of all three layouts (split-trie aware —
    * [[LakeMaintenance.compactPartitioned]] walks only one directory
    * level). No-op while a maintenance fence is down (that operation
    * owns the window; the sink recovers it first). */
  def compactLayouts(spark: SparkSession, outPath: String, statePath: String,
                     targetBytes: Long = 128L << 20, maxFiles: Int = 4): Unit = {
    val fs = new Path(statePath).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val marker = new Path(statePath, "_gate_params")
    if (!fs.exists(marker) || readMarker(fs, marker).contains(";")) return
    val gp = GateParams.parse(readMarker(fs, marker)).getOrElse(return)
    // every leaf of the three layouts in one pass: one write job per
    // layout schema, one manifest commit per layout root (a no-op for
    // layouts without manifests — the kernel probes enabled())
    LakeMaintenance.compactDirs(spark, GateParams.Layouts.flatMap { l =>
      val root = new Path(layoutDir(l, outPath, statePath))
      leafSizes(fs, root, gp, l).map { case (p, _) =>
        nodeDir(root, p) -> Some(root.toString) }
    }, targetBytes, maxFiles)
    // the drop list rides the same cadence — bounded at its distinct
    // key count instead of one file per mitigation run
    compactHotBands(spark, statePath)
  }

  /** MAINTENANCE ESCAPE HATCH: rewrite all three layouts FLAT at a new
    * root bucket count (splits reset to none) — a full O(|state|)
    * rewrite, the operation [[splitLargestLeaf]] exists to avoid.
    * Legitimate uses: re-choosing a badly-sized initial fan-out, or
    * collapsing a deep trie after a mass deletion. MUST run with the
    * gate stopped.
    *
    * Crash contract, FENCE-FIRST: before any data moves, the
    * `_gate_params` marker is rewritten with a `;resharding_to=` fence —
    * from that instant ANY gate restart fails `bindParams` loudly (the
    * marker equals no runnable parameter string), so a half-moved
    * layout can never be silently probed, including the two windows a
    * marker-LAST ordering would miss (crash after a swap with the old
    * marker still matching old-bucket gates; crash between the two
    * renames leaving the layout dir absent, which a matching gate would
    * read as empty state). Each layout swap is
    * replacement-before-delete (full temp write → old moves aside →
    * temp renames in → aside deletes) and RE-ENTRANT: a rerun first
    * restores a half-swapped dir from its aside copy, so re-running
    * `reshardState` is the complete crash recovery; the clean marker is
    * written only after every swap finished. */
  def reshardState(spark: SparkSession, outPath: String, statePath: String,
                   newBuckets: Int): Unit = {
    require(newBuckets >= 1, s"newBuckets must be >= 1, got $newBuckets")
    val marker = new Path(statePath, "_gate_params")
    val fs = marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(marker), s"no gate state at $statePath to reshard")
    // a `;resharding_to=` suffix from an interrupted run is accepted —
    // rerunning reshard IS the recovery path; the clean prefix carries
    // the authoritative old layout
    val raw = readMarker(fs, marker)
    val base = raw.takeWhile(_ != ';')
    val fence = raw.drop(base.length)
    require(fence.isEmpty || fence == s";resharding_to=$newBuckets",
      s"a DIFFERENT maintenance operation is interrupted ($raw) — run " +
        "recoverReshard to complete it before resharding")
    val gp = GateParams.parse(base).getOrElse(throw new IllegalStateException(
      s"unparseable _gate_params at $statePath: $base"))
    // FENCE: no gate may run until the clean marker returns
    writeMarker(fs, marker, base + s";resharding_to=$newBuckets")
    // Re-entrant tail of a snapshot-enabled swap: move the manifest
    // trees the p→aside rename carried out back into p, then RETIRE the
    // aside tree's remaining data files under one full-re-list commit,
    // so manifest readers at pre-reshard versions stay resolvable.
    // Every step tolerates a prior partial run: tree moves skip
    // already-moved trees (merging children into a shell a premature
    // Snapshot.init recreated on p — new children win, and real
    // collisions are impossible while the fence blocks every gate run),
    // and Snapshot.commit's retire skips already-retired files. Called
    // from the happy path AND from the crash-recovery preamble, closing
    // the r8 "a crash mid-swap resets snapshot history" window.
    def finishSnapshotSwap(p: Path, aside: Path, dir: String): Unit = {
      Seq("_snapshots", "_stale").map(new Path(aside, _)).filter(fs.exists)
        .foreach { d =>
          val dest = new Path(p, d.getName)
          if (!fs.exists(dest))
            require(fs.rename(d, dest),
              s"reshardState: could not restore ${d.getName} into $p")
          else {
            fs.listStatus(d).foreach { c =>
              val cd = new Path(dest, c.getPath.getName)
              if (!fs.exists(cd))
                require(fs.rename(c.getPath, cd),
                  s"reshardState: could not merge ${c.getPath} into $dest")
            }
            require(fs.delete(d, true),
              s"reshardState: could not drop merged ${d.getName} at $d")
          }
        }
      if (Snapshot.enabled(spark, dir)) {
        // listing the aside tree against ITSELF yields rel paths that
        // are exactly the original layout-relative paths
        val dataRels = Snapshot.listDataFiles(fs, aside, aside)
        if (dataRels.nonEmpty)
          Snapshot.commit(spark, dir, Seq(""),
            retiredAs = dataRels.map(rel => new Path(aside, rel) -> rel))
      }
    }
    def swap(dir: String, hash: Column): Unit = {
      val p = new Path(dir)
      val tmp = new Path(p.getParent, "." + p.getName + ".reshard_tmp")
      val aside = new Path(p.getParent, "." + p.getName + ".reshard_old")
      // recover a half-swapped prior attempt: if the layout dir is
      // gone, its aside copy is the authoritative data — restore it
      // BEFORE the cleanup deletes below (deleting aside while p is
      // missing would destroy the only copy). A p that EXISTS but holds
      // no data files while aside holds the data is the same crash
      // window with a recreated shell on top (e.g. Snapshot.init ran
      // before recovery): the shell is disposable — drop it so the
      // restore path fires instead of silently abandoning the aside
      // copy as an empty layout.
      if (fs.exists(p) && !hasParquetRecursively(fs, p) &&
          fs.exists(aside) && hasParquetRecursively(fs, aside))
        require(fs.delete(p, true),
          s"reshardState: could not clear dataless shell $p for restore")
      if (!fs.exists(p) && fs.exists(aside))
        require(fs.rename(aside, p), s"reshardState: could not restore $p from $aside")
      // crash-recovery: p already swapped in while the aside tree still
      // exists — a rerun after a crash in the snapshot restore/retire
      // window below. FINISH that window before the cleanup deletes
      // (the aside tree holds the manifests and/or every pre-reshard
      // data file pinned versions resolve through).
      if (fs.exists(p) && fs.exists(aside) &&
          (fs.exists(new Path(aside, "_snapshots")) ||
            Snapshot.enabled(spark, dir))) {
        finishSnapshotSwap(p, aside, dir)
        require(fs.delete(aside, true),
          s"reshardState: could not drop recovered aside tree $aside")
      }
      if (!fs.exists(p)) return
      // r6 ADVICE: a layout dir that exists but holds no parquet part
      // files (an empty append left only _SUCCESS — all docs dropped,
      // or an all-short-doc stream wrote an empty sigs frame) must
      // reshard to NOTHING — spark.read would fail schema inference
      // and wedge the stream behind the fence forever
      if (!hasParquetRecursively(fs, p)) return
      fs.delete(tmp, true); fs.delete(aside, true)
      // recursive lookup reads every leaf of a split trie flat (the
      // partition cols live only in dir names, which are re-derived)
      clusterBy(
        Tables.parquet(spark, Seq(dir), Map("recursiveFileLookup" -> "true"))
          .withColumn("bucket", keyBucket(hash, newBuckets)),
        Seq("bucket"), newBuckets)
        .write.partitionBy("bucket").parquet(tmp.toString)
      if (!fs.rename(p, aside) || !fs.rename(tmp, p))
        throw new java.io.IOException(
          s"reshardState: swap failed for $dir; data intact in " +
            s"$aside and/or $tmp")
      // snapshot-enabled dir: the rename carried `_snapshots`/`_stale`
      // into the aside tree — move them back, then RETIRE the old data
      // files (rel paths from the aside tree) under one full-re-list
      // commit, so manifest readers at pre-reshard versions stay
      // readable. Crash-safe: a rerun's recovery preamble re-enters
      // [[finishSnapshotSwap]] (every step is skip-if-done), so no
      // crash point inside this window can strand or reset history.
      if (fs.exists(new Path(aside, "_snapshots")))
        finishSnapshotSwap(p, aside, dir)
      fs.delete(aside, true)
    }
    swap(s"$statePath/bands", col("band_hash"))
    swap(s"$statePath/sigs", xxhash64(col("doc_id")))
    swap(outPath, xxhash64(col("doc_id")))
    writeMarker(fs, marker,
      gp.copy(buckets = newBuckets, splits = GateParams.emptySplits).render)
  }

  /** True iff any non-hidden descendant of `p` is a parquet part file —
    * mirrors what a Spark recursive read would actually load (dot/
    * underscore names are hidden to Spark's file index, so crash-window
    * temp dirs don't count). */
  private def hasParquetRecursively(fs: FileSystem, p: Path): Boolean =
    fs.listStatus(p).exists { s =>
      val n = s.getPath.getName
      if (n.startsWith(".") || n.startsWith("_")) false
      else if (s.isFile) n.endsWith(".parquet")
      else hasParquetRecursively(fs, s.getPath)
    }

  /** The gate as a streaming sink: docs stream → near-dup-gated lake.
    *
    * `compactEvery` > 0 runs [[compactLayouts]] over the state and
    * output tries every that-many batches, inside foreachBatch — where
    * this stream's own appends are naturally paused for the touched
    * dirs (the compaction contract).
    *
    * `reshardBucketBytes` > 0 (requires `compactEvery`) makes the
    * bounded-probe-cost story AUTOMATIC: in the same maintenance
    * window, [[splitLargestLeaf]] splits at most ONE over-target leaf
    * into its 4 children (the marker is authoritative, so subsequent
    * batches pick the new trie up without operator action). Per-batch
    * probe cost then stays ≈ touched-leaves × target bytes —
    * proportional to the batch's collision set — and the maintenance
    * pause stays ≈ one leaf's bytes, no matter how large the seen-state
    * grows. Running inside foreachBatch gives both operations their
    * required gate-paused window for this stream; concurrent EXTERNAL
    * readers of the output still want a maintenance window or a table
    * format. */
  def startNearDupSink(docs: DataFrame, outPath: String, statePath: String,
                       checkpoint: String,
                       trigger: Trigger = Trigger.ProcessingTime("10 seconds"),
                       shingleN: Int = 5, k: Int = 64, bands: Int = 16,
                       threshold: Double = 0.5,
                       buckets: Int = DefaultBuckets,
                       compactEvery: Int = 0,
                       reshardBucketBytes: Long = 0L,
                       hotBandMembers: Long = 0L,
                       snapshots: Boolean = false,
                       snapshotKeepVersions: Int = 0): StreamingQuery = {
    require(reshardBucketBytes == 0 || compactEvery > 0,
      "reshardBucketBytes needs compactEvery > 0 — leaf splits run in " +
        "the compaction maintenance window")
    require(hotBandMembers == 0 || reshardBucketBytes > 0,
      "hotBandMembers needs reshardBucketBytes > 0 — hot-band mining " +
        "shares the over-target-leaf trigger and the maintenance window")
    // no `snapshots` requirement: the vacuum loop filters by
    // Snapshot.enabled, so a state-root-only manifest setup (user ran
    // init on $statePath/bands for inspection, output unmanifested)
    // still gets its retention bounded
    require(snapshotKeepVersions == 0 || compactEvery > 0,
      "snapshotKeepVersions needs compactEvery > 0 — vacuum runs in " +
        "the compaction maintenance window")
    docs.writeStream
      .outputMode("append")
      .trigger(trigger)
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // a crash mid-maintenance left a fence: complete it before
        // curating (rerunning the fenced operation IS the recovery), so
        // a restarted stream self-heals instead of failing the fence
        // check forever. MUST run BEFORE Snapshot.init: init's mkdirs
        // would recreate an output dir a crashed reshard renamed aside,
        // and the swap's restore check keys on that dir's absence (the
        // dataless-shell guard in swap is the second line of defense).
        recoverReshard(batch.sparkSession, outPath, statePath)
        // snapshots=true: manifest the OUTPUT dir so concurrent external
        // readers get version-consistent reads across compaction/splits
        // ([[Snapshot]]). init is idempotent and re-arms after a
        // history-resetting reshard crash.
        if (snapshots) Snapshot.init(batch.sparkSession, outPath)
        curateBatch(batch, outPath, statePath, shingleN, k, bands,
          threshold, buckets)
        if (compactEvery > 0 && batchId % compactEvery == compactEvery - 1) {
          val s = batch.sparkSession
          // tombstone eviction first: leaves the compactor then folds
          // are already free of retired rows. Crash-safe by the channel
          // contract (consumed only after every leaf rewrote).
          evictRetired(s, outPath, statePath)
          compactLayouts(s, outPath, statePath)
          // mine hot bands BEFORE the split pick: a mitigated leaf
          // shrinks below target, so the split takes a genuinely
          // splittable (multi-key) leaf instead of skipping the hot one
          if (hotBandMembers > 0)
            mitigateHotBands(s, outPath, statePath, reshardBucketBytes,
              hotBandMembers)
          if (reshardBucketBytes > 0)
            splitLargestLeaf(s, outPath, statePath, reshardBucketBytes)
          // retention rides the same maintenance window: without a
          // vacuum cadence the _stale trees grow without bound (every
          // compaction/split retires instead of deleting). Keep sized
          // to the longest external reader; state roots vacuum too if
          // a user enabled manifests on them.
          if (snapshotKeepVersions > 0)
            (outPath +: Seq(s"$statePath/bands", s"$statePath/sigs"))
              .filter(Snapshot.enabled(s, _))
              .foreach(Snapshot.vacuum(s, _, snapshotKeepVersions))
        }
        ()
      }
      .start()
  }
}
