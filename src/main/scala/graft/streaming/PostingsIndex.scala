package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.functions.{ShardWrite, Sketches, TextAnalysis}
import graft.Tables

/** Continuously-maintained inverted index over a document stream — the
  * streaming twin of [[graft.queries.PipelineQueries.postingsOf]]: each
  * micro-batch's postings index lands as its own `shard=b<batchId>`
  * partition, and reads merge the shards exactly (df sums; the capped
  * preview re-aggregates under the KMV union property, so the merged
  * preview equals indexing the union directly).
  *
  * Replay idempotence BY CONSTRUCTION: a replayed batch rewrites
  * identical content into its OWN shard directory and no other shard
  * is touched, so no seen-set or anti-join is needed (contrast the
  * row-append sinks, which must anti-join). The one case where the
  * rewrite is NOT safe is a batch whose shard a COMPACTION already
  * consumed (in-band: crash between the `compactEvery` compaction and
  * the checkpoint commit; or any out-of-band compaction) — re-creating
  * `shard=b<id>` would then double-count it against the merged shard.
  * Merged shards therefore carry a replay WATERMARK in their dir name
  * (`shard=m<stamp>u<maxBatch>`), and a replayed batch at or below a
  * committed watermark is a deliberate no-op ([[mergedUpTo]]). Without snapshots that
  * rewrite is a plain `mode(overwrite)`; with snapshots it is
  * append-then-retire through the manifest ([[indexBatch]]), so pinned
  * versions survive the replay. The df-additivity contract is the
  * [[graft.functions.Dedup.dedupNewRows]] discipline: feed the gate
  * FRESH documents only (each doc id in exactly one batch).
  *
  * Scale shape: per batch, one batch-sized aggregation (vocab of the
  * BATCH, not the corpus); reads merge K shard tables of vocab-sized
  * rows — `compactEvery` bounds K by merging all shards into one in a
  * maintenance window inside `foreachBatch` (the stream's own appends
  * are naturally paused there). With [[Snapshot]] manifests enabled,
  * external readers pin a version across that compaction: replaced
  * shards retire to `_stale` instead of being deleted.
  */
object PostingsIndex {

  val DefaultCap = 16

  /** Physical token-bucket count for the TF postings layout: the tf
    * table is PARTITIONED BY `tbucket = md5(token)[0] mod TokenBuckets`
    * inside every shard, so a query-term lookup prunes to its terms'
    * bucket dirs at FILE level — the partition-pruning claim made real
    * in storage, on both read paths (plain partitioned read via the
    * partition-column filter; manifest read via [[Snapshot.readVersion]]'s
    * `keepRel` file-list pruning). md5's first byte (not a Spark-side
    * hash) because the bucket of a LITERAL query term must be
    * computable on the driver with zero jobs ([[tokenBucketLocal]]) and
    * bit-identically to the stored column. */
  val TokenBuckets = 64

  def tokenBucket(token: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    (conv(substring(md5(token), 1, 2), 16, 10).cast("int") % TokenBuckets)

  def tokenBucketLocal(token: String): Int = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(token.getBytes("UTF-8"))
    (d(0) & 0xff) % TokenBuckets
  }

  /** One batch's shard: the batch-local postings index written
    * (overwrite) into `shard=b<batchId>`. Returns the relative dir.
    * This is the NON-manifest path — under snapshots, [[indexBatch]]
    * uses append-then-retire instead so pinned versions survive a
    * replay's rewrite. */
  def writeShard(batchDocs: DataFrame, indexPath: String, batchId: Long,
                 cap: Int = DefaultCap): String = {
    val rel = s"shard=b$batchId"
    graft.queries.PipelineQueries.postingsIndexOf(batchDocs, cap)
      .write.mode("overwrite").parquet(s"$indexPath/$rel")
    rel
  }

  /** Merge shard-index rows (token, df, post_ids) into one index. Two
    * aggregations over vocab-sized frames: df sums; previews explode
    * and re-aggregate through the bounded min-k — exact by the KMV
    * union property, never corpus-touching. */
  def mergeShards(shards: DataFrame, cap: Int = DefaultCap): DataFrame = {
    val dfAgg = shards.groupBy("token").agg(sum(col("df")).as("df"))
    val prev = shards.select(col("token"), explode(col("post_ids")).as("pid"))
      .groupBy("token").agg(Sketches.kMinValues(col("pid"), cap).as("post_ids"))
    dfAgg.join(prev, Seq("token"))
  }

  /** The serving read: all live shards merged. With [[Snapshot]]
    * manifests, `version` pins a committed shard set across concurrent
    * compaction (retired shards resolve from `_stale`). */
  def readIndex(spark: SparkSession, indexPath: String,
                cap: Int = DefaultCap,
                version: Option[Long] = None): DataFrame = {
    val shards =
      (if (Snapshot.enabled(spark, indexPath))
         Snapshot.readVersion(spark, indexPath, version, Seq("shard"))
       else None).getOrElse(Tables.parquet(spark, indexPath))
    mergeShards(shards.drop("shard"), cap)
  }

  private val MergedShardRe = "m[0-9a-f]+u([0-9]+)".r
  private val BatchShardRe = "b([0-9]+)".r

  /** Highest batch id whose shard content is already folded into a
    * COMMITTED merged shard — parsed from live m-shard names
    * (`shard=m<stamp>u<maxBatch>`). A replayed batch at or below this
    * water-mark must SKIP its shard write: its rows live inside the
    * merged shard now, and re-creating `shard=b<id>` would double-count
    * them. That window is real in-band — a crash between the
    * `compactEvery` compaction (inside foreachBatch) and the
    * checkpoint commit replays a batch whose shard the compaction just
    * consumed — and for any out-of-band compaction racing a replay.
    * Under snapshots only manifest-referenced m-shards count: an ORPHAN
    * m-shard from a crashed compaction preserved nothing, so trusting
    * its watermark would drop the replayed batch's data. */
  private def mergedUpTo(spark: SparkSession, root: String): Option[Long] = {
    val dirs = shardDirs(spark, root)
    // cheap pre-check: with no m-named dir at all (every uncompacted
    // stream, compactEvery=0 default) there is no watermark to trust —
    // skip the manifest resolution entirely, so the common path costs
    // one dir listing, not a per-batch recursive manifest walk that
    // grows with shard count
    if (!dirs.exists(d => MergedShardRe.findFirstIn(
        d.getName.stripPrefix("shard=")).isDefined)) return None
    liveShardDirs(spark, root, dirs)._1
      .map(_.getName.stripPrefix("shard=")).collect {
        case MergedShardRe(n) => n.toLong
      }.maxOption  // (the listing map is discarded here — one probe)
  }

  /** All parquet files under `d`, RECURSIVELY — shard dirs may nest
    * partition dirs (the tf layout's `tbucket=K`), so direct listings
    * are never enough. */
  private def parquetFilesUnder(fs: org.apache.hadoop.fs.FileSystem,
                                d: Path): Seq[Path] = {
    if (!fs.exists(d)) return Nil
    val out = Seq.newBuilder[Path]
    val it = fs.listFiles(d, true)
    while (it.hasNext) {
      val f = it.next()
      if (f.getPath.getName.endsWith(".parquet")) out += f.getPath
    }
    out.result()
  }

  /** (manifest-referenced live shard dirs, referenced-file paths) —
    * ONE definition of "live" shared by [[mergedUpTo]] (watermark
    * trust) and [[compactWith]] (orphan detection + merge input), so
    * the two can never disagree on what a crashed compaction left
    * behind. Without snapshots every dir is live and the referenced
    * set is empty (callers fall back to raw dirs). */
  private def liveShardDirs(spark: SparkSession, root: String,
      dirs: Seq[Path]): (Seq[Path], Set[String], Map[Path, Seq[Path]]) =
    (if (!Snapshot.enabled(spark, root)) None
     else Snapshot.latestVersion(spark, root).map { v =>
       val fs = new Path(root)
         .getFileSystem(spark.sparkContext.hadoopConfiguration)
       val referenced = Snapshot.filesAt(spark, root, v)
         .map(new Path(_).toUri.getPath).toSet
       // list each dir ONCE and hand the map back — compactWith needs
       // the same listings for merge input and retirement, and a
       // recursive listing per dir is an object-store round-trip
       val files = dirs.map(d => d -> parquetFilesUnder(fs, d)).toMap
       (dirs.filter(d => files(d)
         .exists(p => referenced.contains(p.toUri.getPath))),
         referenced, files)
     }).getOrElse((dirs, Set.empty, Map.empty))

  private def shardDirs(spark: SparkSession, indexPath: String): Seq[Path] = {
    val root = new Path(indexPath)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) Nil
    else fs.listStatus(root).filter(_.isDirectory).map(_.getPath)
      .filter(_.getName.startsWith("shard=")).toSeq
  }

  /** Maintenance: merge every live shard into ONE (`shard=m<stamp>`,
    * stamp unique so no replayed batch shard can collide). Runs inside
    * the sink's `foreachBatch` (appends paused). Commit order is
    * loss-proof: the merged shard is fully written FIRST. With
    * snapshots, the originals then retire through one manifest commit —
    * manifest readers never see merged and originals together, and
    * pinned versions keep resolving the retired shards from `_stale`.
    * Without snapshots the originals are deleted after the merged write
    * succeeded; a crash inside that window leaves BOTH live, which a
    * raw reader would double-count — the recovery rule is mechanical
    * (delete the newest `m` shard, whose content is still derivable
    * from the surviving originals, then re-run), but the manifest path
    * is the production answer. Returns (shards before, after). */
  def compactShards(spark: SparkSession, indexPath: String,
                    cap: Int = DefaultCap): (Int, Int) =
    compactWith(spark, indexPath, mergeShards(_, cap))

  /** Union-merge compaction for the DOC-DISJOINT shard tables (the tf
    * postings and doc-length sidecar of [[tfIndexBatch]]): shards never
    * share a doc id under the fresh-docs discipline, so the merged
    * shard is the plain union — a rewrite, not a re-aggregation. Same
    * loss-proof commit order and orphan recovery as [[compactShards]]. */
  def compactUnionShards(spark: SparkSession, indexPath: String,
                         tokenBuckets: Boolean = false): (Int, Int) = {
    // layout AUTO-DETECT, OR'd with the flag: a caller-remembered
    // boolean must never be able to flatten an existing token-bucketed
    // layout (a flat m-shard would break every pruned read after it) —
    // if any live shard nests tbucket= dirs, the rewrite keeps them
    val fs = new Path(indexPath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val bucketed = tokenBuckets ||
      shardDirs(spark, indexPath).exists(hasTokenBucketDirs(fs, _))
    compactWith(spark, indexPath, identity,
      if (!bucketed) (df, p) => df.write.mode("overwrite").parquet(p)
      else (df, p) =>
        // merge input read from explicit FILE paths loses the dir-name
        // partition column, so the bucket is re-derived from the token
        // (a pure function — identical values) and the rewrite keeps
        // the partitioned layout pruning depends on
        df.drop("tbucket").withColumn("tbucket", tokenBucket(col("token")))
          .write.partitionBy("tbucket").mode("overwrite").parquet(p))
  }

  private def compactWith(spark: SparkSession, indexPath: String,
                          merge: DataFrame => DataFrame,
                          writeMerged: (DataFrame, String) => Unit =
                            (df, p) => df.write.mode("overwrite").parquet(p),
                          force: Boolean = false): (Int, Int) = {
    val allDirs = shardDirs(spark, indexPath)
    val fs = new Path(indexPath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // recovery preamble (manifest path): a compaction that crashed
    // between its merged-shard write and its commit left an ORPHAN
    // m-shard no manifest references — merging it alongside the still-
    // live originals would double-count every df. Orphans are exactly
    // the shard dirs with no file in the latest manifest; their content
    // is still derivable from the referenced originals, so deleting
    // them up front is safe and makes re-running the compaction the
    // recovery procedure.
    // (live shard dirs, merge input): with manifests, the merge MUST
    // read only manifest-referenced files, never the live dirs raw — a
    // batch replay that crashed between its append and its commit
    // leaves the shard dir holding referenced old files AND
    // unreferenced duplicates, and a raw-dir merge would double-count
    // every df of that batch. Without manifests there is no reference
    // set, so the raw dirs are the only possible input (the documented
    // non-manifest caveat).
    val (dirs, mergeInput, listed) = {
      val (live, referenced, files) = liveShardDirs(spark, indexPath, allDirs)
      if (referenced.isEmpty)
        // explicit FILE paths, not dir paths: a partitioned shard
        // layout (tf/df's nested tbucket= dirs) under multiple shard
        // roots fails partition discovery as a multi-dir read — and
        // the manifest branch below reads files too, so both paths
        // hand writeMerged partition-column-free rows (the bucketed
        // rewriters re-derive tbucket from the token)
        (allDirs, allDirs.flatMap(d => parquetFilesUnder(fs, d))
          .map(_.toString), Map.empty[Path, Seq[Path]])
      else {
        allDirs.filterNot(live.toSet).foreach(fs.delete(_, true)) // orphans
        (live, live.flatMap(d => files(d)
          .filter(p => referenced.contains(p.toUri.getPath))
          .map(_.toString)), files)
      }
    }
    // `force` (the tombstone fold): a SINGLE live shard must still
    // rewrite — the fold's merge drops rows, it is not a pure union
    if (dirs.isEmpty || mergeInput.isEmpty || (!force && dirs.length <= 1))
      return (dirs.length, dirs.length)
    val merged = merge(Tables.parquet(spark, mergeInput: _*))
    val stamp = java.lang.Long.toHexString(System.nanoTime())
    // the merged shard's name carries the replay watermark: the highest
    // batch id whose content it (transitively) contains — see mergedUpTo
    val maxB = dirs.map(_.getName.stripPrefix("shard=")).collect {
      case BatchShardRe(n) => n.toLong
      case MergedShardRe(n) => n.toLong
    }.maxOption
    val rel = s"shard=m$stamp" + maxB.map(m => s"u$m").getOrElse("")
    writeMerged(merged, s"$indexPath/$rel")
    if (Snapshot.enabled(spark, indexPath)) {
      val retired = dirs.flatMap(d =>
        listed.getOrElse(d, parquetFilesUnder(fs, d)))
      Snapshot.commit(spark, indexPath, Seq(""), retired = retired)
      dirs.foreach(d =>
        if (parquetFilesUnder(fs, d).isEmpty) fs.delete(d, true))
    } else dirs.foreach(fs.delete(_, true))
    (dirs.length, shardDirs(spark, indexPath).length)
  }

  // ---- checkpoint lineage: one checkpoint per index dir, enforced ----

  /** Enforce the one-checkpoint-per-index-dir contract the watermark
    * skip depends on. The skip is only correct for a TRUE replay (same
    * checkpoint lineage, same batch content); a NEW stream — deleted or
    * repointed checkpoint — restarts batch ids at 0 and would silently
    * lose its first batches to the skip. Sinks therefore record their
    * checkpoint path in a `_lineage` marker at the index root on first
    * write, and every later batch verifies it:
    *   - marker matches the stream's checkpoint → true replay, the
    *     skip (and any normal write) proceeds;
    *   - marker differs → ALWAYS throw (even above the watermark: two
    *     checkpoints interleaving batch ids into one index double-
    *     counts docs);
    *   - marker absent and the batch is about to watermark-SKIP →
    *     throw: an un-lineaged compacted index under a fresh stream is
    *     exactly the silent-loss case — a startup error is recoverable,
    *     silent index loss is not.
    * Direct API calls (lineage = None: tests, out-of-band maintenance)
    * keep the logged-skip behavior — they have no checkpoint to verify. */
  private def verifyLineage(spark: SparkSession, root: String,
                            lineage: Option[String],
                            aboutToSkip: Boolean): Unit =
    lineage.foreach { ck =>
      val p = new Path(s"$root/_lineage")
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val marker =
        if (!fs.exists(p)) None
        else {
          val in = fs.open(p)
          try Some(new String(in.readAllBytes(), "UTF-8").trim)
          finally in.close()
        }
      marker match {
        case Some(m) if m == ck => ()
        case Some(m) => throw new IllegalStateException(
          s"index at $root belongs to checkpoint lineage '$m' but this " +
          s"stream runs from '$ck' — one checkpoint per index dir is the " +
          "contract; a second stream's batch ids would double-count or " +
          "silently drop documents. Use a fresh index dir.")
        case None if aboutToSkip => throw new IllegalStateException(
          s"batch at or below the merged-shard watermark of $root, and " +
          s"the index carries no _lineage marker for checkpoint '$ck' — " +
          "this looks like a NEW stream (fresh or repointed checkpoint) " +
          "over an existing compacted index, whose first batches the " +
          "replay skip would silently lose. Use a fresh index dir, or " +
          "restore the original checkpoint.")
        case None =>
          val out = fs.create(p, true)
          try out.write(ck.getBytes("UTF-8")) finally out.close()
      }
    }

  // ---- tf/dl consistency pairs: atomic-by-ordering version pairing ----

  /** Record which (tfVersion, dlVersion[, dfVersion]) MANIFEST versions
    * describe the SAME corpus state — written AFTER every commit of a
    * batch succeeded, as an empty marker `_pairs/v<tf>-<dl>[-<df>]`
    * under the tf root. The roots' version counters can drift
    * permanently (a crash between the tf and dl writes replays into an
    * extra tf commit), so "latest of each" can pair two different
    * corpus states; "latest recorded pair" cannot: the marker only
    * exists if every commit it names had landed, and a crash before the
    * marker simply leaves the previous pair current until the replay
    * completes the batch and records a fresh one. The df version rides
    * in the marker so a pinned df-bounded read's CUT decision is as
    * reproducible as its scores (a pre-df-sidecar marker has no third
    * field — readers fall back to the live df summary for those). */
  /** Pair-marker history kept on disk: enough for any realistic
    * pinned-pair rollback window, bounded so a long-lived stream does
    * not accrete one marker file per batch forever. */
  private val PairsKept = 32

  private def recordPair(spark: SparkSession, tfPath: String,
                         tfV: Long, dlV: Long,
                         dfV: Option[Long] = None): Unit = {
    val name = s"v$tfV-$dlV" + dfV.map(v => s"-$v").getOrElse("")
    val p = new Path(s"$tfPath/_pairs/$name")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(p.getParent)
    val out = fs.create(p, true)
    out.close()
    // prune markers beyond the newest PairsKept — readers only resolve
    // the MAX, so deleting strictly-older markers can never change a
    // concurrent read; explicit-version pins don't consult _pairs
    val all = fs.listStatus(p.getParent).toSeq.map(_.getPath).collect {
      case q if PairRe.findFirstIn(q.getName).isDefined => q
    }.sortBy(q => PairRe.findFirstMatchIn(q.getName)
      .map(m => (m.group(1).toLong, m.group(2).toLong)).get)
    all.dropRight(PairsKept).foreach(fs.delete(_, false))
  }

  private val PairRe = "v([0-9]+)-([0-9]+)(?:-([0-9]+))?".r

  /** Every recorded consistency marker at the root, as
    * (tfVersion, dlVersion, dfVersion?) — the resolution set for
    * [[latestConsistentVersions]] and for one-sided pins. */
  private def recordedPairs(spark: SparkSession,
                            tfPath: String): Seq[(Long, Long, Option[Long])] = {
    val d = new Path(s"$tfPath/_pairs")
    val fs = d.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(d)) Seq.empty
    else fs.listStatus(d).toSeq.map(_.getPath.getName).collect {
      case PairRe(t, l, f) => (t.toLong, l.toLong, Option(f).map(_.toLong))
    }
  }

  /** Latest mutually-consistent (tfVersion, dlVersion) pair — what a
    * serving caller should pin instead of trusting two independent
    * "latest version" reads ([[bm25FromStored]] resolves through this
    * when no explicit versions are given). None when the index was
    * built without snapshots (no versions to pair). */
  def latestConsistentPair(spark: SparkSession,
                           tfPath: String): Option[(Long, Long)] =
    latestConsistentVersions(spark, tfPath).map { case (t, l, _) => (t, l) }

  /** [[latestConsistentPair]] plus the df-summary version recorded with
    * it (None for pre-df markers or an index without the sidecar). */
  def latestConsistentVersions(spark: SparkSession,
      tfPath: String): Option[(Long, Long, Option[Long])] =
    recordedPairs(spark, tfPath)
      .maxByOption { case (t, l, _) => (t, l) }

  /** The per-batch body (exposed for replay tests): write the batch
    * shard, commit the manifest, compact on cadence.
    *
    * Under snapshots the shard REWRITE is manifest-safe, not a blind
    * overwrite: a replayed batch's prior files may be referenced by
    * committed manifests, and `mode(overwrite)` would DELETE them,
    * dangling every pinned version that lists them. Instead the replay
    * APPENDS fresh files (unique names) and retires the prior ones
    * through the same commit — pinned versions keep resolving the old
    * copies from `_stale`, the new manifest lists only the fresh
    * content, and the replay stays an index no-op (identical rows). A
    * crash between the append and the commit leaves both file sets in
    * the dir, but no MANIFEST ever references both — the next replay
    * retires everything it found. (Raw non-manifest readers can see
    * the duplicate window; manifests are the production read path.) */
  def indexBatch(batch: DataFrame, batchId: Long, indexPath: String,
                 cap: Int = DefaultCap, compactEvery: Int = 0,
                 snapshots: Boolean = false,
                 lineage: Option[String] = None): Unit = {
    val skip = mergedUpTo(batch.sparkSession, indexPath).exists(batchId <= _)
    verifyLineage(batch.sparkSession, indexPath, lineage, aboutToSkip = skip)
    if (skip) {
      logWatermarkSkip(indexPath, batchId)
      return // replayed batch already folded into a committed m-shard
    }
    if (snapshots)
      writeShardManifestSafe(
        graft.queries.PipelineQueries.postingsIndexOf(batch, cap),
        indexPath, batchId)
    else writeShard(batch, indexPath, batchId, cap)
    if (compactEvery > 0 && batchId % compactEvery == compactEvery - 1)
      compactShards(batch.sparkSession, indexPath, cap)
  }

  /** The watermark skip is only correct for a TRUE replay — same
    * checkpoint lineage, same batch content. On the SINK path that is
    * ENFORCED: [[verifyLineage]] throws when the `_lineage` marker
    * disagrees with (or cannot confirm) the stream's checkpoint, so a
    * new stream over an existing compacted index fails at startup
    * instead of silently losing its first batches. This log remains
    * for the direct-API path (lineage = None: tests, out-of-band
    * maintenance), which has no checkpoint to verify — there the skip
    * logs loudly with the remediation: one checkpoint per index dir is
    * the contract (the fresh-docs discipline's sibling); a new stream
    * needs a fresh index dir. */
  private def logWatermarkSkip(root: String, batchId: Long): Unit =
    System.err.println(s"[PostingsIndex] batch $batchId at or below the " +
      s"merged-shard watermark of $root — treating as a checkpoint " +
      "replay and SKIPPING the write (its content is inside the merged " +
      "shard). If this is a NEW stream over an existing index, its " +
      "documents are NOT being indexed: use a fresh index dir (one " +
      "checkpoint per index dir is the contract).")

  /** The manifest-safe shard rewrite shared by [[indexBatch]] and
    * [[tfIndexBatch]]: append fresh files (unique names), retire the
    * batch's prior ones through the same commit. */
  private def writeShardManifestSafe(df: DataFrame, root: String,
                                     batchId: Long,
                                     partitionBy: Seq[String] = Nil): Unit = {
    val spark = df.sparkSession
    Snapshot.init(spark, root)
    val rel = s"shard=b$batchId"
    val dirP = new Path(s"$root/$rel")
    val fs = dirP.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // RECURSIVE: a partitioned shard (tf's tbucket dirs) nests its
    // parquet files one level down
    val existing = parquetFilesUnder(fs, dirP)
    val w = df.write.mode("append")
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w)
      .parquet(dirP.toString)
    Snapshot.commit(spark, root, Seq(rel), retired = existing)
  }

  // ---- the TF half of the index: BM25 served from stored shards ------

  /** Per-batch maintenance of the TF postings table (token, doc_id, tf)
    * and its doc-length sidecar (doc_id, dl) — the artifacts
    * [[graft.functions.TextAnalysis.bm25FromIndex]] scores from, so the
    * continuously-maintained index can answer the engine's flagship
    * scoring query without touching the corpus. Shard-per-batch gives
    * the same replay-idempotence-BY-CONSTRUCTION as [[indexBatch]];
    * under the fresh-docs discipline shards are doc-disjoint, so the
    * merged table is the plain UNION of shards (no aggregation at read)
    * and compaction is a rewrite ([[compactUnionShards]]). */
  def tfIndexBatch(batch: DataFrame, batchId: Long, tfPath: String,
                   dlPath: String, compactEvery: Int = 0,
                   snapshots: Boolean = false,
                   dfPath: Option[String] = None,
                   lineage: Option[String] = None): Unit = {
    val spark = batch.sparkSession
    // replay watermark per artifact: each skips independently (a crash
    // between the two writes replays with only one of them folded)
    val tfMerged = mergedUpTo(spark, tfPath).exists(batchId <= _)
    val dlMerged = mergedUpTo(spark, dlPath).exists(batchId <= _)
    val dfMerged = dfPath.exists(p => mergedUpTo(spark, p).exists(batchId <= _))
    verifyLineage(spark, tfPath, lineage, aboutToSkip = tfMerged)
    verifyLineage(spark, dlPath, lineage, aboutToSkip = dlMerged)
    dfPath.foreach(p => verifyLineage(spark, p, lineage, aboutToSkip = dfMerged))
    if (tfMerged) logWatermarkSkip(tfPath, batchId)
    if (dlMerged) logWatermarkSkip(dlPath, batchId)
    val tf = TextAnalysis.tfPostings(batch, "doc_id", "text")
      .withColumn("tbucket", tokenBucket(col("token")))
    if (!tfMerged) {
      if (snapshots)
        writeShardManifestSafe(tf, tfPath, batchId, Seq("tbucket"))
      else tf.write.partitionBy("tbucket").mode("overwrite")
        .parquet(s"$tfPath/shard=b$batchId")
    }
    if (!dlMerged) {
      val dl = TextAnalysis.docLengths(batch, "doc_id", "text")
      if (snapshots) writeShardManifestSafe(dl, dlPath, batchId)
      else dl.write.mode("overwrite").parquet(s"$dlPath/shard=b$batchId")
    }
    // the df SUMMARY sidecar (token, df) — vocab-scale, bucket-
    // partitioned like tf: what lets a serving query bound a stopword
    // term's cost BEFORE the corpus-scale tf scan ([[bm25FromStored]]'s
    // maxDfFrac). Batch-local df rows are additive across the doc-
    // disjoint shards (fresh-docs discipline), so reads sum per token.
    dfPath.foreach { dp =>
      if (!dfMerged) {
        val df = tf.groupBy("token", "tbucket")
          .agg(count(lit(1)).as("df"))
        if (snapshots) writeShardManifestSafe(df, dp, batchId, Seq("tbucket"))
        else df.write.partitionBy("tbucket").mode("overwrite")
          .parquet(s"$dp/shard=b$batchId")
      } else logWatermarkSkip(dp, batchId)
    }
    if (compactEvery > 0 && batchId % compactEvery == compactEvery - 1) {
      compactUnionShards(spark, tfPath, tokenBuckets = true)
      compactUnionShards(spark, dlPath)
      dfPath.foreach(compactDfShards(spark, _))
    }
    // the consistency pair lands strictly LAST — after every commit
    // (and the cadence compaction, so the pair names versions a reader
    // resolves without _stale indirection): a crash anywhere above
    // leaves the previous pair current, and the replay that completes
    // the batch records the fresh one — so the latest recorded pair
    // always names versions of ONE corpus state. The df-summary
    // version rides along so a pinned read's stopword-cut decision
    // replays against the SAME df the pair's scores came from.
    if (snapshots) for {
      tfV <- Snapshot.latestVersion(spark, tfPath)
      dlV <- Snapshot.latestVersion(spark, dlPath)
    } recordPair(spark, tfPath, tfV, dlV,
      dfPath.flatMap(Snapshot.latestVersion(spark, _)))
  }

  /** Re-aggregating compaction for the df summary sidecar: shards hold
    * batch-local (token, tbucket, df) rows, so the merged shard sums df
    * per token — vocab-scale both sides — and the rewrite keeps the
    * token-bucket partitioning pruned reads depend on. Same loss-proof
    * commit order and orphan recovery as [[compactShards]]. */
  def compactDfShards(spark: SparkSession, dfPath: String): (Int, Int) =
    compactWith(spark, dfPath,
      df => df.drop("tbucket").groupBy("token")
        .agg(sum(col("df")).as("df"))
        .withColumn("tbucket", tokenBucket(col("token"))),
      (df, p) => df.write.partitionBy("tbucket").mode("overwrite").parquet(p))

  /** The token-bucket-PRUNED tf read: scans ONLY the given buckets'
    * partition dirs — file-level pruning on both read paths (plain
    * partitioned read: partition-column filter; manifest read:
    * [[Snapshot.readVersion]]'s `keepRel` pre-filters the resolved file
    * list). No bucket filter reads everything. */
  def readTfIndex(spark: SparkSession, tfPath: String,
                  version: Option[Long] = None,
                  buckets: Option[Set[Int]] = None): DataFrame = {
    val bucketRe = "(?:^|/)tbucket=([0-9]+)(?:/|$)".r
    val df =
      (if (Snapshot.enabled(spark, tfPath))
         Snapshot.readVersion(spark, tfPath, version,
           Seq("shard", "tbucket"),
           keepRel = rel => buckets.forall(bs =>
             bucketRe.findFirstMatchIn(rel)
               .forall(m => bs(m.group(1).toInt))))
       else None).getOrElse(readRawMaybeMixed(spark, tfPath))
    // the manifest path parses partition values as strings, and an
    // un-bucketed layout (a flat m-shard, or a pre-layout index) has no
    // tbucket at all — normalize to int, null for flat files
    val withB =
      if (df.columns.contains("tbucket"))
        df.withColumn("tbucket", col("tbucket").cast("int"))
      else df.withColumn("tbucket", lit(null).cast("int"))
    // ONE bucket predicate for both paths: file-level pruning comes
    // from keepRel on the manifest path and from this partition-column
    // filter at planning time on the raw path (the redundant int cast
    // folds away, so the predicate reaches PartitionFilters). NULL
    // tbucket rows — an un-bucketed layout — are deliberately KEPT:
    // they may hold the query terms, and silently dropping them would
    // turn a layout mix into wrong doc frequencies; the scorer's token
    // filter is the decider for them.
    buckets.fold(withB)(bs => withB.where(col("tbucket").isNull ||
        col("tbucket").isin(bs.toSeq.map(Integer.valueOf): _*)))
      .drop("shard")
  }

  /** THE token-bucket layout probe — the one definition of "this shard
    * is physically partitioned by `tbucket=`" shared by the compaction
    * rewrite (which must preserve the layout) and the mixed-layout raw
    * read (which must split per layout): the two deciders can never
    * disagree about what counts as a bucketed shard. */
  private def hasTokenBucketDirs(fs: org.apache.hadoop.fs.FileSystem,
                                 dir: Path): Boolean =
    fs.listStatus(dir).exists(st => st.isDirectory &&
      st.getPath.getName.startsWith("tbucket="))

  /** Raw (non-manifest) read that survives a LAYOUT MIX: a root holding
    * both token-bucketed shards (nested `tbucket=` dirs) and flat ones
    * (a pre-layout index a bucketed stream later appended to) fails
    * `spark.read.parquet(root)` outright — partition discovery rejects
    * conflicting directory structures. The mix is split per layout and
    * unioned: bucketed shards read with `basePath` (partition columns
    * and their planning-time pruning intact), flat shards read with a
    * null `tbucket`. The single-layout common case stays the plain
    * root read (unchanged plan shape). */
  private def readRawMaybeMixed(spark: SparkSession,
                                root: String): DataFrame = {
    val dirs = shardDirs(spark, root)
    if (dirs.isEmpty) return Tables.parquet(spark, root)
    val fs = new Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val (bucketed, flat) = dirs.partition(hasTokenBucketDirs(fs, _))
    if (bucketed.isEmpty || flat.isEmpty) Tables.parquet(spark, root)
    else {
      val bDf = Tables.parquet(spark, bucketed.map(_.toString), Map("basePath" -> root))
      val fDf = Tables.parquet(spark, flat.map(_.toString), Map("basePath" -> root))
        .withColumn("tbucket", lit(null).cast("int"))
      bDf.withColumn("tbucket", col("tbucket").cast("int"))
        .unionByName(fDf.select(bDf.columns.map(col): _*))
    }
  }

  /** The df-summary read twin of [[readTfIndex]]: the (token, df)
    * summary for the given buckets, shard-summed (batch-local df rows
    * are additive over doc-disjoint shards). Vocab-bucket-scale. */
  def readDfIndex(spark: SparkSession, dfPath: String,
                  version: Option[Long] = None,
                  buckets: Option[Set[Int]] = None): DataFrame =
    readTfIndex(spark, dfPath, version, buckets)
      .drop("tbucket").groupBy("token").agg(sum(col("df")).as("df"))

  // ---- document tombstones (the retire channel) ---------------------

  /** TOMBSTONES for the postings family: docs leaving the corpus
    * (takedowns, retro-dedup, license pulls) append their ids to
    * `$retirePath/batch=<id>` under the same `_SUCCESS` claim
    * discipline as every other maintained shard (replay skips, torn
    * shards heal) — no index rewrite. Readers that accept `retirePath`
    * ([[bm25FromStored]]/[[searchBm25]]) subtract at read: tf and dl
    * rows are doc-level, so an anti-join excludes them exactly, and
    * the df summary's overcount is corrected from the tombstoned slice
    * of the (bucket-pruned) posting lists — the served scores equal a
    * fresh index over the retained corpus (`q_bm25_retire` pins it).
    * Version pins still pin the INDEX state; tombstones are corpus
    * membership, applied on top of whichever version is read.
    * Compaction may fold tombstones in permanently later — this
    * channel is what makes retires immediate without it. Returns
    * false iff the shard already existed (replay). */
  def retireAppend(docIds: DataFrame, retirePath: String,
                   batchId: Long): Boolean =
    tombstones(retirePath).append(batchId, docIds, col("doc_id"))

  private def tombstones(retirePath: String) =
    ShardWrite.Tombstones(retirePath, "doc_id")

  /** The FOLD FENCE marker of `root`: the stale-sidecar crash window
    * made loud. Between a committed tf fold and the df/bm sidecar
    * rewrite, the sidecar still counts the retired docs while the
    * read-side correction (tf ∩ tombstones) is already zero — a serve
    * in that window would silently mis-rank (wrong stopword cut, wrong
    * idf). The fold therefore raises this fence at entry and clears it
    * only after EVERY piece is consistent again; serves fail fast on
    * the fence (the `_sem_fence` discipline) and the fold's rerun —
    * which is idempotent — is the recovery. The fence lives on the root
    * BOTH serve shapes read (dl for the flat index, the layout root for
    * WAND). */
  private def foldFence(root: String) = new Path(s"$root/_fold_fence")

  private def raiseFoldFence(spark: SparkSession, root: String): Unit = {
    val p = foldFence(root)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(p.getParent)
    fs.create(p, true).close()
  }

  private def clearFoldFence(spark: SparkSession, root: String): Unit = {
    val p = foldFence(root)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(p, false)
  }

  private def foldFenceExists(spark: SparkSession, root: String): Boolean = {
    val p = foldFence(root)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** Self-heal for a STALE fence on an early-return path — the r15
    * ADVICE hole: if a crashed fold's channel was then removed
    * out-of-band (or swapped empty), "rerun the fold" returned false
    * without touching the fence and serving stayed bricked until the
    * fence file was deleted by hand. The heal restores the EXACT
    * invariant the fence guards — sidecar ≡ the current tf bytes — by
    * recomputing the sidecar from whatever tf holds now (no tombstones
    * needed), then clears the fence; tombstones lost out-of-band are
    * the operator's removal, not a serving inconsistency. No-op when
    * no fence is up. */
  private def healPostingsFence(spark: SparkSession, tfPath: String,
                                dlPath: String,
                                dfPath: Option[String]): Unit = {
    if (!foldFenceExists(spark, dlPath)) return
    dfPath.foreach { dp =>
      val retainedDf = readTfIndex(spark, tfPath)
        .groupBy("token", "tbucket").agg(count(lit(1)).as("df"))
      compactWith(spark, dp, _ => retainedDf,
        (df, p) => df.drop("tbucket")
          .withColumn("tbucket", tokenBucket(col("token")))
          .write.partitionBy("tbucket").mode("overwrite").parquet(p),
        force = true)
    }
    clearFoldFence(spark, dlPath)
  }

  /** Serves call this on every fenced root they read: a present fence
    * means a tombstone fold died between the tf fold and the sidecar
    * rewrite — scores computed now would be silently wrong, so fail
    * loudly and name the recovery. */
  private def requireNoFoldFence(spark: SparkSession, root: String): Unit = {
    val p = foldFence(root)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(!fs.exists(p),
      s"$root has an interrupted tombstone fold (_fold_fence present) — " +
        "the df/block-max sidecar may not match the folded tf bytes; " +
        "rerun foldRetiredPostings/foldRetiredWand to heal before serving")
  }

  /** PHYSICAL tombstone fold for the postings family — the maintenance
    * completion of [[retireAppend]]: until now takedowns subtracted at
    * READ forever, so the channel (and every serve's anti-join input)
    * grew with takedown history. The fold makes deletions byte-real in
    * ONE maintenance window, as a compaction variant:
    *
    *  - tf and dl live shards fold into one m-shard each WITHOUT the
    *    retired docs' rows — [[compactWith]] with an anti-join merge,
    *    replay watermark and token-bucket layout preserved (so later
    *    appends still skip correctly and pruned reads still prune);
    *  - the df summary sidecar REWRITES from the retained tf (df is a
    *    per-token count over doc-level rows — recomputing it from the
    *    already-folded tf is exact, and cheaper to reason about than
    *    per-shard subtraction across unaligned compaction histories);
    *  - the channel is consumed LAST, so a crash ANYWHERE inside the
    *    window reruns the fold (each piece is an idempotent rewrite);
    *  - a `_fold_fence` on the dl root brackets the whole window: the
    *    read-side df correction (tf ∩ tombstones) is ZERO once tf is
    *    folded, so a serve between the tf fold and the sidecar rewrite
    *    would pair retained tf bytes with a STALE df — fenced serves
    *    fail loudly instead of silently mis-ranking, and the fold's
    *    rerun is the recovery (it raises, heals, and clears the fence).
    *
    * After the fold, serving WITHOUT `retirePath` equals the
    * tombstoned serve before it (the oracle row pins this end to end).
    * Version note: under [[Snapshot]] manifests the replaced shards
    * retire into `_stale`, so PINNED pre-fold versions still resolve
    * the pre-takedown corpus — vacuum retention is therefore the legal
    * deletion horizon; without manifests there are no pinned reads and
    * the fold is immediately global. Returns true iff a fold ran. */
  def foldRetiredPostings(spark: SparkSession, tfPath: String,
                          dlPath: String, retirePath: String,
                          dfPath: Option[String] = None): Boolean = {
    val tombs = tombstones(retirePath)
    val gone = tombs.live(spark).getOrElse {
      // channel gone but a crashed fold's fence may still brick serves
      // — the advertised recovery IS this rerun, so it must self-heal
      healPostingsFence(spark, tfPath, dlPath, dfPath)
      return false
    }.persist()
    try {
      if (gone.head(1).isEmpty) {
        healPostingsFence(spark, tfPath, dlPath, dfPath)
        tombs.consume(spark)
        return false
      }
      // fence FIRST: from here until every piece below is consistent,
      // a serve could read a folded tf against a stale df sidecar —
      // fail those loudly instead of mis-ranking (scaladoc above)
      raiseFoldFence(spark, dlPath)
      // distinct() makes the rerun CONVERGE across the non-manifest
      // crash window (m-shard landed, originals not yet deleted →
      // duplicated retained rows in the rerun's input): tf rows are
      // unique per (token, doc) and dl rows per doc, so distinct
      // collapses exactly the window's duplicates
      compactWith(spark, tfPath,
        _.join(gone, Seq("doc_id"), "left_anti").distinct(),
        (df, p) => df.drop("tbucket")
          .withColumn("tbucket", tokenBucket(col("token")))
          .write.partitionBy("tbucket").mode("overwrite").parquet(p),
        force = true)
      compactWith(spark, dlPath,
        _.join(gone, Seq("doc_id"), "left_anti").distinct(),
        force = true)
      dfPath.foreach { dp =>
        val retainedDf = readTfIndex(spark, tfPath)
          .groupBy("token", "tbucket").agg(count(lit(1)).as("df"))
        compactWith(spark, dp, _ => retainedDf,
          (df, p) => df.drop("tbucket")
            .withColumn("tbucket", tokenBucket(col("token")))
            .write.partitionBy("tbucket").mode("overwrite").parquet(p),
          force = true)
      }
      // every piece consistent again → fence off, THEN the channel
      // (a death between the two leaves a correct-serving state: the
      // sidecars are retained and tf ∩ tombstones is already empty).
      clearFoldFence(spark, dlPath)
      tombs.consume(spark)
      true
    } finally gone.unpersist()
  }

  /** BM25 served from the STORED layout with REAL pruning: the query
    * terms' buckets are computed on the driver ([[tokenBucketLocal]],
    * zero jobs), the tf scan touches only those bucket dirs, and the
    * shared scorer ([[TextAnalysis.bm25FromIndex]]) does the rest.
    *
    * Version pinning: explicit `tfVersion`/`dlVersion` win; with BOTH
    * unset, the read resolves the latest CONSISTENT marker recorded by
    * [[tfIndexBatch]] ([[latestConsistentVersions]]) — never two
    * independent "latest" reads whose counters may have drifted across
    * a split-write crash replay. Pinning exactly ONE side resolves the
    * partner (and the df version) from the recorded marker history —
    * never the floating latest of the other root, which would be
    * exactly the cross-state mix the markers exist to rule out — and
    * throws if no recorded marker names the pinned version.
    *
    * Stopword bound: partition pruning prunes to a term's BUCKET, not
    * its posting list — a stopword's Σ df rows are corpus-scale
    * regardless. With `dfPath` + `maxDfFrac` set, terms whose corpus df
    * exceeds `maxDfFrac · N` are dropped BEFORE the tf scan, decided
    * from the vocab-scale df summary (a ≤|terms|-row driver collect),
    * so the scan stays bounded by the surviving terms' posting lists.
    * The score deviation is bounded by the dropped terms' idf — ≈0 for
    * a true stopword by the BM25 idf formula (df→N ⇒ idf→ln(1+~0)) —
    * and docs whose ONLY hits were dropped terms leave the result set
    * (classic stopword-removal semantics); `PostingsIndexSpec` pins the
    * bound. The df summary is read AT THE RESOLVED VERSION (explicit
    * `dfVersion`, else the one the consistency marker recorded), so a
    * pinned query's cut decision — which terms are scored at all — is
    * as reproducible as its scores; only markers predating the df
    * sidecar fall back to the live summary. */
  def bm25FromStored(spark: SparkSession, tfPath: String, dlPath: String,
                     terms: Seq[String], k1: Double = 1.2,
                     b: Double = 0.75,
                     tfVersion: Option[Long] = None,
                     dlVersion: Option[Long] = None,
                     dfPath: Option[String] = None,
                     maxDfFrac: Option[Double] = None,
                     dfVersion: Option[Long] = None,
                     retirePath: Option[String] = None): DataFrame = {
    requireNoFoldFence(spark, dlPath)
    def partnerOf(side: String, v: Long,
                  pick: ((Long, Long, Option[Long])) => Boolean) = {
      val hits = recordedPairs(spark, tfPath).filter(pick)
      require(hits.nonEmpty,
        s"$side=$v is pinned but no recorded consistency marker at " +
          s"$tfPath/_pairs names it — a one-sided pin against the " +
          "floating latest of the other root could mix two corpus " +
          "states; pin both versions from a recorded marker")
      hits.max
    }
    val (tfV, dlV, dfV) = (tfVersion, dlVersion) match {
      case (None, None) => latestConsistentVersions(spark, tfPath)
        .map { case (t, l, d) => (Some(t), Some(l), dfVersion.orElse(d)) }
        .getOrElse((None, None, dfVersion))
      case (Some(t), Some(l)) =>
        // fully pinned: the cut replays against the marker-recorded df
        // when the caller didn't pin one and the marker exists. A
        // MISSING marker (pruned past PairsKept, or a foreign pin) with
        // the df cut active must FAIL, not fall back to the live df
        // summary — the pinned read's stopword-cut decision would
        // otherwise drift with corpus growth, the exact drift the
        // marker exists to prevent (r12 ADVICE; mirrors partnerOf).
        // A marker recorded BEFORE the df sidecar existed (df=None) is
        // the one documented live-summary fallback.
        val hits = recordedPairs(spark, tfPath)
          .collect { case (`t`, `l`, df) => df }
        val d = dfVersion.orElse {
          if (hits.nonEmpty) hits.flatten.maxOption
          else if (dfPath.isDefined && maxDfFrac.isDefined)
            throw new IllegalArgumentException(
              s"tfVersion=$t/dlVersion=$l are pinned with the df cut " +
                s"active, but no recorded consistency marker at " +
                s"$tfPath/_pairs names them (pruned past retention?) — " +
                "pass dfVersion explicitly; the live df summary would " +
                "silently drift the pinned read's stopword-cut decision")
          else None
        }
        (Some(t), Some(l), d)
      case (Some(t), None) =>
        val (_, l, d) = partnerOf("tfVersion", t, _._1 == t)
        (Some(t), Some(l), dfVersion.orElse(d))
      case (None, Some(l)) =>
        val (t, _, d) = partnerOf("dlVersion", l, _._2 == l)
        (Some(t), Some(l), dfVersion.orElse(d))
    }
    val gone = retirePath.flatMap(tombstones(_).live(spark))
    val dl = {
      val dl0 = readUnionShards(spark, dlPath, dlV)
      gone.fold(dl0)(g => dl0.join(g, Seq("doc_id"), "left_anti"))
    }
    val kept = (dfPath, maxDfFrac) match {
      case (Some(dp), Some(frac)) =>
        val n = dl.count().toDouble // one doc-scale aggregate (retained)
        val dfBuckets = terms.map(tokenBucketLocal).toSet
        val dfs = readDfIndex(spark, dp, dfV, buckets = Some(dfBuckets))
          .where(col("token").isin(terms: _*))
          .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
        // the stored df summary counts tombstoned docs too; subtract
        // their per-term contribution EXACTLY — tf is doc-level, so the
        // retired slice of the (bucket-pruned) posting lists is the df
        // overcount. Cost: the query terms' postings ∩ tombstones.
        val dfsGone = gone.map { g =>
          readTfIndex(spark, tfPath, tfV, Some(dfBuckets))
            .where(col("token").isin(terms: _*))
            .join(g, Seq("doc_id"), "left_semi")
            .groupBy("token").agg(count(lit(1)).as("n"))
            .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
        }.getOrElse(Map.empty[String, Long])
        terms.filterNot { t =>
          val df = dfs.getOrElse(t, 0L) - dfsGone.getOrElse(t, 0L)
          df > frac * n
        }
      case _ => terms
    }
    if (kept.isEmpty)
      // every query term was stopword-cut: empty result, scorer schema
      return dl.select(col("doc_id")).limit(0)
        .withColumn("bm25", lit(0.0))
        .withColumn("n_hits", lit(0L))
    val buckets = kept.map(tokenBucketLocal).toSet
    val tf0 = readTfIndex(spark, tfPath, tfV, Some(buckets)).drop("tbucket")
    TextAnalysis.bm25FromIndex(
      gone.fold(tf0)(g => tf0.join(g, Seq("doc_id"), "left_anti")),
      dl, kept, k1, b)
  }

  /** THE keyword-search endpoint call — everything a web handler needs
    * in one function: latest-consistent-pair version resolution, the
    * df-bounded stopword cut (when `dfPath`/`maxDfFrac` are given), the
    * token-bucket-pruned tf scan, and the top-k cut
    * (`TakeOrderedAndProject`, deterministic doc_id tie-break — never a
    * global sort). Scan cost: the surviving terms' posting lists; k
    * rows leave the aggregation. */
  def searchBm25(spark: SparkSession, tfPath: String, dlPath: String,
                 terms: Seq[String], k: Int, k1: Double = 1.2,
                 b: Double = 0.75,
                 tfVersion: Option[Long] = None,
                 dlVersion: Option[Long] = None,
                 dfPath: Option[String] = None,
                 maxDfFrac: Option[Double] = None,
                 dfVersion: Option[Long] = None,
                 retirePath: Option[String] = None): DataFrame =
    bm25FromStored(spark, tfPath, dlPath, terms, k1, b,
      tfVersion, dlVersion, dfPath, maxDfFrac, dfVersion, retirePath)
      .orderBy(col("bm25").desc, col("doc_id").asc).limit(k)

  // ---- block-max (WAND-lite) serving layout ------------------------

  /** Doc-RANGE block id: `floor(doc_id / span)`. Ranges, not hashes,
    * because block pruning only bites when per-block maxima DIFFER —
    * and real corpora are skewed along insertion order (a template
    * flood lands in one crawl window, a hot topic in one snapshot),
    * which ranges preserve and a uniform hash would deliberately
    * destroy. The block is a pure function of doc_id, so every term's
    * postings for one document land in the SAME block — the property
    * that makes skipping a block exact (a skipped doc loses ALL its
    * contributions, never some). */
  def docBlock(docId: org.apache.spark.sql.Column, span: Long): org.apache.spark.sql.Column =
    floor(docId / span).cast("long")

  /** ONE-TIME WAND layout derivation over the stored tf artifact — the
    * impact-metadata answer to "a top-k over several mid-df terms still
    * scores every posting of every surviving term" (r12 VERDICT item
    * 4): rewrite the tf table partitioned by (tbucket, dblock) and
    * write the BLOCK-MAX sidecar (token, tbucket, dblock, max_tf, df) —
    * the per-(term, doc-block) score-bound metadata of block-max WAND
    * (Ding & Suel 2011), columnar-translated: Lucene's skip pointers
    * become partition dirs, the block max becomes a sidecar row. A
    * maintenance-window op like compaction/z-ordering (run it after
    * compaction cadences; readers of the OLD layout are unaffected —
    * this writes a separate serving dir). Scale shape: one shuffle of
    * the tf table into the two-level layout; the sidecar is
    * vocab × blocks rows, bucket-partitioned like the df summary.
    * `span` is the block-size knob: serving collects (query terms ×
    * blocks) sidecar rows, so size it to keep corpus/span in the
    * thousands at target scale. */
  def wandLayoutFrom(spark: SparkSession, tfPath: String, wandPath: String,
                     span: Long = 64L,
                     version: Option[Long] = None): Unit = {
    require(span >= 1, s"span=$span must be positive")
    verifySpan(spark, wandPath, span)
    val tf = readTfIndex(spark, tfPath, version)
      .withColumn("tbucket",
        coalesce(col("tbucket"), tokenBucket(col("token"))))
      .withColumn("dblock", docBlock(col("doc_id"), span))
    tf.write.partitionBy("tbucket", "dblock").mode("overwrite")
      .parquet(s"$wandPath/tf")
    tf.groupBy("token", "tbucket", "dblock")
      .agg(max(col("tf")).as("max_tf"), count(lit(1)).as("df"))
      .write.partitionBy("tbucket").mode("overwrite")
      .parquet(s"$wandPath/bm")
  }

  /** MAINTENANCE for the WAND layout — per-batch shard appends, so the
    * block-max serving structure stays current WITHOUT a rewrite per
    * batch: each fresh-docs batch writes its own (tbucket, dblock)
    * tf shard and its block-max sidecar shard (`shard=b<id>`, the
    * [[tfIndexBatch]] watermark-replay discipline — a batch at or below
    * a committed m-shard's watermark skips). The shard UNION is exact
    * because both sidecar statistics are mergeable: batches are
    * doc-disjoint so per-(term, block) df rows ADD, and max_tf rows
    * merge by MAX (idempotent) — [[wandPlan]] folds shard-split sidecar
    * rows with exactly that (max, sum) merge, so a sharded layout
    * serves bit-identically to a compacted one and `q_bm25_wand`'s
    * oracle is unchanged. [[compactWandShards]] folds the shards on a
    * maintenance cadence. `span` must match the layout's recorded
    * `_span` marker — block identity is a pure function of (doc_id,
    * span), and mixing spans would scatter one doc across blocks,
    * breaking the skip-exactness argument. */
  def wandIndexBatch(batch: DataFrame, batchId: Long, wandPath: String,
                     span: Long = 64L): Unit = {
    require(span >= 1, s"span=$span must be positive")
    val spark = batch.sparkSession
    verifySpan(spark, wandPath, span)
    val tfMerged = mergedUpTo(spark, s"$wandPath/tf").exists(batchId <= _)
    val bmMerged = mergedUpTo(spark, s"$wandPath/bm").exists(batchId <= _)
    if (tfMerged && bmMerged) { logWatermarkSkip(wandPath, batchId); return }
    val tf = TextAnalysis.tfPostings(batch, "doc_id", "text")
      .withColumn("tbucket", tokenBucket(col("token")))
      .withColumn("dblock", docBlock(col("doc_id"), span))
    if (!tfMerged &&
        graft.functions.ShardWrite.claim(spark, s"$wandPath/tf/shard=b$batchId"))
      tf.write.partitionBy("tbucket", "dblock").mode("overwrite")
        .parquet(s"$wandPath/tf/shard=b$batchId")
    if (!bmMerged &&
        graft.functions.ShardWrite.claim(spark, s"$wandPath/bm/shard=b$batchId"))
      tf.groupBy("token", "tbucket", "dblock")
        .agg(max(col("tf")).as("max_tf"), count(lit(1)).as("df"))
        .write.partitionBy("tbucket").mode("overwrite")
        .parquet(s"$wandPath/bm/shard=b$batchId")
  }

  /** Fold the accumulated WAND shards into one merged shard per table —
    * the maintenance-window compaction for [[wandIndexBatch]] layouts,
    * on the [[compactWith]] loss-proof commit order (merged shard lands
    * before the inputs are deleted; a replayed compaction over ≤1 shard
    * is a no-op). tf rows are doc-disjoint so the merge is the plain
    * union; sidecar rows re-aggregate by (max, sum) — the same merge
    * the reader applies, so a pinned query is BIT-STABLE across the
    * rewrite. Partition dims re-derive from content: tbucket from the
    * token, dblock from doc_id and the layout's `_span` marker (never a
    * caller-remembered number). */
  def compactWandShards(spark: SparkSession, wandPath: String)
      : ((Int, Int), (Int, Int)) = {
    val span = spanOf(spark, wandPath)
    val tfRes = compactWith(spark, s"$wandPath/tf", identity,
      (df, p) => df
        .drop("tbucket", "dblock")
        .withColumn("tbucket", tokenBucket(col("token")))
        .withColumn("dblock", docBlock(col("doc_id"), span))
        .write.partitionBy("tbucket", "dblock").mode("overwrite").parquet(p))
    val bmRes = compactWith(spark, s"$wandPath/bm",
      df => df.drop("tbucket")
        .groupBy("token", "dblock")
        .agg(max(col("max_tf")).as("max_tf"), sum(col("df")).as("df")),
      (df, p) => df
        .withColumn("tbucket", tokenBucket(col("token")))
        .write.partitionBy("tbucket").mode("overwrite").parquet(p))
    (tfRes, bmRes)
  }

  /** PHYSICAL tombstone fold for the MAINTAINED WAND layout — the
    * [[foldRetiredPostings]] twin on the serving structure: the
    * tombstoned WAND serve pays anti-joins per query AND loses pruning
    * power over time (stale block maxima only over-bound); the fold
    * drops the retired docs' tf rows from the bytes, RECOMPUTES the
    * block-max sidecar from the retained rows (fresh maxima — pruning
    * power restored), and consumes the channel. Same commit order as
    * [[compactWandShards]] (forced, so a single live shard still
    * rewrites); the tf merge's distinct() converges the non-manifest
    * crash window. While the channel exists — including mid-crash —
    * serving stays correct by passing `retirePath` (the r15 serving
    * contract); once consumed, the unretired serve IS the retained
    * serve. One-shot [[wandLayoutFrom]] layouts have no shard dirs to
    * fold — rebuild them from the folded tf artifact instead (the
    * error message says so). Returns true iff the fold consumed the
    * channel. */
  def foldRetiredWand(spark: SparkSession, wandPath: String,
                      retirePath: String): Boolean = {
    val span = spanOf(spark, wandPath)
    val tombs = tombstones(retirePath)
    val live = tombs.live(spark)
    if (live.isEmpty) {
      // channel removed out-of-band after a crashed fold: heal the
      // fence so the rerun (the advertised recovery) unbricks serving
      healWandFence(spark, wandPath, span)
      return false
    }
    require(shardDirs(spark, s"$wandPath/tf").nonEmpty,
      s"$wandPath/tf has no shard dirs — a one-shot wandLayoutFrom " +
        "layout folds by REBUILDING from the folded tf artifact " +
        "(foldRetiredPostings then wandLayoutFrom), not in place")
    val gone = live.get.persist()
    try {
      if (gone.head(1).isEmpty) {
        healWandFence(spark, wandPath, span)
        tombs.consume(spark)
        return false
      }
      raiseFoldFence(spark, wandPath)
      compactWith(spark, s"$wandPath/tf",
        _.join(gone, Seq("doc_id"), "left_anti").distinct(),
        (df, p) => df
          .drop("tbucket", "dblock")
          .withColumn("tbucket", tokenBucket(col("token")))
          .withColumn("dblock", docBlock(col("doc_id"), span))
          .write.partitionBy("tbucket", "dblock").mode("overwrite").parquet(p),
        force = true)
      // sidecar: recompute from the FOLDED tf — block identity from
      // (doc_id, span), never the dir name; fresh maxima, exact df
      rebuildWandSidecar(spark, wandPath, span)
      clearFoldFence(spark, wandPath)
      tombs.consume(spark)
      true
    } finally gone.unpersist()
  }

  /** Rewrite the WAND block-max sidecar from the CURRENT tf bytes —
    * the sidecar-consistency half shared by the fold's main path and
    * the stale-fence heal. */
  private def rebuildWandSidecar(spark: SparkSession, wandPath: String,
                                 span: Long): Unit = {
    val retainedBm = spark.read
      .schema("token STRING, doc_id BIGINT, tf BIGINT, tbucket INT, dblock BIGINT")
      .parquet(s"$wandPath/tf")
      .groupBy(col("token"), docBlock(col("doc_id"), span).as("dblock"))
      .agg(max(col("tf")).as("max_tf"), count(lit(1)).as("df"))
    compactWith(spark, s"$wandPath/bm", _ => retainedBm,
      (df, p) => df
        .withColumn("tbucket", tokenBucket(col("token")))
        .write.partitionBy("tbucket").mode("overwrite").parquet(p),
      force = true)
  }

  /** [[healPostingsFence]]'s WAND twin: restore sidecar ≡ tf bytes
    * from whatever tf holds now, then clear the fence. No-op when no
    * fence is up. */
  private def healWandFence(spark: SparkSession, wandPath: String,
                            span: Long): Unit = {
    if (!foldFenceExists(spark, wandPath)) return
    rebuildWandSidecar(spark, wandPath, span)
    clearFoldFence(spark, wandPath)
  }

  /** The layout's block-span contract, recorded at the root
    * ([[ShardWrite.verifyMarker]]): writers record it once, rewrites
    * re-derive `dblock` from it, and a conflicting span THROWS — two
    * spans in one layout would scatter docs across blocks and void the
    * pruning-exactness proof. */
  private def verifySpan(spark: SparkSession, wandPath: String,
                         span: Long): Unit =
    ShardWrite.verifyMarker(spark, s"$wandPath/_span", span.toString,
      "block span (dblock is span-bound)")

  private def spanOf(spark: SparkSession, wandPath: String): Long =
    ShardWrite.readMarker(spark, s"$wandPath/_span").map(_.toLong)
      .getOrElse(throw new IllegalStateException(
        s"$wandPath has no _span marker — not a maintained WAND layout"))

  /** BM25 top-k with BLOCK-MAX pruning — exact WAND-lite over the
    * [[wandLayoutFrom]] layout, two phases:
    *
    *  1. SEED: the block-max sidecar rows of the query terms (a
    *     (terms × blocks)-row bucket-pruned collect) give each block an
    *     upper bound on any resident doc's FULL score —
    *     `Σ_t idf(t) · saturation(max_tf(t, blk))` with the dl→0 bound
    *     on the length normalizer (every real contrib is ≤ it). The
    *     highest-bound block alone is scored exactly; its k-th score
    *     seeds the threshold θ.
    *  2. PRUNE + SCORE: blocks whose bound is strictly below θ are
    *     SKIPPED — at the FILE level, since `dblock` is a partition
    *     dir — and the surviving blocks are scored exactly
    *     ([[TextAnalysis.bm25FromIndexGivenDf]]: global df from the
    *     sidecar, full dl sidecar for N/avgdl), top-k cut last.
    *
    * EXACT by construction, not score-deviating like the df cut: a doc
    * lives entirely inside one block ([[docBlock]]), so a skipped doc's
    * whole score is ≤ its block's bound < θ ≤ the true k-th score —
    * it cannot enter the top-k under any tie-break. The θ comparison
    * inflates the bound by 1 ulp-scale margin so driver-vs-executor
    * double noise can only KEEP a block, never skip one wrongly.
    * Shares `q_bm25_topk`'s oracle SQL (`q_bm25_wand`);
    * [[graft.PostingsIndexSpec]] pins the file-level shrink on a
    * planted mid-df query.
    *
    * TOMBSTONES (`retirePath`, the [[retireAppend]] channel): the
    * served ranking equals a fresh WAND layout over the RETAINED
    * corpus, with zero layout rewrite. Retired rows anti-join out of
    * the tf scan and the dl sidecar; df re-derives over the retained
    * corpus (the sidecar's per-term overcount is subtracted exactly
    * from the tombstoned slice of the bucket-pruned postings — the
    * [[bm25FromStored]] correction). Block-max pruning stays EXACT
    * under deletion WITHOUT touching the stored sidecar: removing docs
    * can only LOWER a block's true maxima, so the stored `max_tf`
    * remains a valid upper bound for every retained doc, and the
    * retained-df idf used in the bound is the same idf the exact
    * scorer applies — the bound still dominates every retained doc's
    * full score, so a skipped block still cannot hide a top-k result.
    * (Stale-high maxima can only KEEP extra blocks — pruning POWER
    * degrades with heavy tombstoning until the next layout rebuild;
    * correctness never does.) A missing/never-written channel adds
    * zero plan nodes. */
  def searchBm25Wand(spark: SparkSession, wandPath: String, dlPath: String,
                     terms: Seq[String], k: Int, k1: Double = 1.2,
                     b: Double = 0.75,
                     retirePath: Option[String] = None): DataFrame = {
    require(terms.nonEmpty, "bm25 needs at least one query term")
    require(k >= 1, "top-k needs k >= 1")
    requireNoFoldFence(spark, wandPath)
    requireNoFoldFence(spark, dlPath)
    val (keptBlocks, score) =
      wandPlan(spark, wandPath, dlPath, terms, k, k1, b, retirePath)
    score(keptBlocks)
      .orderBy(col("bm25").desc, col("doc_id").asc).limit(k)
  }

  /** The pruning decision + block scorer behind [[searchBm25Wand]],
    * split out so the spec can assert WHICH blocks survived. Returns
    * (surviving block ids, scorer over a block set). */
  private[graft] def wandPlan(spark: SparkSession, wandPath: String,
                              dlPath: String, terms: Seq[String], k: Int,
                              k1: Double, b: Double,
                              retirePath: Option[String] = None)
      : (Seq[Long], Seq[Long] => DataFrame) = {
    import spark.implicits._
    val distinctTerms = terms.distinct
    val buckets: Seq[Integer] = distinctTerms.map(tokenBucketLocal)
      .toSet.toSeq.map((b: Int) => Integer.valueOf(b))
    // tombstones: a never-retired layout serves the IDENTICAL plan —
    // the anti-joins exist only when there is something to subtract
    val gone = retirePath.flatMap(tombstones(_).live(spark))
    val dl = {
      val dl0 = readUnionShards(spark, dlPath)
      gone.fold(dl0)(g => dl0.join(g, Seq("doc_id"), "left_anti"))
    }
    // explicit schemas on both layout reads: a layout derived from an
    // empty index has `_SUCCESS`-only dirs, and inference would throw
    // where the exact answer is an empty result
    // shard-split sidecar rows (the wandIndexBatch maintained layout)
    // fold by the mergeable-statistics rule — max_tf by MAX, df by SUM
    // (doc-disjoint batches) — so a sharded layout reads IDENTICALLY to
    // a compacted or one-shot one; single-row keys are unchanged
    val bmRows = spark.read
      .schema("token STRING, dblock BIGINT, max_tf BIGINT, df BIGINT, tbucket INT")
      .parquet(s"$wandPath/bm")
      .where(col("tbucket").isin(buckets: _*) &&
        col("token").isin(distinctTerms: _*))
      .select(col("token"), col("dblock").cast("long"),
        col("max_tf").cast("long"), col("df").cast("long"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .groupBy(r => (r._1, r._2)).map { case ((t, blk), rs) =>
        (t, blk, rs.map(_._3).max, rs.map(_._4).sum)
      }.toArray
    // ONE relation for both phases: partition discovery over the
    // (tbucket × dblock) dir tree runs once, and each phase's block
    // filter prunes the shared file index instead of re-listing it
    val tf = spark.read
      .schema("token STRING, doc_id BIGINT, tf BIGINT, tbucket INT, dblock BIGINT")
      .parquet(s"$wandPath/tf")
    // global df per term = Σ over its blocks (sidecar rows partition
    // the posting list), MINUS the tombstoned slice of the bucket-
    // pruned postings when a retire channel exists — exact because tf
    // rows are doc-level, so each retired doc removes exactly one df
    // count per term it contains. Cost: query terms' postings ∩
    // tombstones, the bm25FromStored correction's cost class.
    val dfGoneByTerm: Map[String, Long] = gone.map { g =>
      tf.where(col("tbucket").isin(buckets: _*) &&
          col("token").isin(distinctTerms: _*))
        .join(g, Seq("doc_id"), "left_semi")
        .groupBy("token").agg(count(lit(1)).as("n"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    }.getOrElse(Map.empty[String, Long])
    val dfGlobal: Map[String, Long] =
      bmRows.groupBy(_._1).map { case (t, rs) =>
        t -> (rs.map(_._4).sum - dfGoneByTerm.getOrElse(t, 0L))
      }
    val dfreq = dfGlobal.toSeq.toDF("token", "doc_freq")
    def score(blocks: Seq[Long]): DataFrame = {
      val tfPruned = tf
        .where(col("tbucket").isin(buckets: _*) &&
          col("dblock").isin(blocks.map(java.lang.Long.valueOf): _*))
        // explicit projection: the maintained layout adds a `shard`
        // partition level that must not leak into the scorer
        .select(col("token"), col("doc_id"), col("tf"))
      TextAnalysis.bm25FromIndexGivenDf(
        gone.fold(tfPruned)(g => tfPruned.join(g, Seq("doc_id"), "left_anti")),
        dl, distinctTerms, dfreq, k1, b)
    }
    if (bmRows.isEmpty)
      // no query term exists in the index: exact empty result
      return (Seq.empty,
        _ => dl.select(col("doc_id")).limit(0)
          .withColumn("bm25", lit(0.0)).withColumn("n_hits", lit(0L)))
    // driver copies of (N, avgdl) for the BOUND only — the exact scorer
    // keeps its own in-plan broadcast row, so scores never depend on
    // these driver doubles
    val Array(nd, _) = dl
      .agg(count(lit(1)).cast("double"), avg(col("dl").cast("double")))
      .head().toSeq.map(_.asInstanceOf[Double]).toArray
    def idf(dfT: Long) = math.log(1.0 + (nd - dfT + 0.5) / (dfT + 0.5))
    // dl→0 bound on the saturation: contrib(tf, dl) is increasing in tf
    // and decreasing in dl, so max_tf with the k1(1−b) floor dominates
    def ub(maxTf: Long, dfT: Long): Double =
      idf(dfT) * (maxTf * (k1 + 1)) / (maxTf + k1 * (1 - b))
    val ubScore: Map[Long, Double] = bmRows
      .groupBy(_._2)
      .map { case (blk, rs) =>
        blk -> rs.map { case (t, _, maxTf, _) => ub(maxTf, dfGlobal(t)) }.sum
      }
    val ordered = ubScore.toSeq.sortBy { case (blk, s) => (-s, blk) }
    // phase 1: exact scores of the top-bound block seed θ
    val seed = score(Seq(ordered.head._1))
      .orderBy(col("bm25").desc, col("doc_id").asc).limit(k)
      .select(col("bm25")).collect().map(_.getDouble(0))
    val theta =
      if (seed.length < k) Double.NegativeInfinity else seed.min
    // keep any block whose bound could reach θ; the epsilon inflation
    // makes driver-double noise err toward KEEPING
    val kept = ordered.collect {
      case (blk, s) if s * (1 + 1e-9) + 1e-12 >= theta => blk
    }
    (kept, score)
  }

  /** Serving read for the union-merged shard tables (tf / doc-lengths):
    * all live shards, version-pinnable under [[Snapshot]] manifests. */
  def readUnionShards(spark: SparkSession, root: String,
                      version: Option[Long] = None): DataFrame =
    (if (Snapshot.enabled(spark, root))
       Snapshot.readVersion(spark, root, version, Seq("shard"))
     else None).getOrElse(Tables.parquet(spark, root)).drop("shard")

  /** The streaming sink for the TF half: docs (doc_id, text) →
    * continuously-maintained BM25-servable index artifacts. */
  def startTfIndexSink(docs: DataFrame, tfPath: String, dlPath: String,
                       checkpoint: String,
                       trigger: Trigger = Trigger.ProcessingTime("10 seconds"),
                       compactEvery: Int = 0,
                       snapshots: Boolean = false,
                       dfPath: Option[String] = None): StreamingQuery =
    docs.writeStream
      .outputMode("append")
      .trigger(trigger)
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        tfIndexBatch(batch, batchId, tfPath, dlPath, compactEvery, snapshots,
          dfPath, lineage = Some(checkpoint))
      }
      .start()

  // ---- the POSITIONAL half: phrase search served from stored shards --

  /** Per-batch maintenance of the positional postings table (token,
    * doc_id, tf, positions) —
    * [[graft.functions.TextAnalysis.positionalPostings]] as a
    * continuously-maintained artifact, the storage phrase search
    * ([[phraseFromStored]]) serves from. Same discipline as the tf
    * half, because the table has the same key: shard-per-batch gives
    * replay idempotence BY CONSTRUCTION, rows are (token, doc_id)-
    * disjoint across doc-disjoint shards (fresh-docs), so reads are
    * plain UNION and compaction is a rewrite ([[compactUnionShards]],
    * which preserves the layout); shards are PHYSICALLY PARTITIONED by
    * the same 64-way md5 token bucket, so a phrase query's scan prunes
    * to its terms' bucket dirs at FILE level on both read paths. */
  def posIndexBatch(batch: DataFrame, batchId: Long, posPath: String,
                    compactEvery: Int = 0, snapshots: Boolean = false,
                    dfPath: Option[String] = None,
                    lineage: Option[String] = None): Unit = {
    val spark = batch.sparkSession
    val merged = mergedUpTo(spark, posPath).exists(batchId <= _)
    val dfMerged = dfPath.exists(p => mergedUpTo(spark, p).exists(batchId <= _))
    verifyLineage(spark, posPath, lineage, aboutToSkip = merged)
    dfPath.foreach(p => verifyLineage(spark, p, lineage, aboutToSkip = dfMerged))
    val pos = TextAnalysis.positionalPostings(batch, "doc_id", "text")
      .withColumn("tbucket", tokenBucket(col("token")))
    if (merged) logWatermarkSkip(posPath, batchId)
    else {
      if (snapshots) writeShardManifestSafe(pos, posPath, batchId, Seq("tbucket"))
      else pos.write.partitionBy("tbucket").mode("overwrite")
        .parquet(s"$posPath/shard=b$batchId")
    }
    // the same vocab-scale df summary the tf half keeps — what lets
    // phraseFromStoredBounded pick the rarest term on the driver
    dfPath.foreach { dp =>
      if (dfMerged) logWatermarkSkip(dp, batchId)
      else {
        val df = pos.groupBy("token", "tbucket").agg(count(lit(1)).as("df"))
        if (snapshots) writeShardManifestSafe(df, dp, batchId, Seq("tbucket"))
        else df.write.partitionBy("tbucket").mode("overwrite")
          .parquet(s"$dp/shard=b$batchId")
      }
    }
    if (compactEvery > 0 && batchId % compactEvery == compactEvery - 1) {
      compactUnionShards(spark, posPath, tokenBuckets = true)
      dfPath.foreach(compactDfShards(spark, _))
    }
  }

  /** Phrase search served from the STORED positional index — no corpus
    * access: the phrase terms' buckets are computed on the driver
    * ([[tokenBucketLocal]], zero jobs), the scan touches only those
    * bucket dirs (PartitionFilters / manifest `keepRel` file pruning —
    * the same pruned read as [[bm25FromStored]]), and the shared
    * adjacency fold
    * ([[graft.functions.TextAnalysis.phraseFromPostings]]) does the
    * rest, so index-served matches equal corpus-recomputed matches
    * (`q_phrase_stored` is oracle-pinned to `q_phrase`'s SQL). Scan
    * cost: the phrase terms' posting lists — query-bounded, and a
    * phrase's terms are discriminative by construction (a phrase OF
    * stopwords has no rare term to cut to; callers wanting a bound
    * compose the df-summary cut the BM25 path uses). `version` pins a
    * committed shard set across concurrent compaction. */
  def phraseFromStored(spark: SparkSession, posPath: String,
                       phrase: Seq[String],
                       version: Option[Long] = None): DataFrame = {
    require(phrase.nonEmpty, "phrase needs at least one term")
    val buckets = phrase.distinct.map(tokenBucketLocal).toSet
    TextAnalysis.phraseFromPostings(
      readTfIndex(spark, posPath, version, Some(buckets)).drop("tbucket"),
      phrase)
  }

  /** [[phraseFromStored]] with the RARE-FIRST shuffle bound — the
    * phrase analog of [[bm25FromStored]]'s df cut, for the case the cut
    * can't serve (a phrase NEEDS its common terms; dropping one changes
    * the query). A phrase with a stopword in it scans and SHUFFLES that
    * term's corpus-scale posting list into the per-doc aggregation.
    * Here the vocab-scale df sidecar picks the RAREST phrase term
    * (driver decision, bucket-pruned summary read), its doc set builds
    * a Bloom filter ([[graft.functions.Bloom.bloomSemiJoin]] — one
    * KB-scale driver collect), and every other term's rows are pruned
    * by it BEFORE the aggregation shuffle, which is then bounded by
    * ≈ |phrase| · df(rarest) + fp instead of Σ df. EXACT by
    * construction, not approximate: a doc without the rarest term
    * cannot match the phrase (no false negatives — every doc with the
    * term survives the bloom), and a false positive is a doc the
    * adjacency fold rejects anyway — so the result is bit-identical to
    * [[phraseFromStored]] and `q_phrase_bounded` shares `q_phrase`'s
    * oracle SQL. The stopword's posting list is still READ (storage
    * skip lists don't exist in parquet — same honest limit as Lucene
    * without position skips); what's bounded is everything after the
    * scan. A phrase term with NO df row falls back to the unbounded
    * [[phraseFromStored]] rather than short-circuiting to empty:
    * [[posIndexBatch]] writes the pos shard BEFORE the df shard with no
    * consistency pairing (unlike the tf/dl `_pairs` machinery), so a
    * read landing between the two writes — or after a crash between
    * them — can see a term live in the pos index while its df row is
    * still missing; df=0 therefore means 'UNKNOWN', not 'absent'
    * (r12 ADVICE). The fallback keeps the result exact in that window
    * at the cost of the unbounded scan; a truly-absent term yields the
    * same empty result there (no posting rows → the adjacency fold
    * matches nothing). */
  def phraseFromStoredBounded(spark: SparkSession, posPath: String,
                              phrase: Seq[String], dfPath: String,
                              version: Option[Long] = None,
                              dfVersion: Option[Long] = None): DataFrame = {
    require(phrase.nonEmpty, "phrase needs at least one term")
    val terms = phrase.distinct
    val dfs = readDfIndex(spark, dfPath, dfVersion,
        Some(terms.map(tokenBucketLocal).toSet))
      .where(col("token").isin(terms: _*))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    if (terms.exists(t => dfs.getOrElse(t, 0L) == 0L))
      return phraseFromStored(spark, posPath, phrase, version)
    val rarest = terms.minBy(t => (dfs(t), t)) // deterministic tie-break
    val rareDocs = readTfIndex(spark, posPath, version,
        Some(Set(tokenBucketLocal(rarest))))
      .where(col("token") === rarest).select("doc_id")
    val all = readTfIndex(spark, posPath, version,
        Some(terms.map(tokenBucketLocal).toSet)).drop("tbucket")
      .where(col("token").isin(terms: _*))
    TextAnalysis.phraseFromPostings(
      graft.functions.Bloom.bloomSemiJoin(all, rareDocs, "doc_id", "doc_id"),
      phrase)
  }

  /** THE phrase-search endpoint call: pruned stored scan + the top-k
    * cut (`TakeOrderedAndProject`, deterministic doc_id tie-break —
    * never a global sort), ranked by occurrence count. */
  def searchPhrase(spark: SparkSession, posPath: String,
                   phrase: Seq[String], k: Int,
                   version: Option[Long] = None): DataFrame =
    phraseFromStored(spark, posPath, phrase, version)
      .orderBy(col("n_matches").desc, col("doc_id").asc).limit(k)

  /** The streaming sink for the positional half: docs (doc_id, text) →
    * continuously-maintained phrase-servable index artifacts. */
  def startPosIndexSink(docs: DataFrame, posPath: String,
                        checkpoint: String,
                        trigger: Trigger = Trigger.ProcessingTime("10 seconds"),
                        compactEvery: Int = 0,
                        snapshots: Boolean = false,
                        dfPath: Option[String] = None): StreamingQuery =
    docs.writeStream
      .outputMode("append")
      .trigger(trigger)
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        posIndexBatch(batch, batchId, posPath, compactEvery, snapshots,
          dfPath, lineage = Some(checkpoint))
      }
      .start()

  /** Test-only fault injection: run ONLY the tf half of [[tfIndexBatch]]
    * (manifest-safe write + commit), then stop BEFORE the dl write and
    * the pair record — the split-write crash window
    * [[latestConsistentPair]] must confine: the tf version counter
    * advances past the last recorded pair, and a pair-resolved read
    * must keep serving the pre-crash corpus state. */
  private[graft] def tfIndexBatchCrashAfterTf(batch: DataFrame,
                                              batchId: Long,
                                              tfPath: String): Unit =
    writeShardManifestSafe(
      TextAnalysis.tfPostings(batch, "doc_id", "text")
        .withColumn("tbucket", tokenBucket(col("token"))),
      tfPath, batchId, Seq("tbucket"))

  /** Test-only fault injection: run [[compactShards]]' merged-shard
    * write, then stop BEFORE the manifest commit — leaving exactly the
    * orphan-m-shard crash window the recovery preamble must close. */
  private[graft] def compactShardsCrashAfterMerge(spark: SparkSession,
      indexPath: String, cap: Int = DefaultCap): Unit = {
    val dirs = shardDirs(spark, indexPath)
    require(dirs.length > 1, "crash-injection needs >1 live shard")
    val merged = mergeShards(
      Tables.parquet(spark, dirs.map(_.toString): _*).drop("shard"), cap)
    val stamp = java.lang.Long.toHexString(System.nanoTime())
    // the orphan carries the watermark SUFFIX exactly as compactWith
    // names it before the commit — the hazard mergedUpTo must distrust
    // is precisely an UNCOMMITTED watermark-bearing m-shard
    val maxB = dirs.map(_.getName.stripPrefix("shard=")).collect {
      case BatchShardRe(n) => n.toLong
      case MergedShardRe(n) => n.toLong
    }.maxOption
    val rel = s"shard=m$stamp" + maxB.map(m => s"u$m").getOrElse("")
    merged.write.mode("overwrite").parquet(s"$indexPath/$rel")
    // crash: no Snapshot.commit, originals stay live, m-shard is orphan
  }

  /** The streaming sink: docs (doc_id, text) → continuously-maintained
    * shard-partitioned postings index. */
  def startIndexSink(docs: DataFrame, indexPath: String, checkpoint: String,
                     trigger: Trigger = Trigger.ProcessingTime("10 seconds"),
                     cap: Int = DefaultCap, compactEvery: Int = 0,
                     snapshots: Boolean = false): StreamingQuery =
    docs.writeStream
      .outputMode("append")
      .trigger(trigger)
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        indexBatch(batch, batchId, indexPath, cap, compactEvery, snapshots,
          lineage = Some(checkpoint))
      }
      .start()
}
