package graft.functions

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, sum}

/** Torn-shard-safe replay detection for the batch-shard appenders
  * ([[CountChannel]], [[appendIds]]).
  *
  * A bare `fs.exists(shardDir)` replay check has a CRASH HOLE: a writer
  * killed mid-`write.parquet` leaves the directory present but
  * incomplete (no `_SUCCESS` committer marker, possibly `_temporary`
  * debris), so the replayed batch would be SKIPPED and its counts lost
  * forever — silent, and additive tables can't detect a missing
  * addend. The committer only writes `_SUCCESS` after every task
  * committed, so that marker — not the directory — is the "this shard
  * is complete" signal (the same reasoning behind the postings index's
  * manifest-referenced reads).
  */
object ShardWrite {

  /** Claim `shard` for writing: false iff a COMPLETE shard (directory +
    * `_SUCCESS`) already exists (true replay → skip); a torn shard
    * (directory without the marker) is deleted so the caller's write
    * starts clean. */
  def claim(spark: SparkSession, shard: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(shard)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return true
    if (fs.exists(new org.apache.hadoop.fs.Path(p, "_SUCCESS"))) return false
    // torn: a previous writer died mid-commit — rewrite from scratch
    fs.delete(p, true)
    true
  }

  /** Read a shard table that may not exist yet — the OPTIONAL-CHANNEL
    * read every tombstone-aware reader needs: a maintained table whose
    * retire channel was never written must read as "nothing retired"
    * (zero rows of the declared schema), never a missing-path throw.
    * Explicit schema for the same reason the shard readers all carry
    * one: an existing-but-all-empty channel must not fail inference. */
  def readOrEmpty(spark: SparkSession, path: String,
                  schema: String): org.apache.spark.sql.DataFrame = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) spark.read.schema(schema).parquet(path)
    else empty(spark, schema)
  }

  private def empty(spark: SparkSession,
                    schema: String): org.apache.spark.sql.DataFrame =
    spark.createDataFrame(
      java.util.Collections.emptyList[org.apache.spark.sql.Row](),
      org.apache.spark.sql.types.StructType.fromDDL(schema))

  // ---- compaction for the additive batch-shard channels -------------
  //
  // The batch-shard channels ([[CountChannel]] ingest AND retire
  // tables, pair shards, tombstone sets) accumulate one `batch=<id>`
  // dir per append; at a
  // batch per hour that is thousands of dirs a year, each a listing +
  // footer read at serve time. [[compactShards]] folds them into one
  // merged dir named `batch=m<stamp>u<maxBatch>` — the postings-index
  // m-shard WATERMARK discipline: the name carries the highest batch id
  // the merged shard (transitively) contains, and
  //
  //  * [[claimBatch]] SKIPS a replayed append at or below the watermark
  //    (its rows live in the m-shard now; re-appending would double
  //    count an additive table), and
  //  * [[readShards]] reads m-shards plus only the plain batch dirs
  //    ABOVE the watermark — so the crash window between the merged
  //    commit and the consumed-dir deletes can never double-count at
  //    read; the next compaction's recovery preamble deletes the
  //    leftovers.
  //
  // The merged shard is written to a `_`-prefixed staging dir (invisible
  // to every reader) and RENAMED into place — atomic on local/HDFS
  // filesystems — so readers observe either the old shard set or the
  // complete merged dir, never a torn one.

  // Anchored: ONLY exact compaction-produced names parse as m-shards.
  // An unanchored match would let a stray copy like `batch=m1au2.bak`
  // impersonate a merged shard and its digits become a watermark that
  // wrongly suppresses plain shards at read and skips appends in
  // [[claimBatch]].
  private val MergedShardRe = "^m[0-9a-f]+u([0-9]+)$".r

  private def fsOf(spark: SparkSession, table: String) = {
    val p = new org.apache.hadoop.fs.Path(table)
    (p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
  }

  private def shardDirs(spark: SparkSession, table: String)
      : Seq[org.apache.hadoop.fs.FileStatus] = {
    val (fs, p) = fsOf(spark, table)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).toSeq.filter(st =>
      st.isDirectory && st.getPath.getName.startsWith("batch="))
  }

  /** Left(plainId) | Right(mergedWatermark). A `batch=` dir whose name
    * is NEITHER a plain batch id nor an exact m-shard name is a loud
    * error (the postings layout-mix precedent): an additive channel
    * that silently READ a foreign dir would double-count, and one that
    * silently SKIPPED it would drop data — both invisible. Fail fast
    * and name the path so the operator moves or deletes it. */
  private def shardId(path: org.apache.hadoop.fs.Path): Either[Long, Long] = {
    val v = path.getName.stripPrefix("batch=")
    MergedShardRe.findFirstMatchIn(v) match {
      case Some(m) => Right(m.group(1).toLong)
      case None => v.toLongOption.map(Left(_)).getOrElse(
        throw new IllegalStateException(
          s"foreign shard dir under an additive channel root: $path " +
          "(expected batch=<long> or batch=m<hex>u<long>; move or " +
          "delete it — reading it could double-count, skipping it " +
          "could drop data)"))
    }
  }

  /** Highest batch id folded into a COMPLETE merged shard of `table`
    * (None when never compacted). */
  def watermark(spark: SparkSession, table: String): Option[Long] = {
    val (fs, _) = fsOf(spark, table)
    shardDirs(spark, table)
      .filter(st => fs.exists(
        new org.apache.hadoop.fs.Path(st.getPath, "_SUCCESS")))
      .map(st => shardId(st.getPath))
      .collect { case Right(w) => w }.maxOption
  }

  /** [[claim]] for the batch appenders of a compactable additive
    * channel: None when the batch must be SKIPPED — its shard already
    * complete (plain replay) or its id at/below the merged watermark
    * (replay of a compaction-consumed batch) — else the shard path to
    * write. */
  private def claimBatch(spark: SparkSession, table: String,
                         batchId: Long): Option[String] = {
    if (watermark(spark, table).exists(batchId <= _)) return None
    val shard = s"$table/batch=$batchId"
    if (claim(spark, shard)) Some(shard) else None
  }

  /** The serving read of a compactable channel: the SINGLE
    * max-watermark m-shard plus complete plain shards ABOVE that
    * watermark. Both exclusions close a compaction crash window:
    *  - plain shards at/below the watermark are consumed leftovers
    *    (death between the merged rename and the plain-dir deletes);
    *  - m-shards BELOW the max watermark are superseded leftovers
    *    (death between a re-compaction's rename and the OLD m-shard's
    *    delete) — each compaction consumes the previous m-shard and
    *    strictly raises the watermark, so reading both would
    *    double-count every row of the old one.
    * Missing table → zero rows of the schema. */
  def readShards(spark: SparkSession, table: String,
                 schema: String): org.apache.spark.sql.DataFrame = {
    val (fs, _) = fsOf(spark, table)
    val complete = shardDirs(spark, table).filter(st => fs.exists(
      new org.apache.hadoop.fs.Path(st.getPath, "_SUCCESS")))
    val ids = complete.map(st => st -> shardId(st.getPath))
    val wm = ids.collect { case (_, Right(w)) => w }.maxOption
    require(wm.isEmpty || ids.count { case (_, Right(w)) => wm.contains(w)
                                      case _ => false } == 1,
      s"two complete m-shards share watermark ${wm.get} under $table — " +
      "ambiguous channel state (compaction never produces ties); " +
      "refusing to read")
    val live = ids.collect {
      case (st, Left(id)) if wm.forall(id > _) => st
      case (st, Right(w)) if wm.contains(w) => st
    }
    if (live.isEmpty) empty(spark, schema)
    else spark.read.schema(schema)
      .parquet(live.map(_.getPath.toString): _*)
  }

  /** Consume a channel's COMPLETE shards only — the channel-deletion
    * half of the tombstone folds. Deleting the whole channel ROOT
    * would also destroy a concurrently in-flight append (a claimed
    * dir with no `_SUCCESS` yet — its tombstones were NOT folded);
    * deleting just the complete dirs — plain and merged, exactly what
    * the fold's read covered directly or via the watermark — leaves
    * the in-flight writer untouched: its shard commits into the
    * surviving channel and the next fold consumes it. Replays of
    * already-consumed batches are safe by the channels' SET semantics
    * (a re-appended tombstone anti-joins rows that no longer exist).
    * The root goes too once nothing survives under it. */
  def consumeCompleteShards(spark: SparkSession, table: String): Unit = {
    val (fs, root) = fsOf(spark, table)
    if (!fs.exists(root)) return
    shardDirs(spark, table).foreach { st =>
      if (fs.exists(new org.apache.hadoop.fs.Path(st.getPath, "_SUCCESS")))
        fs.delete(st.getPath, true)
    }
    if (fs.listStatus(root).isEmpty) fs.delete(root, true)
  }

  /** Fold `table`'s live shards into ONE merged m-shard. `merge` is the
    * channel's re-aggregation (count sums; identity for doc-disjoint
    * rows; distinct for id sets). Returns (shards in, shards out);
    * ≤ 1 live shard is a no-op. Loss-proof order: recovery preamble
    * (stale staging + consumed leftovers deleted) → merged rows to the
    * hidden staging dir → atomic rename into place → consumed dirs
    * deleted. */
  def compactShards(spark: SparkSession, table: String, schema: String)(
      merge: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame)
      : (Int, Int) = {
    val (fs, root) = fsOf(spark, table)
    val staging = new org.apache.hadoop.fs.Path(root, "_compacting")
    if (fs.exists(staging)) fs.delete(staging, true)
    // recovery preamble: a crash after a previous rename left CONSUMED
    // dirs behind — plain shards at/below the watermark AND superseded
    // m-shards below the max watermark. The watermark proves their
    // content is inside the surviving m-shard, so deleting them is safe
    // (readers already skip them).
    val wm = watermark(spark, table)
    shardDirs(spark, table).foreach { st =>
      shardId(st.getPath) match {
        case Left(id) if wm.exists(id <= _) => fs.delete(st.getPath, true)
        case Right(w) if wm.exists(w < _) => fs.delete(st.getPath, true)
        case _ => ()
      }
    }
    val complete = shardDirs(spark, table).filter(st => fs.exists(
      new org.apache.hadoop.fs.Path(st.getPath, "_SUCCESS")))
    if (complete.length <= 1) return (complete.length, complete.length)
    val maxB = complete.map(st => shardId(st.getPath))
      .map { case Left(id) => id; case Right(w) => w }.max
    merge(spark.read.schema(schema)
        .parquet(complete.map(_.getPath.toString): _*))
      .write.parquet(staging.toString)
    val stamp = java.lang.Long.toHexString(System.nanoTime())
    val target = new org.apache.hadoop.fs.Path(root, s"batch=m${stamp}u$maxB")
    require(fs.rename(staging, target),
      s"compaction rename failed: $staging -> $target")
    complete.foreach(st => fs.delete(st.getPath, true))
    (complete.length, shardDirs(spark, table).length)
  }

  /** Write `rows` as `table/batch=<batchId>` under [[claimBatch]].
    * Returns false, writing nothing, when the batch is a replay. */
  def appendBatch(table: String, batchId: Long, rows: DataFrame): Boolean =
    claimBatch(rows.sparkSession, table, batchId) match {
      case None => false
      case Some(shard) => rows.write.parquet(shard); true
    }

  /** One batch of a doc-id tombstone channel: the distinct values of
    * `id` appended to `table` ([[appendBatch]]). Tombstone channels
    * have SET semantics, so their compaction merge is `distinct`. */
  def appendIds(ids: DataFrame, id: Column, table: String,
                batchId: Long): Boolean =
    appendBatch(table, batchId, ids.select(id).distinct())

  /** PHYSICAL tombstone fold for a table whose rows are dropped by a
    * doc-id tombstone channel (`doc_id LONG` shards at `retirePath`):
    * `table` compacts with `drop(rows, retiredIds)` as the merge, so the
    * loss-proof commit order and the strictly-increasing watermark come
    * from [[compactShards]], then the channel is consumed. With fewer
    * than two live shards there is nothing to compact and the fold
    * WAITS (returns false, channel kept — read-time subtraction stays
    * correct) for the next ingest cadence. The consume deletes only the
    * COMPLETE shards the fold's read covered ([[consumeCompleteShards]]):
    * a concurrently in-flight tombstone append survives for the next
    * fold, and replays of consumed batches are safe by set semantics (a
    * re-appended tombstone drops rows that no longer exist). Returns
    * true iff the fold consumed the channel. */
  def foldRetired(spark: SparkSession, table: String, schema: String,
                  retirePath: String)(
      drop: (DataFrame, DataFrame) => DataFrame): Boolean = {
    val (fs, retP) = fsOf(spark, retirePath)
    if (!fs.exists(retP)) return false
    val gone = readShards(spark, retirePath, "doc_id LONG").persist()
    try {
      if (gone.head(1).isEmpty) {
        consumeCompleteShards(spark, retirePath); return false
      }
      val (in, _) = compactShards(spark, table, schema)(drop(_, gone))
      if (in <= 1) return false // nothing to compact — wait for ingest
      consumeCompleteShards(spark, retirePath)
      true
    } finally gone.unpersist()
  }

  /** An ADDITIVE COUNT CHANNEL: per-batch count shards at `ingestTable`
    * and tombstone counts at `retireTable`, both `schema` (DDL), keyed
    * by `keys`; every other column is a count measure. A family supplies
    * its per-batch `(keys, measures)` rows and reads [[netted]]; the
    * storage policy lives here:
    *  - [[append]]/[[retire]] write one `_SUCCESS`-claimed shard per
    *    batch ([[appendBatch]]): replays skip, torn shards heal, and a
    *    batch whose claim never completed is invisible to every read.
    *    All of a batch's rows land in ONE shard, so a family needing
    *    several count tables per batch tags its rows with a kind key
    *    and gets all-or-nothing batches for free.
    *  - [[netted]] reads both tables through the watermark rule
    *    ([[readShards]]) and sums ingest − retire per key. Counts are
    *    exact integers, so the netted table equals a recount over the
    *    retained corpus.
    *  - [[compact]] folds each table to one m-shard, measures re-summed
    *    per key ([[compactShards]]); netted reads are bit-stable across
    *    it. Retire batch ids are their own namespace. */
  final case class CountChannel(ingestTable: String, retireTable: String,
                                schema: String, keys: Seq[String]) {
    private val measures = org.apache.spark.sql.types.StructType
      .fromDDL(schema).fieldNames.toSeq.filterNot(keys.contains)

    def append(batchId: Long, rows: DataFrame): Boolean =
      appendBatch(ingestTable, batchId, rows)

    def retire(batchId: Long, rows: DataFrame): Boolean =
      appendBatch(retireTable, batchId, rows)

    /** ingest − retire summed per key; a row with no positive measure
      * left (netted to zero: its documents were all retired) drops. */
    def netted(spark: SparkSession): DataFrame =
      resum(readShards(spark, ingestTable, schema)
          .unionByName(readShards(spark, retireTable, schema)
            .select(keys.map(col) ++ measures.map(m => (-col(m)).as(m)): _*)))
        .where(measures.map(m => col(m) > 0).reduce(_ || _))

    /** Fold each table to one merged m-shard: (ingest, retire) pairs of
      * (shards in, shards out). */
    def compact(spark: SparkSession): ((Int, Int), (Int, Int)) =
      (compactShards(spark, ingestTable, schema)(resum),
        compactShards(spark, retireTable, schema)(resum))

    private def resum(df: DataFrame): DataFrame = {
      val sums = measures.map(m => sum(col(m)).as(m))
      df.groupBy(keys.map(col): _*).agg(sums.head, sums.tail: _*)
    }
  }
}
