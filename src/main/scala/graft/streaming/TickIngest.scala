package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.{StructField, StructType}
import graft.normalize.Normalize
import graft.Tables

/** T1/T2 — streaming tick ingest (SURVEY.md §2.8; reference
  * `pipeline/warehouse.py:113-165`, duplicated `test.py:8-59`):
  * Kafka source → `from_json(value, tickSchema)` → flatten → normalize →
  * lake append.
  *
  * The parse/normalize stage is a plain `DataFrame => DataFrame`, so the
  * SAME code runs on a batch frame (unit tests, backfill) and a streaming
  * frame (`readStream`) — Structured Streaming's incrementalization is
  * Catalyst's job, not ours. The reference's per-row Cassandra insert
  * (`test.py:42-51`, one connection per row inside the executor) becomes
  * `foreachBatch` + partitioned parquet append: per-micro-batch, columnar,
  * idempotent via (symbol, time) dedup inside the batch.
  */
object TickIngest {

  /** Kafka-shaped source → typed tick rows. Input contract: a `value`
    * column (binary or string) holding one JSON tick message
    * (FIXTURES.md A3). The reference's undefined-`schema` NameError
    * (`warehouse.py:143`) is resolved to the evident 11-field intent. */
  def parseTicks(raw: DataFrame): DataFrame =
    raw.select(from_json(col("value").cast("string"), Normalize.tickSchema).as("t"))
      .select(col("t.*"))
      .select(
        col("symbol"), col("time"),
        col("open"), col("high"), col("low"), col("close"),
        Normalize.toLongCol(col("volume")).as("volume"),
        Normalize.toDoubleCol(col("previous_close")).as("previous_close"),
        Normalize.toDoubleCol(col("ref")).as("ref"),
        Normalize.toDoubleCol(col("ceil")).as("ceil"),
        Normalize.toDoubleCol(col("floor")).as("floor"))

  /** Kafka streaming source (S3). Caller owns broker config; tests drive
    * [[parseTicks]] through MemoryStream instead of a broker. */
  def kafkaSource(spark: SparkSession, brokers: String, topic: String): DataFrame =
    spark.readStream.format("kafka")
      .option("kafka.bootstrap.servers", brokers)
      .option("subscribe", topic)
      .load()

  /** S4 — Kafka sink framing (reference `producer.py:105-133` sent
    * Python-repr bytes; we standardize on JSON): any tick-shaped frame →
    * (key, value) Kafka frame, ready for `.write.format("kafka")` or
    * `writeStream.format("kafka")`. Keyed by symbol so one symbol's
    * messages stay ordered within a partition. */
  def toKafkaFrame(df: DataFrame): DataFrame =
    df.select(col("symbol").cast("string").as("key"),
      to_json(struct(df.columns.map(col): _*)).as("value"))

  /** Idempotent micro-batch append — the unit [[startLakeSink]] runs per
    * batch, factored out so the replay contract is directly testable
    * ([[graft.StreamingSpec]] appends the same batch twice and asserts
    * no duplicates).
    *
    * Exactly-once to the lake under at-least-once delivery AND batch
    * replay: dedup (symbol, time) within the batch, then anti-join
    * against the keys ALREADY in the target before appending — the
    * reference's Cassandra PRIMARY-KEY upsert semantics
    * (`warehouse.py:148-162`), which made its sink accidentally
    * idempotent, made deliberate. A crash between the parquet append and
    * the checkpoint commit replays the batch; without the anti-join the
    * replay duplicates every row.
    *
    * Scale shape: the existing-keys read is ONE relation over the
    * batch's symbol partition directories (O(batch symbols) discovery
    * per batch — a whole-lake `read.parquet(root)` would re-list every
    * file ever written each trigger, and a 10 s-cadence sink falls
    * behind once the lake holds 10⁵+ files), listed once on the driver
    * by [[Tables.parquet]] with `basePath` at the lake root and `symbol`
    * typed as the batch's column, so the scan starts no listing or
    * schema job, and the symbols' small files pack into a few scan
    * tasks instead of one read (and at least one task) per symbol.
    * Only (symbol, time) key columns are read, filtered to the batch's
    * [min, max] event-time range. That filter does NOT prune files or
    * row groups: the lake writes `time` as INT96 (Spark's default
    * `outputTimestampType`), and Spark builds no parquet row-group
    * filter on an INT96 column, so every existing row of the touched
    * symbols is read and then filtered. A symbol directory that does
    * not exist yet (first batch for that symbol, or a brand-new lake)
    * contributes nothing; any OTHER filesystem/read error PROPAGATES —
    * swallowing it would silently disable idempotence for the batch.
    * Null keys still dedup: the anti-join is null-safe on both columns
    * and null event times pass the time-range filter, so a replayed
    * null-keyed row cannot re-append forever. The batch is persisted
    * across its consumers and unpersisted after the write.
    *
    * Returns the batch's `symbol=` partition dir names (Spark-escaped,
    * root-relative) — the write's touched set, which the snapshot sink
    * commits so manifest maintenance stays O(batch symbols), never a
    * whole-lake re-list. Empty batch → Nil. */
  def appendBatchIdempotent(batch: DataFrame, path: String): Seq[String] = {
    val spark = batch.sparkSession
    val b = batch.dropDuplicates("symbol", "time").persist()
    try {
      // one probe job: row count, distinct symbols (collect_set drops
      // null, hence the flag) and the event-time bounds of the key read
      val probe = b.agg(count(lit(1)), collect_set(col("symbol")),
        max(col("symbol").isNull), min(col("time")), max(col("time"))).head()
      if (probe.getLong(0) == 0L) return Nil
      // partition dir names use Spark's OWN escaping (a raw "symbol=$s"
      // misses any symbol containing '=', '/', '%', … — fs.exists comes
      // back false and the idempotence anti-join silently disappears for
      // that symbol); null symbols land in Hive's default partition
      import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
      val symType = b.schema("symbol").dataType
      val syms: Seq[Option[String]] =
        probe.getSeq[Any](1).map(v => Some(String.valueOf(v))) ++
          (if (probe.getBoolean(2)) Seq(None) else Nil)
      val root = new org.apache.hadoop.fs.Path(path)
      val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val allDirs = syms.map { s =>
        val dirName = "symbol=" + s.map(ExternalCatalogUtils.escapePathName)
          .getOrElse(ExternalCatalogUtils.DEFAULT_PARTITION_NAME)
        new org.apache.hadoop.fs.Path(root, dirName)
      }
      val touched = allDirs.filter(fs.exists)
      val fresh =
        if (touched.isEmpty) b
        else {
          // an all-null-time batch still appends (and still dedups on
          // the null key) — min(time)=null must NOT read as "empty"
          val timePred =
            if (probe.isNullAt(3)) col("time").isNull
            else col("time").isNull ||
              col("time").between(lit(probe.get(3)), lit(probe.get(4)))
          // `symbol` typed as the batch column: untyped partition
          // discovery coerces numeric-looking values ("005930" reads
          // back as 5930, and the replay key silently stops matching);
          // the Hive default partition reads back as null
          val existingKeys = Tables.parquet(spark, touched.map(_.toString),
              Map("basePath" -> path), StructType(Seq(StructField("symbol", symType))))
            .where(timePred)
            .select(col("symbol").as("_ek_symbol"), col("time").as("_ek_time"))
          b.join(existingKeys,
            col("symbol") <=> col("_ek_symbol") &&
              col("time") <=> col("_ek_time"),
            "left_anti")
        }
      fresh.write.mode("append").partitionBy("symbol").parquet(path)
      allDirs.map(_.getName)
    } finally b.unpersist()
  }

  /** T2 sink: micro-batch append to a symbol-partitioned lake path via
    * [[appendBatchIdempotent]] — deduped on (symbol, time) within each
    * batch AND against the target, so at-least-once upstream and
    * crash-replayed batches both land exactly-once in the lake.
    *
    * `compactEvery` > 0 runs [[LakeMaintenance.compactLake]] every
    * that-many batches INSIDE foreachBatch — between this stream's own
    * appends, which is exactly the "pause the sink for the touched
    * symbols" window the compaction contract asks for (a 10 s cadence
    * otherwise accretes ~8.6k files/symbol/day unboundedly). The
    * replay-dedup anti-join reads the compacted keys like any others
    * ([[graft.StreamingSpec]] pins rows + idempotence across a
    * compaction).
    *
    * `snapshots` = true additionally maintains [[Snapshot]] manifests
    * over the lake root: each batch commits a reconciling re-list of
    * ONLY its touched `symbol=` partitions (returned by the append — a
    * whole-root re-list every 10 s would grow with lake size), and
    * compaction retires replaced files instead of deleting, so
    * concurrent external readers can pin a version across maintenance
    * windows. A crash between append and commit heals because the
    * replayed batch touches the same partitions. */
  def startLakeSink(parsed: DataFrame, path: String, checkpoint: String,
                    trigger: Trigger = Trigger.ProcessingTime("10 seconds"),
                    compactEvery: Int = 0,
                    snapshots: Boolean = false,
                    snapshotKeepVersions: Int = 0): StreamingQuery = {
    require(snapshotKeepVersions == 0 || (snapshots && compactEvery > 0),
      "snapshotKeepVersions needs snapshots=true and compactEvery > 0 — " +
        "vacuum runs in the compaction maintenance window")
    parsed.writeStream
      .outputMode("append")
      .trigger(trigger)
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        if (snapshots) Snapshot.init(spark, path)
        val touched = appendBatchIdempotent(batch, path)
        if (snapshots && touched.nonEmpty)
          Snapshot.commit(spark, path, touched)
        if (compactEvery > 0 && batchId % compactEvery == compactEvery - 1) {
          LakeMaintenance.compactLake(spark, path,
            snapshotRoot = if (snapshots) Some(path) else None)
          // retention in the same window — without a vacuum cadence the
          // _stale trees grow without bound
          if (snapshotKeepVersions > 0)
            Snapshot.vacuum(spark, path, snapshotKeepVersions)
        }
        ()
      }
      .start()
  }
}
