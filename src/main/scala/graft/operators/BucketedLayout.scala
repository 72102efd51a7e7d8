package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Hash-bucketed physical layouts for repeated co-located joins and
  * bucket-key aggregation (builder brief: "broadcast() for small dims,
  * repartition()/bucketing for co-located joins"; "reuse a partitioning
  * across stages").
  *
  * The corpus-scale routing happens at WRITE time — and it is not even
  * a shuffle: each write task fans its rows out into per-bucket files
  * locally (0 shuffle bytes, SCALE.md `bucket_join` row), and the
  * bucket spec is recorded in the session catalog. Every LATER
  * equi-join between two tables bucketed `buckets`-ways on their join
  * keys — and every aggregation whose grouping keys start with the
  * bucket key — satisfies its `ClusteredDistribution` straight off the
  * scan, so the plan has NO `Exchange` under the join/aggregate
  * (`PlanQualitySpec` pins this mechanically). At 100 TB that turns the
  * dominant cost of a doc_id-keyed star (documents ⋈ embeddings ⋈
  * scores, re-joined every pipeline run) from a full-corpus shuffle PER
  * RUN into zero.
  *
  * The trade the shuffle-free write makes is FILE COUNT: every task
  * writes one file per bucket it sees, so an unrouted write yields up
  * to tasks × buckets files — fine at probe scale, millions of files at
  * 1000-executor scale. `oneFilePerBucket` pays one
  * `repartition(buckets, key)` shuffle at write time to land exactly
  * one file per bucket (the repartition hash is the bucket hash when
  * numPartitions == buckets, so each task holds exactly one bucket's
  * rows) — the standard hygiene for a long-lived layout.
  *
  * Point lookups get the same leverage from BUCKET PRUNING: an
  * equality predicate on the bucket column reads 1/`buckets` of the
  * files (`SelectedBucketsCount: 1 out of N` on the scan), which is the
  * serving-path read bound a keyed lake table needs without an index.
  *
  * `sortBy(key)` additionally orders rows inside each bucket file so
  * parquet row-group min/max stats tighten per-key skipping within the
  * selected bucket.
  *
  * Bucket metadata lives in the catalog, not the files — reading the
  * same directory via `spark.read.parquet` yields a plain un-bucketed
  * scan. That is Spark's own contract (hive-style bucketing): consumers
  * go through `spark.table`.
  */
object BucketedLayout {

  /** Write `df` as a `buckets`-way hash-bucketed, bucket-sorted parquet
    * table named `table` in the session catalog (files under the
    * warehouse dir). The write itself is shuffle-free (task-local
    * bucket fan-out) unless `oneFilePerBucket` trades one write-time
    * repartition for exactly `buckets` files; every later co-bucketed
    * equi-join or bucket-key aggregation over `spark.table(table)` is
    * exchange-free. */
  def writeBucketed(df: DataFrame, table: String, key: String,
                    buckets: Int, oneFilePerBucket: Boolean = false): Unit = {
    val spark = df.sparkSession
    // a managed table's warehouse dir can outlive the in-memory catalog
    // of the JVM that wrote it; without the catalog entry the dir is an
    // unreadable orphan (bucket metadata lives in the catalog), and
    // CTAS refuses the occupied location — clear it first
    spark.sql(s"DROP TABLE IF EXISTS `$table`")
    val loc = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"), table.toLowerCase)
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(loc)) fs.delete(loc, true)
    val routed =
      if (oneFilePerBucket)
        df.repartition(buckets, org.apache.spark.sql.functions.col(key))
      else df
    routed.write.mode("overwrite").format("parquet")
      .bucketBy(buckets, key).sortBy(key)
      .saveAsTable(table)
  }

  /** A keyed read over a bucketed table with bucket pruning FORCED into
    * the materialized plan — the serving-path point lookup.
    *
    * Spark 4's `DisableUnnecessaryBucketedScan` rule no longer exempts
    * filter-pruned scans (3.x kept any scan whose bucket set was
    * non-empty; the 4.1 rule has no such carve-out), so a bare equality
    * filter on the bucket key plans as a plain file scan that LISTS AND
    * READS every bucket file — buckets× the IO bound a keyed lookup
    * should pay. This helper flips
    * `spark.sql.sources.bucketing.autoBucketedScan.enabled` off for
    * just the planning window and forces the physical plan eagerly, so
    * the returned DataFrame's memoized plan carries the
    * `SelectedBucketsCount: 1 out of N` scan; `collect()` at the API
    * edge reuses it. The conf is restored before returning (the flip is
    * visible to concurrent planners in the same session for that
    * window — serving endpoints plan one query at a time). A lookup
    * plan has no exchange, so AQE never re-plans it. */
  def pointLookup(spark: SparkSession, table: String)
                 (q: DataFrame => DataFrame): DataFrame = {
    val key = "spark.sql.sources.bucketing.autoBucketedScan.enabled"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "false")
    try {
      val df = q(spark.table(table))
      df.queryExecution.executedPlan // memoize the pruned plan
      df
    } finally spark.conf.set(key, prev)
  }

  /** `spark.table(table)`, building it with [[writeBucketed]] first if
    * this session's catalog doesn't have it yet — the registry-query
    * idiom for a layout that production would write once at ingest.
    * Callers key `table` on a corpus fingerprint so a changed input
    * never serves a stale layout. */
  def ensureBucketed(spark: SparkSession, table: String, key: String,
                     buckets: Int)(build: => DataFrame): DataFrame = {
    if (!spark.catalog.tableExists(table))
      writeBucketed(build, table, key, buckets)
    spark.table(table)
  }
}
