package graft.functions

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Fixed-iteration PageRank over the near-dup similarity graph — the
  * graph-analytics companion to the pairs→components machinery in
  * [[Dedup]] (min-label / large-star CC): where CC answers "which docs
  * form one duplicate cluster", PageRank answers "which docs are the
  * HUBS of the similarity structure" (centrality for curation: a
  * template page near-dup-linked to thousands of spun variants
  * out-ranks an organic page with two neighbors).
  *
  * Page, Brin et al. 1999, the standard damped formulation on the
  * UNDIRECTED pair graph (each pair contributes both directions, so
  * every vertex has out-degree ≥ 1 — no dangling-mass correction
  * needed): r₀ = 1/N; rᵢ₊₁(v) = (1−d)/N + d·Σ_{u→v} rᵢ(u)/out(u),
  * a FIXED iteration count so the result is deterministic and
  * SQL-expressible (the oracle unrolls the same iterations — no
  * convergence test, no float-threshold divergence between engines).
  *
  * Scale shape: the degree-annotated edge list is hash-partitioned by
  * `src` ONCE and persisted — every iteration's contribution join
  * reuses both the rows and the partitioning (the builder brief's
  * "reuse a partitioning across stages"), so an iteration costs one
  * shuffle (the per-dst inflow aggregation, one 16-byte contribution
  * row per directed edge) plus a co-partitioned join, and
  * `localCheckpoint` truncates the accumulated lineage. Ranks are
  * |V|-scale rows, edges |E|-scale; nothing corpus-scale ever sits on
  * the driver. docs/SCALE.md's `pagerank` row measured cost linear in
  * the iteration count and shuffle ∝ |E| at millions of edges.
  */
object GraphRank {

  /** Iterations between [[pageRank]]'s lineage truncations (the final
    * iteration always truncates). The nested iteration plan grows
    * LINEARLY (each level adds one join + one aggregation over the same
    * cached edge scan), so cadence is a planning-time/fault-recovery
    * choice, not a data-path one. Measured r18 under the minimal
    * iteration body, interleaved min-of-3 at sf0.1 (docs/SCALE.md,
    * `pagerank` row): every-2 won in every round (2.20 s / 36 jobs vs
    * every-1 2.96 s / 39, every-4 2.88 s, every-8 3.14 s, final-only
    * 3.10 s) — one materialization buys two iterations' lineage, while
    * deeper chains pay more re-optimization than they save. Ranks were
    * bit-identical across all five cadences: truncation changes where
    * the plan is cut, not any arithmetic. */
  private val CheckpointEvery = 2

  /** PageRank over an undirected pair list (`aCol`, `bCol`) — returns
    * (node, rank). `pairs` must be deduplicated (one row per unordered
    * pair), which [[Dedup.minhashPairs]]'s `doc_a < doc_b` output is by
    * construction. Lineage is truncated every [[CheckpointEvery]]
    * iterations. */
  def pageRank(pairs: DataFrame, aCol: String, bCol: String,
               iters: Int = 8, damping: Double = 0.85): DataFrame = {
    require(iters >= 1, "pageRank needs at least one iteration")
    // persist the PAIR list before mirroring: the union's two branches
    // would otherwise each recompute the caller's pair pipeline (for
    // the near-dup graph that is the whole minhash stack, twice)
    val prs = pairs.select(col(aCol).as("a"), col(bCol).as("b"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val edges = prs.select(col("a").as("src"), col("b").as("dst"))
      .union(prs.select(col("b").as("src"), col("a").as("dst")))
      .repartition(col("src"))
    val deg = edges.groupBy("src").agg(count(lit(1)).as("out"))
    // cache the degree-annotated edge list ONCE, partitioned by src:
    // every iteration's contribution join reuses both the rows and the
    // partitioning (re-deriving deg + the join per round costs an
    // aggregation over |E| each iteration for no new information)
    val withDeg = edges.join(deg, "src")
      .persist(StorageLevel.MEMORY_AND_DISK)
    // |V| and the rank-0 frame both come from `deg` (one row per
    // vertex) — the separate nodes.distinct() cache the r16 shape kept
    // was a second |V|-shuffle per call for rows deg already has
    val n = deg.count() // one |V| scalar for the teleport term
    var ranks = deg.select(col("src").as("node"), lit(1.0 / n).as("rank"))
    for (i <- 1 to iters) {
      // the mirror above gives every vertex out-degree ≥ 1 AND
      // in-degree ≥ 1, so the inflow aggregation below covers every
      // vertex — the per-iteration `nodes LEFT JOIN inflow` the r16
      // shape carried (one more |V|-scale join + exchange per round)
      // was a no-op: coalesce(inflow, 0) could never fire on the
      // mirrored edge set this function always builds. The teleport
      // arithmetic is unchanged — (1−d)/n + d·Σc, same IEEE op order
      // as the oracle’s unrolled CTEs ([[pageRankOracleSql]]).
      ranks = withDeg
        .join(ranks.withColumnRenamed("node", "src"), "src")
        .select(col("dst").as("node"), (col("rank") / col("out")).as("c"))
        .groupBy("node")
        .agg((lit((1 - damping) / n) +
          lit(damping) * sum(col("c"))).as("rank"))
      // the FINAL iteration always materializes: the returned frame is
      // a checkpoint scan, so unpersisting the edge cache below cannot
      // push a minhash recompute into the caller's action
      if (i == iters || i % CheckpointEvery == 0)
        ranks = ranks.localCheckpoint(true) // truncate accumulated lineage
    }
    prs.unpersist(); withDeg.unpersist()
    ranks
  }

  /** INCREMENTAL GRAPH MAINTENANCE — append one batch's PAIR shard
    * under the `_SUCCESS` claim discipline ([[ShardWrite.claim]], the
    * `q_cms_incr`/`q_dsir_incr` pattern): a replayed batch id skips
    * (idempotent by construction), a torn shard (writer died
    * mid-commit, no `_SUCCESS`) is deleted and rewritten. PageRank has
    * no exact additive update — a new edge redistributes rank globally
    * — so what the online form maintains is the EDGE SET, O(batch) per
    * append, and the rank derives at read over the shard union
    * ([[pageRankFromPairs]]), where it is pinned to the batch-recompute
    * result. Caller contract (same as [[pageRank]]'s dedup contract):
    * each unordered pair lands in EXACTLY ONE shard — true when
    * batches mine disjoint pair sets, or when a backfill splits the
    * pair set by a hash of the pair. Returns false iff the shard
    * already existed (replay). */
  def pairsAppend(pairs: DataFrame, aCol: String, bCol: String,
                  dir: String, batchId: Long): Boolean =
    edges(dir).append(batchId,
      pairs.select(col(aCol).as("doc_a"), col(bCol).as("doc_b")))

  /** The maintained edge set: `$dir/pairs` rows, tombstoned at
    * `$dir/retire`, where an edge belongs to both of its documents. */
  private def edges(dir: String) = ShardWrite.SetChannel(s"$dir/pairs",
    s"$dir/retire", "doc_a LONG, doc_b LONG", Seq("doc_a", "doc_b"))

  /** MAINTENANCE for the graph channels ([[ShardWrite.SetChannel.compact]]):
    * pairs fold by plain union — the disjoint-pair caller contract; a
    * DISTINCT would mask a contract violation, so it is deliberately
    * not applied — and tombstones by distinct (set semantics). Replays
    * of consumed batches skip at the watermark; reads are
    * double-count-free across the crash window by the above-watermark
    * rule. */
  def compactPairShards(spark: org.apache.spark.sql.SparkSession,
                        dir: String): ((Int, Int), (Int, Int)) =
    edges(dir).compact(spark)

  /** Rank derived at read over the accumulated pair shards — the
    * serving half of [[pairsAppend]]: one pruned scan of the fixed-width
    * (doc_a, doc_b) shard union, minus the edges touching a tombstoned
    * doc ([[readRetainedPairs]], a [[ShardWrite.SetChannel]] read),
    * into the SAME [[pageRank]] iteration (so the incrementally-
    * maintained result shares `q_pagerank`'s oracle SQL, and its
    * retained-corpus form under tombstones; [[graft.GraphRankSpec]]
    * additionally pins it to a batch recompute over the union). The scan replaces the most expensive input in the
    * bench family — re-mining the minhash pair graph — with a read of
    * what previous batches already mined. */
  def pageRankFromPairs(spark: org.apache.spark.sql.SparkSession,
                        dir: String, iters: Int = 8,
                        damping: Double = 0.85): DataFrame =
    pageRank(readRetainedPairs(spark, dir), "doc_a", "doc_b", iters, damping)

  /** The accumulated pair-shard union. Schema is EXPLICIT: a shard
    * written from an empty batch (quiet day / empty partition replay)
    * carries `_SUCCESS` but no data files, and schema inference over an
    * all-empty dir would throw instead of returning zero edges. */
  def readPairShards(spark: org.apache.spark.sql.SparkSession,
                     dir: String): DataFrame =
    ShardWrite.readShards(spark, s"$dir/pairs", "doc_a LONG, doc_b LONG")

  /** TOMBSTONES for the maintained edge set — the retire channel on
    * the graph family: `$dir/retire/batch=<id>` holds the doc_ids
    * leaving the corpus, appended under the same `_SUCCESS` claim
    * discipline as the pair shards (replay-idempotent, torn shards
    * healed). Pair existence is PAIRWISE under the minhash miner (a
    * pair's bands depend only on its two documents), so dropping every
    * edge that touches a tombstoned doc — [[readRetainedPairs]] — is
    * EXACTLY the pair set a re-mine over the retained corpus would
    * produce; `q_pagerank_retire` pins the derived rank to that
    * retained-set oracle. Returns false iff the shard already existed
    * (replay). */
  def retireAppend(docIds: DataFrame, idCol: String, dir: String,
                   batchId: Long): Boolean =
    edges(dir).retire(batchId, docIds, col(idCol))

  /** PHYSICAL tombstone fold for the edge list — the maintenance
    * completion of [[retireAppend]]: [[readRetainedPairs]] pays two
    * anti-joins against a tombstone set that grows with takedown
    * history; the fold drops every edge touching a tombstoned doc from
    * the BYTES and consumes the channel ([[ShardWrite.SetChannel.fold]]:
    * loss-proof commit order, and the fold WAITS while the pair table
    * has fewer than two live shards). Returns true iff the fold
    * consumed the channel. */
  def foldRetiredPairs(spark: org.apache.spark.sql.SparkSession,
                       dir: String): Boolean =
    edges(dir).fold(spark)

  /** [[readPairShards]] minus every edge touching a tombstoned doc
    * ([[ShardWrite.SetChannel.retained]]) — the retained-set edge view
    * both graph serves (PageRank, CC) read. Two anti-joins on the
    * (usually small) tombstone side; AQE broadcasts it below the
    * threshold, hash-partitions past it. No tombstones → the plain
    * read. */
  def readRetainedPairs(spark: org.apache.spark.sql.SparkSession,
                        dir: String): DataFrame =
    edges(dir).retained(spark)

  // ---- STORED-RANK serving artifact --------------------------------
  //
  // PageRank was the only maintained family whose SERVE re-ran the
  // corpus-scale job: BM25 serves from stored tf/dl, ANN from stored
  // codes, DSIR/NB from stored count-derived models — but
  // [[pageRankFromPairs]] re-iterates 8 rounds over the shard union at
  // every read. The rank store applies the `q_bm25_stored` /
  // `q_dsir_stored` discipline to the graph family: ranks compute ONCE
  // per edge-STATE fingerprint in the maintenance window, persist as a
  // |V|-scale parquet table, and the serve is a scan (top-k under
  // TakeOrderedAndProject) with ZERO iteration joins in the plan.
  //
  // Staleness contract: the fingerprint covers the pair shards AND the
  // retire channel (file names + lengths + mtimes of every complete
  // shard), so an append or a takedown invalidates the artifact and
  // the next [[refreshRankStore]] — the maintenance-window call —
  // recomputes over the RETAINED edge view. The serve itself NEVER
  // falls back to the iterative job: a missing or stale artifact
  // throws loudly and names the refresh as the recovery (the
  // `_fold_fence` fail-fast discipline — silently re-iterating would
  // hide an unbounded cost regression behind a correct answer).

  private def fsOf(spark: org.apache.spark.sql.SparkSession, path: String) = {
    val p = new org.apache.hadoop.fs.Path(path)
    (p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
  }

  /** Fingerprint of the maintained edge STATE (pairs + tombstones):
    * hex of a fold over every complete shard's file names, lengths
    * and mtimes. Cheap (two listings), deterministic, and any append,
    * takedown, compaction or fold changes it. */
  def edgeStateFingerprint(spark: org.apache.spark.sql.SparkSession,
                           dir: String): String = {
    def fold(sub: String): Long = {
      val (fs, p) = fsOf(spark, s"$dir/$sub")
      if (!fs.exists(p)) 0L
      else {
        val it = fs.listFiles(p, true)
        var acc = 0L
        while (it.hasNext) {
          val f = it.next()
          acc += f.getPath.getName.hashCode * 31L +
            f.getLen * 17L + f.getModificationTime
        }
        acc
      }
    }
    java.lang.Long.toHexString(fold("pairs") * 13L + fold("retire"))
  }

  /** The shared derived-store kernel: recompute `build` iff the
    * edge-state fingerprint has no committed artifact under
    * `$dir/$sub` — write-once per fingerprint, so replays (and every
    * serve-path call) are a listing-only no-op. The table lands in a
    * `_`-prefixed staging dir and RENAMES to `$dir/$sub/fp=<fp>`
    * (atomic on local/HDFS — readers see the old artifact set or the
    * complete new one, never a torn dir); superseded fp dirs are
    * deleted after the commit. Returns true iff a recompute ran. */
  private def refreshStore(spark: org.apache.spark.sql.SparkSession,
                           dir: String, sub: String,
                           build: () => DataFrame): Boolean = {
    val fp = edgeStateFingerprint(spark, dir)
    val (fs, root) = fsOf(spark, s"$dir/$sub")
    val target = new org.apache.hadoop.fs.Path(root, s"fp=$fp")
    if (fs.exists(new org.apache.hadoop.fs.Path(target, "_SUCCESS")))
      return false // current — write-once per fingerprint
    val staging = new org.apache.hadoop.fs.Path(root, "_staging")
    if (fs.exists(staging)) fs.delete(staging, true) // crashed refresh
    if (fs.exists(target)) fs.delete(target, true)   // torn artifact
    build().write.parquet(staging.toString)
    require(fs.rename(staging, target),
      s"derived-store rename failed: $staging -> $target")
    // superseded artifacts go AFTER the commit (a death here leaves
    // extra complete dirs; the read resolves by CURRENT fingerprint,
    // so stale ones are invisible and the next refresh sweeps them).
    // Compare NAMES: listStatus returns fully-qualified paths
    // (file:/...) that never equal the caller-built unqualified target
    if (fs.exists(root)) fs.listStatus(root).foreach { st =>
      if (st.getPath.getName.startsWith("fp=") &&
          st.getPath.getName != target.getName)
        fs.delete(st.getPath, true)
    }
    true
  }

  /** The SERVE of a derived store: one parquet scan of the CURRENT
    * fingerprint's artifact — zero derivation joins in the plan.
    * Throws when the artifact is missing or stale instead of silently
    * re-running the corpus-scale job (the refresh is the recovery,
    * and it belongs in the maintenance window, not on the serving
    * path). */
  private def storeRead(spark: org.apache.spark.sql.SparkSession,
                        dir: String, sub: String, schema: String,
                        refreshName: String): DataFrame = {
    val fp = edgeStateFingerprint(spark, dir)
    val (fs, _) = fsOf(spark, s"$dir/$sub")
    val target = new org.apache.hadoop.fs.Path(s"$dir/$sub/fp=$fp")
    require(fs.exists(new org.apache.hadoop.fs.Path(target, "_SUCCESS")),
      s"derived store at $dir/$sub has no committed artifact for the " +
        s"current edge state (fp=$fp) — run $refreshName in the " +
        "maintenance window; the serve never re-derives")
    spark.read.schema(schema).parquet(target.toString)
  }

  /** Maintenance-window refresh of the stored RANK table — ranks
    * derive over the RETAINED edge view (≡ the plain view when no
    * tombstones) through the same fixed iteration as the batch path.
    * Returns true iff a recompute ran. */
  def refreshRankStore(spark: org.apache.spark.sql.SparkSession,
                       dir: String, iters: Int = 8,
                       damping: Double = 0.85): Boolean =
    refreshStore(spark, dir, "ranks", () =>
      pageRankFromPairs(spark, dir, iters, damping))

  /** One scan of the current rank artifact — (node, rank). */
  def rankStoreRead(spark: org.apache.spark.sql.SparkSession,
                    dir: String): DataFrame =
    storeRead(spark, dir, "ranks", "node LONG, rank DOUBLE",
      "refreshRankStore")

  /** Maintenance-window refresh of the stored COMPONENT table — the
    * same edge-state-fingerprint discipline on the OTHER graph serve:
    * connected components over the retained edge view, persisted once,
    * served as a scan (the duplicate-cluster lookup a curation
    * pipeline hits far more often than it changes edges). Returns
    * true iff a recompute ran. */
  def refreshComponentStore(spark: org.apache.spark.sql.SparkSession,
                            dir: String): Boolean =
    refreshStore(spark, dir, "components", () =>
      Dedup.connectedComponents(readRetainedPairs(spark, dir),
        pairsDistinct = true))

  /** One scan of the current component artifact —
    * (doc_id, component_rep). */
  def componentStoreRead(spark: org.apache.spark.sql.SparkSession,
                         dir: String): DataFrame =
    storeRead(spark, dir, "components",
      "doc_id LONG, component_rep LONG", "refreshComponentStore")

  /** The unrolled-iteration oracle twin: the SAME fixed iteration count
    * and the SAME IEEE operation order — the teleport term is spelled
    * `(1 - d) / n` on both sides (one subtraction, one division, in
    * double), so both engines add bit-identical constants; the damping
    * factor interpolates through Scala's Double.toString, which DuckDB
    * parses back to the identical double. `pairsSql` is any SELECT
    * yielding (doc_a, doc_b) — e.g. [[Dedup.minhashPairsOracleSql]] —
    * wrapped as a subquery. */
  def pageRankOracleSql(pairsSql: String, iters: Int = 8,
                        damping: Double = 0.85): String = {
    val iterCtes = (1 to iters).map { i =>
      s"""r$i AS (SELECT nd.node,
         |  (1 - $damping) / nn.n + $damping * coalesce(s.inflow, 0.0) AS rank
         |  FROM nodes nd CROSS JOIN nn LEFT JOIN (
         |    SELECT e.dst AS node, sum(r.rank / d.outd) AS inflow
         |    FROM r${i - 1} r JOIN edges e ON r.node = e.src
         |    JOIN deg d ON d.src = e.src
         |    GROUP BY e.dst) s ON s.node = nd.node)""".stripMargin
    }.mkString(",\n")
    s"""WITH pairs AS (SELECT * FROM ($pairsSql) q),
       |edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
       |          UNION SELECT doc_b AS src, doc_a AS dst FROM pairs),
       |deg AS (SELECT src, count(*) AS outd FROM edges GROUP BY src),
       |nodes AS (SELECT DISTINCT src AS node FROM edges),
       |nn AS (SELECT count(*) AS n FROM nodes),
       |r0 AS (SELECT node, 1.0 / n AS rank FROM nodes CROSS JOIN nn),
       |$iterCtes
       |SELECT node AS doc_id, rank FROM r$iters""".stripMargin
  }
}
