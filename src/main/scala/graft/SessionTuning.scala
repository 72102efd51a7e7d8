package graft

import org.apache.spark.sql.SparkSession

/** The one session the mains run on ([[session]]) and the shuffle-I/O
  * tuning under it ([[tuned]]) — r17 optimization round, guide §2.1/§6.
  *
  * Measured root cause (thread-dump sampled, `OPTIMIZATION_r17.md`):
  * with `spark.sql.shuffle.partitions = cpus` (32) every exchange has
  * R ≤ 200 reduce partitions, so Spark picks the
  * `BypassMergeSortShuffleWriter`, which OPENS R FILES PER MAP TASK and
  * then concatenates them (`copyFileStreamNIO`) into the final shuffle
  * file. On this sandbox's ext4 the 32×32 file creates + copies per
  * exchange dominate every small stage: a 32-task `countDistinct` over
  * 5 000 rows measured 10.3 CPU-s / 13.7 task-s; with the sort-based
  * writer (ONE spill file + index per map task, rows buffered serialized
  * in memory) the same stage is 0.48 CPU-s / 1.5 task-s — a 20× cut of
  * pure shuffle-file metadata overhead, identical results.
  *
  * Scale honesty: at cluster scale R > 200, so the bypass writer is
  * never chosen and `bypassMergeThreshold` is a no-op — this setting
  * pins the SAME writer locally that production shapes already use; it
  * does not trade scale behavior for local speed. The spill/shuffle
  * scratch dir moves to tmpfs when the box has one (`/dev/shm`, 128 GiB
  * here) — ephemeral bytes only, nothing outlives the JVM; a cluster
  * would point `spark.local.dir` at its fast local disks, which is the
  * same knob (override with SPARK_GRAFT_LOCAL_DIR, empty = Spark
  * default).
  */
object SessionTuning {

  /** The session of every main (Bench, Verify, CurationRun,
    * ProfileProbe, PlanDump, StreamDemo, ...): [[tuned]] plus the graft
    * extensions, `local[$SPARK_GRAFT_CPUS]` (default 4) with as many
    * shuffle partitions, UTC, AQE on, no UI, WARN logging. */
  def session(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = tuned(SparkSession.builder())
      .withExtensions(new GraftExtensions())
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** The shuffle writer pin above, the cached-plan coalescing and the
    * local scratch dir below, and the case-mapping pin.
    *
    * Case mappings: Spark 4.1 defaults `spark.sql.icu.caseMappings.enabled`
    * to true, so the first `lower`/`upper` in a JVM initializes
    * `CollationAwareUTF8String`, whose static initializer builds a
    * Unicode-wide title-case table, whether the input is ASCII or not:
    * about 1.3 s of CPU, paid once per JVM by every fresh session (each
    * Verify, CurationRun or scheduled job). Pinned off, `lower`/`upper`
    * take `UTF8String`'s ASCII fast path or the JDK's case mapping,
    * which follows the same default-locale rule as ICU's, and the
    * table is never built. Measured on a 4-core Intel Xeon, JDK
    * 17.0.20, Spark 4.1.2: a fresh session's first `md5(lower(text))`
    * over the sf0.01 documents went from 2.4–2.8 s to 1.1–1.2 s, and
    * the CurationRun `exact` stage's slowest task from 1,266 to 122 ms.
    * The two paths agree on every code point both Unicode tables
    * define (`CaseMappingSpec`). */
  def tuned(b: SparkSession.Builder): SparkSession.Builder = {
    b.config("spark.shuffle.sort.bypassMergeThreshold", "1")
    b.config("spark.sql.icu.caseMappings.enabled", "false")
    // let AQE coalesce the output partitioning of CACHED plans too
    // (r18, guide §2.2 "partitioning scale-adaptive, not constant"):
    // the iterative families persist small working sets (PageRank's
    // degree-annotated edges, BPE's word table) whose cached layout
    // otherwise pins every downstream stage at the static shuffle
    // width — 8 iterations × 32-task stages over kilobytes locally.
    // Scale-adaptive by construction: AQE coalesces toward the
    // advisory partition size, so corpus-scale cached frames keep
    // their width. Off-switch: SPARK_GRAFT_CACHED_COALESCE=false.
    b.config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
      sys.env.getOrElse("SPARK_GRAFT_CACHED_COALESCE", "true"))
    val localDir = sys.env.get("SPARK_GRAFT_LOCAL_DIR").orElse {
      val shm = new java.io.File("/dev/shm")
      // free-space guard (r17 ADVICE/verdict item 7): tmpfs is RAM — a
      // spill bigger than the free space fails with ENOSPC where disk
      // would survive. Only defaulted when /dev/shm has ≥ 16 GiB usable
      // (two orders of magnitude above the bench's peak shuffle
      // footprint, ~0.1 GiB at sf0.1); boxes with a small or crowded
      // /dev/shm keep Spark's disk default. Env override is unchanged
      // and unconditional.
      val minUsable = 16L << 30
      if (shm.isDirectory && shm.canWrite && shm.getUsableSpace >= minUsable)
        Some("/dev/shm/graft-local")
      else None
    }
    localDir.filter(_.nonEmpty).foreach(d => b.config("spark.local.dir", d))
    b
  }
}
