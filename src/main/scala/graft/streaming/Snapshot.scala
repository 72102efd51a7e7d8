package graft.streaming

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.Tables

/** Versioned SNAPSHOT MANIFESTS over a plain-parquet table directory —
  * the table-format-free answer to "concurrent external readers observe
  * a half-swapped directory during compaction/reshard" (the r6 verdict's
  * missing item #2 for [[NearDupGate]]'s output and [[TickIngest]]'s
  * lake partitions).
  *
  * A directory listing is a RACE: compaction and leaf splits replace
  * files in place, so a reader that lists mid-maintenance sees rows
  * doubled (new files in, originals not yet gone) or a mixed layout. A
  * MERGE-capable table format solves this with a commit log; this module
  * is the minimal standalone equivalent — Iceberg's idea at 1% of the
  * surface:
  *
  *  - `root/_snapshots/vNNNNNNNN` — one text manifest per COMMIT, each
  *    the COMPLETE list of live data files (root-relative paths). The
  *    largest version is the current snapshot. Commits are
  *    write-temp-then-rename, so a reader never observes a torn
  *    manifest.
  *  - `root/_stale/vNNNNNNNN/<relpath>` — files RETIRED by commit N:
  *    maintenance moves replaced files here instead of deleting them,
  *    so every manifest ≤ latest remains fully readable. Underscore
  *    prefixes keep both dirs hidden from Spark directory reads.
  *  - [[vacuum]] is the ONLY real deleter: it drops `_stale` trees (and
  *    manifests) older than a retention window, exactly like a table
  *    format's expire-snapshots.
  *
  * Reader contract: hold a VERSION (not resolved paths) — [[readVersion]]
  * resolves each manifest entry at call time, live tree first, then the
  * `_stale` trees of LATER commits (a file live at version v can only
  * have been retired by a commit > v; part-file names carry UUIDs, so a
  * relative path never recurs). A reader therefore sees exactly its
  * version's row set across any number of concurrent appends,
  * compactions, splits, and reshards, until vacuum passes its version —
  * the retention contract, sized to the longest reader.
  *
  * Writer contract: ONE writer (the owning stream's `foreachBatch` /
  * maintenance window — the same single-writer discipline the layouts
  * already require). [[commit]] is RECONCILING, not transactional: it
  * re-LISTS the updated directories and replaces their manifest entries,
  * so a crash between a data write and its commit self-heals on the
  * replayed batch's commit (same touched dirs → same re-listing), and
  * retired files drop out because they are no longer in the live
  * listing. Snapshotting is OPT-IN per directory ([[init]] creates the
  * `_snapshots` dir; [[enabled]] probes it) — a table without the dir
  * pays zero overhead.
  *
  * Scale shape: a commit re-lists ONLY the updated dirs (per-batch cost
  * ∝ the batch's touched leaves), but rewrites the full manifest — one
  * line per live file, so O(files) text per commit. At 128 MB target
  * file size that is ~8k lines per PB — fine for the lake sizes a
  * plain-parquet layout is sane at; past that, adopt a real table
  * format (the manifest is the migration path, not the destination).
  *
  * Known limit (documented, not silent): [[NearDupGate.reshardState]] —
  * the full-rewrite escape hatch — preserves history on the happy path
  * but a crash INSIDE it can reset snapshot history (the sink re-inits
  * on the next batch; data files are never lost, only pre-crash version
  * readability). The bounded path ([[NearDupGate.splitLargestLeaf]])
  * has no such window. */
object Snapshot {

  private val SnapDir = "_snapshots"
  private val StaleDir = "_stale"
  private def vName(v: Long): String = f"v$v%08d"

  private def fsOf(spark: SparkSession, root: Path): FileSystem =
    root.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Turn snapshotting ON for `root` (idempotent): creates `_snapshots`
    * so subsequent maintenance/appends commit manifests. */
  def init(spark: SparkSession, root: String): Unit =
    fsOf(spark, new Path(root)).mkdirs(new Path(root, SnapDir))

  /** True iff `root` opted into snapshots ([[init]] ran). */
  def enabled(spark: SparkSession, root: String): Boolean = {
    val p = new Path(root)
    fsOf(spark, p).exists(new Path(p, SnapDir))
  }

  /** Largest committed version, or None before the first commit. */
  def latestVersion(spark: SparkSession, root: String): Option[Long] = {
    val snap = new Path(root, SnapDir)
    val fs = fsOf(spark, new Path(root))
    if (!fs.exists(snap)) return None
    val vs = fs.listStatus(snap).filter(_.isFile).map(_.getPath.getName)
      .filter(_.matches("v\\d{8}")).map(_.drop(1).toLong)
    if (vs.isEmpty) None else Some(vs.max)
  }

  private def readManifest(fs: FileSystem, root: Path, v: Long): Seq[String] = {
    val in = fs.open(new Path(new Path(root, SnapDir), vName(v)))
    try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
      .map(_.trim).filter(_.nonEmpty).toList
    finally in.close()
  }

  /** Non-hidden parquet part files under `dir`, as root-relative paths.
    * Dot/underscore names are skipped at every level — the same
    * hidden-file rule Spark's file index applies, so `_stale`,
    * `_snapshots`, and in-flight `.tmp` dirs never enter a manifest.
    * `private[streaming]` so maintenance callers (reshard) reuse THIS
    * walk instead of growing drift-prone copies. */
  private[streaming] def listDataFiles(fs: FileSystem, root: Path, dir: Path): Seq[String] = {
    val rootUri = root.toUri.getPath.stripSuffix("/")
    def rel(p: Path): String =
      p.toUri.getPath.stripPrefix(rootUri).stripPrefix("/")
    def walk(p: Path): Seq[String] =
      if (!fs.exists(p)) Nil
      else fs.listStatus(p).toSeq.flatMap { s =>
        val n = s.getPath.getName
        if (n.startsWith(".") || n.startsWith("_")) Nil
        else if (s.isDirectory) walk(s.getPath)
        else if (n.endsWith(".parquet")) Seq(rel(s.getPath))
        else Nil
      }
    walk(dir)
  }

  /** COMMIT version latest+1: move `retired` live files into the new
    * version's `_stale` tree, then replace the manifest entries under
    * each of `updatedRelDirs` (root-relative; `""` = the whole root)
    * with a fresh recursive listing of that directory. Returns the new
    * version. No-op (returns the current version) when snapshots are
    * not [[enabled]] — callers wire this unconditionally and the flag
    * lives with the data. */
  def commit(spark: SparkSession, root: String, updatedRelDirs: Seq[String],
             retired: Seq[Path] = Nil,
             retiredAs: Seq[(Path, String)] = Nil): Long = {
    val rootP = new Path(root)
    val fs = fsOf(spark, rootP)
    if (!fs.exists(new Path(rootP, SnapDir))) return -1L
    val prev = latestVersion(spark, root)
    val next = prev.getOrElse(0L) + 1L
    // retire FIRST: the re-listing below must no longer see these files.
    // `retired` entries live under root (rel path derived); `retiredAs`
    // carries an explicit rel path for files already moved OUTSIDE the
    // root (reshard's aside tree).
    val rootUri = rootP.toUri.getPath.stripSuffix("/")
    val moves = retired.map { f =>
      // check containment BEFORE stripping: stripPrefix on a non-prefix
      // is a no-op and the old post-strip check could never fire
      val raw = f.toUri.getPath
      require(raw.startsWith(rootUri + "/"),
        s"retired file $f is not under snapshot root $root")
      f -> raw.stripPrefix(rootUri + "/")
    } ++ retiredAs
    if (moves.nonEmpty) {
      val staleV = new Path(new Path(rootP, StaleDir), vName(next))
      moves.foreach { case (f, rel) =>
        val dest = new Path(staleV, rel)
        fs.mkdirs(dest.getParent)
        // an existing dest means a replayed maintenance op already moved
        // this file — the rerun's copy is identical, drop it
        if (fs.exists(dest)) fs.delete(f, false)
        else require(fs.rename(f, dest), s"Snapshot.retire: $f -> $dest failed")
      }
    }
    val prevEntries = prev.map(readManifest(fs, rootP, _)).getOrElse(Nil)
    val norm = updatedRelDirs.map(_.stripPrefix("/").stripSuffix("/"))
    def underUpdated(e: String): Boolean =
      norm.exists(d => d.isEmpty || e == d || e.startsWith(d + "/"))
    val fresh = norm.flatMap(d => listDataFiles(fs, rootP,
      if (d.isEmpty) rootP else new Path(rootP, d)))
    val entries = (prevEntries.filterNot(underUpdated) ++ fresh).distinct.sorted
    val snap = new Path(rootP, SnapDir)
    val tmp = new Path(snap, s".${vName(next)}.tmp")
    val out = fs.create(tmp, true)
    try out.write(entries.mkString("\n").getBytes("UTF-8")) finally out.close()
    require(fs.rename(tmp, new Path(snap, vName(next))),
      s"Snapshot.commit: manifest rename failed for $root ${vName(next)}")
    next
  }

  /** Resolve version `v`'s manifest to readable absolute paths — live
    * tree first, else the `_stale` tree of a LATER commit. Throws when a
    * file was vacuumed (the version is past retention).
    *
    * Resolution is LISTING-based, not per-entry `exists` probes: one
    * recursive walk of the live tree plus one per (lazily-visited)
    * stale tree — O(trees) batch listings instead of O(manifest
    * entries) round-trips, the difference between usable and not on an
    * object store. */
  def filesAt(spark: SparkSession, root: String, v: Long): Seq[String] = {
    val rootP = new Path(root)
    val fs = fsOf(spark, rootP)
    if (!fs.exists(new Path(new Path(rootP, SnapDir), vName(v))))
      throw new IllegalStateException(
        s"Snapshot: version $v at $root was vacuumed (manifest expired)")
    val staleRoot = new Path(rootP, StaleDir)
    // `>= v`, not `> v`: a file live at v is normally retired by a
    // LATER commit, but a crash between a maintenance op's retire-moves
    // and its manifest write leaves files in `_stale/vN` while the
    // manifest numbered N is written by a later, unrelated commit that
    // inherited the old entries — those entries must still resolve.
    // Safe in the normal case: commit N's own manifest never lists the
    // files commit N retired, so `_stale/vN` can't double-serve an
    // N-manifest read.
    lazy val staleVs: Seq[Long] =
      if (!fs.exists(staleRoot)) Nil
      else fs.listStatus(staleRoot).filter(_.isDirectory)
        .map(_.getPath.getName).filter(_.matches("v\\d{8}"))
        .map(_.drop(1).toLong).filter(_ >= v).sorted.toSeq
    val live: Set[String] = listDataFiles(fs, rootP, rootP).toSet
    // one rel-set per stale tree; LazyList memoizes AND lists each tree
    // only when a miss actually reaches it (a strict Seq would walk
    // every retained tree on the first miss)
    lazy val staleSets: LazyList[(Long, Set[String])] =
      LazyList.from(staleVs).map { sv =>
        val tree = new Path(staleRoot, vName(sv))
        sv -> listDataFiles(fs, tree, tree).toSet
      }
    readManifest(fs, rootP, v).map { rel =>
      if (live.contains(rel)) new Path(rootP, rel).toString
      else staleSets.collectFirst { case (sv, set) if set.contains(rel) =>
        new Path(new Path(staleRoot, vName(sv)), rel).toString
      }.getOrElse(throw new IllegalStateException(
        s"Snapshot: $rel of version $v at $root was vacuumed — " +
          "version is past the retention window"))
    }
  }

  /** Read snapshot `version` (default: latest). None when no snapshot
    * exists or the manifest is empty (schema unknowable without files).
    *
    * `partitionCols`: Hive-style dir columns (`symbol=…`) are absent
    * from the data files; each named one is rebuilt from the manifest's
    * RELATIVE path (stable across live→stale moves) as a string,
    * unescaped, with Hive's default-partition name read back as null,
    * and null for a file whose path has no such dir. The columns are
    * the data columns, then `partitionCols` in order. The version is
    * read as ONE [[Tables.parquet]] relation per layout group
    * ([[Tables.parquetByLayout]]) — a base tree (the live root or one
    * `_stale/vN` tree) and the dir shape under it — with `basePath` at
    * the tree and the named columns typed string, so Spark's partition
    * discovery parses the dirs from the listing [[Tables.parquet]]
    * already holds. The live root and each stale tree are separate
    * groups: under one `basePath`, discovery stops at the `_stale/vN`
    * segments and fails the read with CONFLICTING_DIRECTORY_STRUCTURES.
    *
    * `keepRel` is the manifest-path analog of partition PRUNING: it
    * filters the version's root-relative file paths BEFORE any read,
    * so a partition-dir predicate (e.g. `tbucket=K` membership) skips
    * the excluded files entirely — the same file-level pruning a plain
    * partitioned read gets from a partition-column filter. Falls back
    * to reading everything when it would exclude ALL files (the
    * caller's row filter still applies; an empty parquet read cannot
    * infer a schema). */
  def readVersion(spark: SparkSession, root: String,
                  version: Option[Long] = None,
                  partitionCols: Seq[String] = Nil,
                  keepRel: String => Boolean = _ => true): Option[DataFrame] = {
    import org.apache.spark.sql.types.{StringType, StructField, StructType}
    val v = version.orElse(latestVersion(spark, root)).getOrElse(return None)
    val rootP = new Path(root)
    val fs = fsOf(spark, rootP)
    if (!fs.exists(new Path(new Path(rootP, SnapDir), vName(v))))
      throw new IllegalStateException(
        s"Snapshot: version $v at $root was vacuumed (manifest expired)")
    val relsAll = readManifest(fs, rootP, v)
    if (relsAll.isEmpty) return None
    val resolvedAll = filesAt(spark, root, v)
    val prunedPairs = (relsAll zip resolvedAll).filter(p => keepRel(p._1))
    val pairs = if (prunedPairs.nonEmpty) prunedPairs
                else relsAll zip resolvedAll // see scaladoc: never an empty read
    if (partitionCols.isEmpty) return Some(Tables.parquet(spark, pairs.map(_._2): _*))
    Some(Tables.parquetByLayout(spark,
      pairs.map { case (rel, file) => (file.stripSuffix(rel),
        rel.split("/").dropRight(1).mkString("/"), file) },
      StructType(partitionCols.map(StructField(_, StringType)))))
  }

  /** Expire history: keep the newest `keepVersions` manifests readable,
    * DELETE older manifests and the `_stale` trees strictly below the
    * cutoff (a `_stale/vN` tree holds files retired BY commit N —
    * needed by versions < N, plus version N itself under filesAt's
    * crash-inheritance rule, all expired once N < cutoff). Returns
    * (manifests deleted, stale trees deleted). Size retention to the
    * longest-running external reader. */
  def vacuum(spark: SparkSession, root: String, keepVersions: Int): (Int, Int) = {
    require(keepVersions >= 1, s"keepVersions must be >= 1, got $keepVersions")
    val rootP = new Path(root)
    val fs = fsOf(spark, rootP)
    val latest = latestVersion(spark, root).getOrElse(return (0, 0))
    val cutoff = latest - keepVersions + 1 // oldest version kept readable
    var m = 0; var s = 0
    val snap = new Path(rootP, SnapDir)
    fs.listStatus(snap).filter(_.isFile).map(_.getPath)
      .filter(p => p.getName.matches("v\\d{8}") &&
        p.getName.drop(1).toLong < cutoff)
      .foreach { p => fs.delete(p, false); m += 1 }
    val staleRoot = new Path(rootP, StaleDir)
    // strictly < cutoff (not <=): filesAt's crash-inheritance rule may
    // resolve version `cutoff` entries out of `_stale/v<cutoff>`, so
    // that tree outlives the versions below it by one step
    if (fs.exists(staleRoot))
      fs.listStatus(staleRoot).filter(_.isDirectory).map(_.getPath)
        .filter(p => p.getName.matches("v\\d{8}") &&
          p.getName.drop(1).toLong < cutoff)
        .foreach { p => fs.delete(p, true); s += 1 }
    (m, s)
  }
}
