package graft

import java.net.URI
import java.nio.file.Files

import org.apache.hadoop.fs.{Path, RawLocalFileSystem}
import graft.streaming.{LakeMaintenance, Snapshot}

/** The local filesystem under the `flaky:` scheme, with renames that
  * fail onto any destination containing [[RenameFailingFs.failInto]]. */
class RenameFailingFs extends RawLocalFileSystem {
  override def getUri: URI = URI.create("flaky:///")
  override def getScheme: String = "flaky"
  override def rename(src: Path, dst: Path): Boolean =
    if (RenameFailingFs.failInto.exists(dst.toString.contains)) false
    else {
      val ok = super.rename(src, dst)
      if (ok && dst.getName.startsWith("compacted-")) RenameFailingFs.compactedIn += 1
      ok
    }
}

object RenameFailingFs {
  @volatile var failInto: Option[String] = None
  @volatile var compactedIn = 0
}

/** [[LakeMaintenance]]'s multi-directory compaction kernel: one write
  * job per pass and schema, one manifest version per snapshot root,
  * ⌈bytes/target⌉ files per directory, and a swap that leaves every
  * original in place when any rename of the pass fails. */
class LakeCompactionSpec extends SparkSpec {
  import spark.implicits._

  private lazy val fs = new Path("/").getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def tmp(name: String): String =
    Files.createTempDirectory(name).toString + "/lake"

  /** `files` appends of `rows` rows each into `symbol=<s>` per symbol. */
  private def lake(path: String, symbols: Seq[String], files: Int, rows: Int = 3): Unit =
    (0 until files).foreach { f =>
      symbols.flatMap(s => (0 until rows).map(r => (s, f * 1000L + r, r * 1.5)))
        .toDF("symbol", "time", "close").coalesce(1)
        .write.mode("append").partitionBy("symbol").parquet(path)
    }

  private def parquet(dir: String): Seq[Path] =
    fs.listStatus(new Path(dir)).map(_.getPath)
      .filter(_.getName.endsWith(".parquet")).sortBy(_.getName).toSeq

  private def rows(path: String): Seq[String] =
    spark.read.parquet(path).collect().map(_.toString).sorted.toSeq

  test("N due directories compact in one write job") {
    val path = tmp("compact-one-job")
    val syms = (0 until 5).map(i => s"S$i")
    lake(path, syms, files = 3)
    val before = rows(path)
    var result = (0, 0, 0)
    assert(jobsStarted {
      result = LakeMaintenance.compactLake(spark, path, maxFiles = 1)
    } == 1)
    assert(result == ((5, 15, 5)))
    syms.foreach(s => assert(parquet(s"$path/symbol=$s").size == 1))
    assert(rows(path) == before)
    assert(LakeMaintenance.compactLake(spark, path, maxFiles = 1) == ((0, 0, 0)))
  }

  test("a pass over a snapshot lake commits one manifest version") {
    val path = tmp("compact-one-commit")
    Snapshot.init(spark, path)
    lake(path, Seq("A", "B", "C"), files = 3)
    Snapshot.commit(spark, path, Seq(""))
    val v0 = Snapshot.latestVersion(spark, path).get
    val before = Snapshot.readVersion(spark, path).get.collect().map(_.toString).sorted.toSeq
    assert(LakeMaintenance.compactLake(spark, path, maxFiles = 1,
      snapshotRoot = Some(path))._1 == 3)
    assert(Snapshot.latestVersion(spark, path).contains(v0 + 1))
    assert(Snapshot.filesAt(spark, path, v0 + 1).size == 3)
    assert(Snapshot.readVersion(spark, path, Some(v0)).get
      .collect().map(_.toString).sorted.toSeq == before)
    assert(Snapshot.readVersion(spark, path).get
      .collect().map(_.toString).sorted.toSeq == before)
  }

  test("a directory with a different first-footer schema is its own group and keeps its columns") {
    val path = tmp("compact-schemas")
    lake(path, Seq("A", "B"), files = 2)
    (0 until 2).foreach { f =>
      Seq(("C", f.toLong, 1.0, s"v$f")).toDF("symbol", "time", "close", "venue")
        .write.mode("append").partitionBy("symbol").parquet(path)
    }
    val wide = rows(s"$path/symbol=C")
    val narrow = rows(s"$path/symbol=A") ++ rows(s"$path/symbol=B")
    var result = (0, 0, 0)
    assert(jobsStarted {
      result = LakeMaintenance.compactLake(spark, path, maxFiles = 1)
    } == 2)
    assert(result == ((3, 6, 3)))
    val c = spark.read.parquet(s"$path/symbol=C")
    assert(c.columns.toSeq == Seq("time", "close", "venue"))
    assert(rows(s"$path/symbol=C") == wide)
    assert(rows(s"$path/symbol=A") ++ rows(s"$path/symbol=B") == narrow)
  }

  test("a rename failure in the middle of a multi-directory swap leaves every original") {
    val path = tmp("compact-rename-fail")
    val syms = Seq("A", "B", "C", "D")
    lake(path, syms, files = 3)
    val before = rows(path)
    val names = syms.map(s => s -> parquet(s"$path/symbol=$s").map(_.getName)).toMap
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.flaky.impl", classOf[RenameFailingFs].getName)
    conf.setBoolean("fs.flaky.impl.disable.cache", true)
    RenameFailingFs.failInto = Some("symbol=C/compacted-")
    RenameFailingFs.compactedIn = 0
    try {
      val e = intercept[java.io.IOException] {
        LakeMaintenance.compactLake(spark, s"flaky:$path", maxFiles = 1)
      }
      assert(e.getMessage.contains("symbol=C"))
    } finally RenameFailingFs.failInto = None
    assert(RenameFailingFs.compactedIn == 2, "A and B were renamed in before C failed")
    syms.foreach { s =>
      assert(parquet(s"$path/symbol=$s").map(_.getName) == names(s))
      assert(!fs.exists(new Path(s"$path/symbol=$s/.compact_tmp")))
    }
    assert(rows(path) == before)
    // the next pass compacts as if nothing had happened
    assert(LakeMaintenance.compactLake(spark, path, maxFiles = 1) == ((4, 12, 4)))
    assert(rows(path) == before)
  }

  test("a directory at or under maxFiles is byte-untouched") {
    val path = tmp("compact-untouched")
    lake(path, Seq("A"), files = 4)
    lake(path, Seq("B"), files = 6)
    def snapshot(dir: String) = parquet(dir).map { p =>
      val st = fs.getFileStatus(p)
      (p.getName, st.getLen, st.getModificationTime,
        java.util.Arrays.hashCode(Files.readAllBytes(java.nio.file.Paths.get(p.toUri))))
    }
    val a = snapshot(s"$path/symbol=A")
    val entries = fs.listStatus(new Path(s"$path/symbol=A")).map(_.getPath.getName).sorted.toSeq
    assert(LakeMaintenance.compactLake(spark, path, maxFiles = 4) == ((1, 6, 1)))
    assert(snapshot(s"$path/symbol=A") == a)
    assert(fs.listStatus(new Path(s"$path/symbol=A")).map(_.getPath.getName).sorted.toSeq == entries)
  }

  test("each directory gets ceil(bytes / target) files") {
    val root = Files.createTempDirectory("compact-sizes").toString
    (0 until 6).foreach { f =>
      spark.range(f * 4000L, (f + 1) * 4000L).selectExpr("id", "id * 7 % 1009 AS v")
        .coalesce(1).write.mode("append").parquet(s"$root/d=big")
      spark.range(f, f + 1L).selectExpr("id", "id AS v")
        .coalesce(1).write.mode("append").parquet(s"$root/d=small")
    }
    def bytes(d: String) = parquet(s"$root/d=$d").map(p => fs.getFileStatus(p).getLen).sum
    val target = bytes("big") / 3 + 1
    val want = Seq("big", "small").map(d => d -> (bytes(d) + target - 1) / target).toMap
    assert(want == Map("big" -> 3L, "small" -> 1L))
    val before = Seq("big", "small").map(d => rows(s"$root/d=$d"))
    assert(LakeMaintenance.compactPartitioned(spark, root, "d=", targetBytes = target,
      maxFiles = 1) == ((2, 12, 4)))
    Seq("big", "small").foreach(d => assert(parquet(s"$root/d=$d").size == want(d)))
    assert(Seq("big", "small").map(d => rows(s"$root/d=$d")) == before)
  }

  test("escaped and default-partition directory names come back into the same directory") {
    val path = tmp("compact-escaped")
    (0 until 3).foreach { f =>
      Seq[(String, Long, Double)](("ES=F", f.toLong, 1.0), (null, f.toLong, 2.0), ("FPT", f.toLong, 3.0))
        .toDF("symbol", "time", "close").coalesce(1)
        .write.mode("append").partitionBy("symbol").parquet(path)
    }
    def dirs = fs.listStatus(new Path(path)).filter(_.isDirectory)
      .map(_.getPath.getName).sorted.toSeq
    val names = dirs
    assert(names.contains("symbol=ES%3DF") && names.contains("symbol=__HIVE_DEFAULT_PARTITION__"))
    val before = rows(path)
    assert(LakeMaintenance.compactLake(spark, path, maxFiles = 1) == ((3, 9, 3)))
    assert(dirs == names)
    names.foreach(d => assert(parquet(s"$path/$d").size == 1, d))
    assert(rows(path) == before)
  }
}
