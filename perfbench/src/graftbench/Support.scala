package graftbench

import java.lang.management.ManagementFactory
import java.math.{MathContext, RoundingMode}
import java.security.MessageDigest

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}

import graft.{GraftExtensions, SessionTuning}

/** Ordered JSON object for [[Json]]. */
final case class Obj(fields: (String, Any)*)

/** Minimal JSON writer for the run record (Jackson reads it back). */
object Json {
  def str(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }.mkString("\"", "", "\"")

  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case o: Obj => o.fields.map { case (k, x) => str(k) + ":" + apply(x) }.mkString("{", ",", "}")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => str(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case a: Array[_] => apply(a.toSeq)
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case other => str(other.toString)
  }

  def read(path: String): com.fasterxml.jackson.databind.JsonNode =
    new com.fasterxml.jackson.databind.ObjectMapper().readTree(new java.io.File(path))
}

/** Session construction shared by every workload: the same settings the
  * contract mains (`graft.Bench`, `graft.CurationRun`) use. */
object Session {
  def create(cpus: Int, warehouse: String): SparkSession = {
    val spark = SessionTuning.tuned(SparkSession.builder())
      .withExtensions(new GraftExtensions())
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", warehouse)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }
}

object Jvm {
  def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum

  /** Peak resident set size of this JVM (VmHWM), in MiB. */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(Double.NaN)
    finally src.close()
  }

  def startMs(): Long = ManagementFactory.getRuntimeMXBean.getStartTime

  def deleteTree(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(deleteTree)
    f.delete()
  }
}

/** Canonical result hash, following `tools/check_oracle.py`: columns
  * sorted by name, rows sorted, floats rounded to 6 places. Floats are
  * also cut to 10 significant digits so that summation-order noise in
  * large aggregates cannot flip a hash. */
object Canon {
  private val sig = new MathContext(10, RoundingMode.HALF_EVEN)

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) d.toString
    else {
      val r = new java.math.BigDecimal(d).setScale(6, RoundingMode.HALF_EVEN).round(sig)
      if (r.signum == 0) "0" else r.stripTrailingZeros.toPlainString
    }

  def value(v: Any): String = v match {
    case null => "\\N"
    case d: Double => num(d)
    case f: Float => num(f.toDouble)
    case b: java.math.BigDecimal => num(b.doubleValue)
    case t: java.sql.Timestamp =>
      val i = t.toInstant
      (i.getEpochSecond * 1000000L + i.getNano / 1000).toString
    case t: java.time.Instant => (t.getEpochSecond * 1000000L + t.getNano / 1000).toString
    case t: java.time.LocalDateTime =>
      (t.toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L + t.getNano / 1000).toString
    case b: Array[Byte] => b.map("%02x".format(_)).mkString
    case r: Row => r.toSeq.map(value).mkString("{", ",", "}")
    case m: scala.collection.Map[_, _] => m.toSeq.map { case (k, x) => value(k) + ":" + value(x) }.sorted.mkString("<", ",", ">")
    case s: scala.collection.Seq[_] => s.map(value).mkString("[", ",", "]")
    case other => other.toString
  }

  /** (row count, sha256 hex) of the canonical form of collected rows. */
  def hashRows(rows: Array[Row]): (Long, String) = {
    val cols = if (rows.isEmpty) Seq.empty[(String, Int)]
      else rows.head.schema.fieldNames.toSeq.zipWithIndex.sortBy(_._1)
    val names = cols.map(_._1)
    val lines = rows.map(r => cols.map(c => value(r.get(c._2))).mkString("\u0001")).sorted
    val md = MessageDigest.getInstance("SHA-256")
    md.update(names.mkString(",").getBytes("UTF-8"))
    lines.foreach { l => md.update('\n'.toByte); md.update(l.getBytes("UTF-8")) }
    (rows.length.toLong, md.digest().map("%02x".format(_)).mkString)
  }
}

/** Seeded Zipf(s) sampler over ranks 0 until n. */
final class Zipf(n: Int, s: Double) {
  private val cdf: Array[Double] = {
    val w = (1 to n).map(k => 1.0 / math.pow(k, s))
    val tot = w.sum
    w.scanLeft(0.0)(_ + _).tail.map(_ / tot).toArray
  }
  def sample(r: java.util.Random): Int = {
    val i = java.util.Arrays.binarySearch(cdf, r.nextDouble())
    math.min(n - 1, if (i >= 0) i else -i - 1)
  }
}
