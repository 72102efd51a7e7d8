package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for suites — one lazy session per suite. */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .withExtensions(new graft.GraftExtensions())
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def sf0001 = "/root/testdata/sf0.001"

  /** Jobs started while `body` runs: a sentinel job in the same group
    * runs after it, and the group is read once the sentinel shows, so
    * every earlier job has reached the status store by then. */
  def jobsStarted(body: => Unit): Int = {
    val sc = spark.sparkContext
    val group = s"jobs-started-${System.nanoTime()}"
    sc.setJobGroup(group, "counted")
    try {
      body
      sc.parallelize(Seq(1), 1).count()
    } finally sc.clearJobGroup()
    val deadline = System.nanoTime() + 30L * 1000000000L
    var seen = sc.statusTracker.getJobIdsForGroup(group)
    while (seen.isEmpty && System.nanoTime() < deadline) {
      Thread.sleep(20)
      seen = sc.statusTracker.getJobIdsForGroup(group)
    }
    assert(seen.nonEmpty, "the sentinel job never reached the status store")
    seen.length - 1
  }
}
