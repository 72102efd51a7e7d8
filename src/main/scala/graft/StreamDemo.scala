package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.streaming.{IndicatorState, TickIngest}
import graft.streaming.IndicatorState.BarIn

/** Runnable demo of the streaming surface: tick JSON parse (T1) and the
  * stateful indicator refresh (T3) driven from an in-memory source —
  * `sbt "runMain graft.StreamDemo"`. Prints the parsed ticks and the
  * per-micro-batch indicator outputs.
  */
object StreamDemo {
  def main(args: Array[String]): Unit = {
    val spark = SessionTuning.session()
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._

    // T1: raw JSON tick messages -> typed normalized rows
    val ticks = MemoryStream[String]
    val parsed = TickIngest.parseTicks(ticks.toDF())
    val tq = parsed.writeStream.format("memory").queryName("demo_ticks")
      .outputMode("append").start()
    ticks.addData(
      """{"symbol":"FPT","time":"2023-02-07T09:30:00.000Z","open":80.5,"high":81.9,"low":80.5,"close":80.7,"volume":"750,800","previous_close":"80.1","ref":"80.0","ceil":"85.6","floor":"74.4"}""")
    tq.processAllAvailable()
    println("=== parsed ticks ===")
    spark.table("demo_ticks").show(truncate = false)
    tq.stop()

    // T3: two micro-batches of daily bars; state carries across batches
    val bars = MemoryStream[BarIn]
    val out = IndicatorState.attach(bars.toDS(), n = 3)
    val bq = out.writeStream.format("memory").queryName("demo_ind")
      .outputMode("append").start()
    bars.addData(
      BarIn("FPT", Timestamp.valueOf("2023-02-01 00:00:00"), 100.0),
      BarIn("FPT", Timestamp.valueOf("2023-02-02 00:00:00"), 110.0))
    bq.processAllAvailable()
    bars.addData(BarIn("FPT", Timestamp.valueOf("2023-02-03 00:00:00"), 104.0))
    bq.processAllAvailable()
    println("=== stateful indicator refresh (2 micro-batches) ===")
    spark.table("demo_ind").orderBy("time").show(truncate = false)
    bq.stop()
    spark.stop()
  }
}
