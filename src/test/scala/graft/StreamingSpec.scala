package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import graft.streaming.{EventStream, IndicatorState, TickIngest}
import graft.streaming.IndicatorState.BarIn

/** T1-T3 streaming behavior via MemoryStream (no broker, synchronous
  * processAllAvailable), per SURVEY.md §5 item 5.
  */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  test("T1: tick JSON messages parse, flatten, and normalize (streaming)") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[String]
    val parsed = TickIngest.parseTicks(mem.toDF().withColumnRenamed("value", "value"))
    val q = parsed.writeStream.format("memory").queryName("ticks")
      .outputMode("append").start()
    mem.addData(
      """{"symbol":"FPT","time":"2023-02-07T09:30:00.000Z","open":80.5,"high":81.9,
        |"low":80.5,"close":80.7,"volume":"750,800","previous_close":"80.1",
        |"ref":"80.0","ceil":"85.6","floor":"74.4"}""".stripMargin.replace("\n", ""))
    q.processAllAvailable()
    val rows = spark.table("ticks").collect()
    q.stop()
    assert(rows.length == 1)
    val r = rows.head
    assert(r.getAs[String]("symbol") == "FPT")
    assert(r.getAs[Long]("volume") == 750800L)
    assert(math.abs(r.getAs[Double]("ref") - 80.0) < 1e-9)
    assert(r.getAs[Timestamp]("time").toInstant.toString == "2023-02-07T09:30:00Z")
  }

  test("T3: stateful indicator refresh carries state across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[BarIn]
    val out = IndicatorState.attach(mem.toDS(), n = 3)
    val q = out.writeStream.format("memory").queryName("ind")
      .outputMode("append").start()
    mem.addData(
      BarIn("FPT", ts("2023-02-01 00:00:00"), 100.0),
      BarIn("FPT", ts("2023-02-02 00:00:00"), 110.0))
    q.processAllAvailable()
    mem.addData(BarIn("FPT", ts("2023-02-03 00:00:00"), 104.0),
      BarIn("VNM", ts("2023-02-03 00:00:00"), 50.0))
    q.processAllAvailable()
    val rows = spark.table("ind").orderBy("symbol", "time").collect()
    q.stop()
    assert(rows.length == 4)
    val fpt3 = rows(2)
    // change vs batch-2 state: 104 - 110 = -6 (state survived the batch gap)
    assert(math.abs(fpt3.getAs[Double]("change") + 6.0) < 1e-9)
    // ema n=3 (alpha .5): 100 -> 105 -> 104.5
    assert(math.abs(fpt3.getAs[Double]("ema") - 104.5) < 1e-9)
    // rsi over diffs [+10, -6]: 100*10/16 / ... avg gain 5, avg loss 3
    assert(math.abs(fpt3.getAs[Double]("rsi") - 62.5) < 1e-9)
    // independent key unaffected; seed row has NULL change/rsi (batch
    // null parity — not sentinel zeros)
    assert(rows(3).getAs[String]("symbol") == "VNM" &&
      rows(3).isNullAt(rows(3).fieldIndex("change")) &&
      rows(3).isNullAt(rows(3).fieldIndex("rsi")))
  }

  test("T3 via transformWithState matches flatMapGroupsWithState output") {
    val prevDefault = org.apache.spark.sql.SparkSession.getDefaultSession
    val prevActive = org.apache.spark.sql.SparkSession.getActiveSession
    try {
      // clear/build INSIDE the try so finally restores even on failure
      org.apache.spark.sql.SparkSession.clearDefaultSession()
      org.apache.spark.sql.SparkSession.clearActiveSession()
      val s = org.apache.spark.sql.SparkSession.builder()
        .master("local[2]")
        .appName("tws")
        .config("spark.sql.shuffle.partitions", "2")
        .config("spark.sql.streaming.stateStore.providerClass",
          "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
      implicit val sqlCtx = s.sqlContext
      import s.implicits._
      val mem = MemoryStream[BarIn]
      val out = IndicatorState.attachTws(mem.toDS(), n = 3)
      val q = out.writeStream.format("memory").queryName("tws_ind")
        .outputMode("append").start()
      mem.addData(
        BarIn("FPT", ts("2023-02-01 00:00:00"), 100.0),
        BarIn("FPT", ts("2023-02-02 00:00:00"), 110.0))
      q.processAllAvailable()
      mem.addData(BarIn("FPT", ts("2023-02-03 00:00:00"), 104.0))
      q.processAllAvailable()
      val rows = s.table("tws_ind").orderBy("time").collect()
      q.stop()
      assert(rows.length == 3)
      // identical to the flatMapGroupsWithState expectations
      assert(math.abs(rows(2).getAs[Double]("change") + 6.0) < 1e-9)
      assert(math.abs(rows(2).getAs[Double]("ema") - 104.5) < 1e-9)
      assert(math.abs(rows(2).getAs[Double]("rsi") - 62.5) < 1e-9)
    } finally {
      org.apache.spark.sql.SparkSession.clearDefaultSession()
      org.apache.spark.sql.SparkSession.clearActiveSession()
      prevDefault.foreach(org.apache.spark.sql.SparkSession.setDefaultSession)
      prevActive.foreach(org.apache.spark.sql.SparkSession.setActiveSession)
    }
  }

  test("T3 streaming agrees with batch indicators on a replay") {
    // the same per-key fold, fed in order, must reproduce the batch
    // closed-form EMA and lag-change
    val bars = (1 to 40).map(i =>
      BarIn("A", ts(f"2023-01-01 00:00:${i % 60}%02d"), 100.0 + 7 * math.sin(i)))
    var state: Option[IndicatorState.BarState] = None
    val streamed = bars.map { b =>
      val (o, s) = IndicatorState.step(state, b, 25)
      state = Some(s)
      o
    }
    val batch = graft.operators.Indicators.withEmaClosedForm(
      bars.toDF("symbol", "time", "close"), "close", 25,
      Seq("symbol"), Seq(col("time")))
      .orderBy("time").select("ema").collect().map(_.getDouble(0))
    streamed.map(_.ema).zip(batch).foreach { case (s, b) =>
      assert(math.abs(s - b) < 1e-9, s"stream $s vs batch $b")
    }
    // null-parity edges: seed row has no change/rsi...
    assert(streamed.head.change.isEmpty && streamed.head.rsi.isEmpty)
    // ...and a flat series yields rsi null in BOTH paths (batch guard
    // avgGain+avgLoss>0 emits null; streaming g+l==0 emits None)
    val flatBars = (1 to 5).map(i =>
      BarIn("F", ts(f"2023-01-01 00:00:${i}%02d"), 50.0))
    var fs: Option[IndicatorState.BarState] = None
    val flatStream = flatBars.map { b =>
      val (o, s) = IndicatorState.step(fs, b, 25)
      fs = Some(s)
      o
    }
    assert(flatStream.forall(_.rsi.isEmpty))
    assert(flatStream.tail.forall(_.change.contains(0.0)))
    val flatBatch = graft.operators.Indicators.withRsi(
      flatBars.toDF("symbol", "time", "close"), "close", 25,
      Seq("symbol"), Seq(col("time")))
    assert(flatBatch.where(col("rsi").isNotNull).count() == 0)
  }

  test("q_indicator_replay (T3 batch twin) equals the streaming step fold") {
    // the registry's relational replay of the indicator state machine
    // must reproduce the step() fold row for row — change, rsi, AND ema —
    // so the oracle row added for T3 really checks the streaming
    // semantics, not a lookalike
    val rows = SparkEntry.queries("q_indicator_replay")(spark, sf0001)
      .orderBy("user_id", "ts", "event_id").collect()
    assert(rows.length > 500)
    var checked = 0
    rows.groupBy(_.getAs[Long]("user_id")).foreach { case (uid, urs) =>
      var st: Option[IndicatorState.BarState] = None
      urs.foreach { r =>
        val bar = IndicatorState.BarIn(
          uid.toString, r.getAs[Timestamp]("ts"), r.getAs[Double]("value"))
        val (o, s2) = IndicatorState.step(st, bar, 25)
        st = Some(s2)
        def cell(name: String): Option[Double] =
          if (r.isNullAt(r.fieldIndex(name))) None
          else Some(r.getAs[Double](name))
        def close(a: Option[Double], b: Option[Double], what: String): Unit =
          (a, b) match {
            case (None, None) => ()
            case (Some(x), Some(y)) =>
              assert(math.abs(x - y) <= 1e-6 * (1.0 + math.abs(y)),
                s"$what for user $uid at ${bar.time}: batch $x vs fold $y")
            case _ => fail(s"$what null-parity for user $uid at ${bar.time}: " +
              s"batch $a vs fold $b")
          }
        close(cell("change"), o.change, "change")
        close(cell("rsi"), o.rsi, "rsi")
        close(cell("ema"), Some(o.ema), "ema")
        checked += 1
      }
    }
    assert(checked == rows.length)
  }

  test("watermarked tumbling window finalizes closed windows (append mode)") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, String, Double)]
    val df = mem.toDF().toDF("ts", "event_type", "value")
    val agg = EventStream.windowedCounts(df, "1 hour", "30 minutes")
    val q = agg.writeStream.format("memory").queryName("winagg")
      .outputMode(OutputMode.Append()).start()
    mem.addData(
      (ts("2024-01-01 10:05:00"), "click", 1.0),
      (ts("2024-01-01 10:40:00"), "click", 2.0))
    q.processAllAvailable()
    // advance watermark far past the 10:00 window
    mem.addData((ts("2024-01-01 13:00:00"), "click", 9.0))
    q.processAllAvailable()
    val rows = spark.table("winagg").collect()
    q.stop()
    assert(rows.length == 1)
    val r = rows.head
    assert(r.getAs[Timestamp]("hour") == ts("2024-01-01 10:00:00"))
    assert(r.getAs[Long]("n") == 2L)
    assert(math.abs(r.getAs[Double]("sum_value") - 3.0) < 1e-9)
  }

  test("stream-stream interval join: trades enriched with quotes within 10 min") {
    implicit val sqlCtx = spark.sqlContext
    val quotes = MemoryStream[(Timestamp, String, Double)]
    val trades = MemoryStream[(Timestamp, String, Long)]
    val qDf = quotes.toDF().toDF("qts", "sym", "px").withWatermark("qts", "10 minutes")
    val tDf = trades.toDF().toDF("tts", "sym", "trade_id").withWatermark("tts", "10 minutes")
    val q2 = qDf.withColumnRenamed("sym", "qsym")
    val j2 = tDf.join(q2,
      col("sym") === col("qsym") &&
        col("qts") >= col("tts") - expr("INTERVAL 10 MINUTES") &&
        col("qts") <= col("tts"))
      .select("trade_id", "px")
    val q = j2.writeStream.format("memory").queryName("ssj")
      .outputMode("append").start()
    quotes.addData((ts("2024-01-01 10:00:00"), "A", 100.0))
    trades.addData((ts("2024-01-01 10:05:00"), "A", 1L))   // joins (5 min gap)
    trades.addData((ts("2024-01-01 10:20:00"), "A", 2L))   // no quote in window
    q.processAllAvailable()
    val rows = spark.table("ssj").collect().map(r => r.getLong(0) -> r.getDouble(1))
    q.stop()
    assert(rows.toSeq == Seq(1L -> 100.0))
  }

  test("streaming dedup: dropDuplicates with watermark across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, Long, Double)]
    val deduped = mem.toDF().toDF("ts", "event_id", "value")
      .withWatermark("ts", "10 minutes")
      .dropDuplicates("event_id")
    val q = deduped.writeStream.format("memory").queryName("sdedup")
      .outputMode("append").start()
    mem.addData((ts("2024-01-01 10:00:00"), 1L, 1.0),
      (ts("2024-01-01 10:00:30"), 1L, 99.0)) // in-batch duplicate
    q.processAllAvailable()
    mem.addData((ts("2024-01-01 10:01:00"), 1L, 77.0), // cross-batch duplicate
      (ts("2024-01-01 10:02:00"), 2L, 2.0))
    q.processAllAvailable()
    val rows = spark.table("sdedup").orderBy("event_id").collect()
    q.stop()
    assert(rows.map(_.getLong(1)).toSeq == Seq(1L, 2L))
    assert(rows(0).getDouble(2) == 1.0) // first occurrence won
  }

  test("dedupDocStream: bounded-state dedup evicts past the horizon") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, Long, String)]
    val deduped = graft.streaming.EventStream.dedupDocStream(
      mem.toDF().toDF("ts", "doc_id", "text"), horizon = "1 hour")
    val q = deduped.writeStream.format("memory").queryName("docdedup")
      .outputMode("append").start()
    mem.addData((ts("2024-01-01 10:00:00"), 1L, "hello world"))
    q.processAllAvailable()
    // duplicate content within the horizon: dropped (different doc_id —
    // dedup is on the content fingerprint, not the row)
    mem.addData((ts("2024-01-01 10:05:00"), 2L, "hello world"),
      (ts("2024-01-01 10:10:00"), 3L, "fresh content"))
    q.processAllAvailable()
    // advance the watermark far past 10:00 + 1h, evicting the state…
    mem.addData((ts("2024-01-01 13:00:00"), 4L, "mover"))
    q.processAllAvailable()
    // …so the same content re-emits (plain dropDuplicates would pin the
    // fingerprint forever — unbounded state on an unbounded corpus)
    mem.addData((ts("2024-01-01 13:30:00"), 5L, "hello world"))
    q.processAllAvailable()
    val got = spark.table("docdedup").collect().map(_.getLong(1)).sorted.toSeq
    q.stop()
    assert(got == Seq(1L, 3L, 4L, 5L))
  }

  test("KMV sketch maintains incrementally over a stream (complete mode)") {
    // the same KmvLongAgg the batch queries use: its serialized buffer
    // is the streaming state, so corpus stats stay current per
    // micro-batch without re-scanning history
    implicit val sqlCtx = spark.sqlContext
    import graft.functions.{Dedup, Sketches}
    val mem = MemoryStream[String]
    val q = mem.toDF().toDF("v")
      .groupBy()
      .agg(Sketches.kMinValues(Dedup.md5Hash60(col("v")), 8).as("kept"))
      .writeStream.format("memory").queryName("kmvstream")
      .outputMode("complete").start()
    mem.addData("a", "b", "c")
    q.processAllAvailable()
    mem.addData("b", "d") // dup "b" must not distort; "d" must enter
    q.processAllAvailable()
    val streamed = spark.table("kmvstream").head()
      .getAs[scala.collection.Seq[Long]]("kept")
    q.stop()
    val batch = Seq("a", "b", "c", "d").toDF("v")
      .select(Sketches.kMinValues(Dedup.md5Hash60(col("v")), 8).as("kept"))
      .head().getAs[scala.collection.Seq[Long]]("kept")
    assert(streamed == batch && streamed.size == 4)
  }

  test("windowed KMV: per-hour vocabulary sketches finalize under watermark") {
    // corpus stats per ingestion window — the continuous-pipeline shape:
    // bounded sketch state per open window, windows finalized and
    // EVICTED once the watermark passes (append mode), so state is
    // O(open windows × k), independent of stream length
    implicit val sqlCtx = spark.sqlContext
    import graft.functions.{Dedup, Sketches}
    val mem = MemoryStream[(Timestamp, String)]
    val q = mem.toDF().toDF("ts", "v")
      .withWatermark("ts", "30 minutes")
      .groupBy(window(col("ts"), "1 hour"))
      .agg(Sketches.kMinValues(Dedup.md5Hash60(col("v")), 8).as("kept"))
      .select(col("window.start").as("h"), size(col("kept")).as("n"))
      .writeStream.format("memory").queryName("kmvwin")
      .outputMode("append").start()
    mem.addData((ts("2024-01-01 10:05:00"), "a"), (ts("2024-01-01 10:10:00"), "b"),
      (ts("2024-01-01 10:20:00"), "a")) // dup within the window
    q.processAllAvailable()
    mem.addData((ts("2024-01-01 13:00:00"), "z")) // watermark past 10:00+1h+30m
    q.processAllAvailable()
    val rows = spark.table("kmvwin").collect()
      .map(r => r.getAs[Timestamp]("h") -> r.getAs[Int]("n")).toMap
    q.stop()
    // only the finalized 10:00 window emitted; 2 distinct values sketched
    assert(rows == Map(ts("2024-01-01 10:00:00") -> 2))
  }

  test("composed streaming prep: content dedup then windowed token stats") {
    // the continuous ingest shape end-to-end: fingerprint dedup
    // (bounded state) feeding a watermarked per-window aggregation —
    // TWO chained stateful operators in one append-mode query
    implicit val sqlCtx = spark.sqlContext
    import graft.functions.{TextAnalysis => TA}
    val mem = MemoryStream[(Timestamp, Long, String)]
    val q = graft.streaming.EventStream.dedupDocStream(
        mem.toDF().toDF("ts", "doc_id", "text"), horizon = "30 minutes")
      .groupBy(window(col("ts"), "1 hour"))
      .agg(count(lit(1)).as("n_docs"),
        sum(TA.tokenCount(col("text"))).as("n_tokens"))
      .select(col("window.start").as("h"), col("n_docs"), col("n_tokens"))
      .writeStream.format("memory").queryName("prepwin")
      .outputMode("append").start()
    mem.addData(
      (ts("2024-01-01 10:05:00"), 1L, "alpha beta gamma"),
      (ts("2024-01-01 10:10:00"), 2L, "alpha beta gamma"), // dup: dropped
      (ts("2024-01-01 10:20:00"), 3L, "delta epsilon"))
    q.processAllAvailable()
    mem.addData((ts("2024-01-01 13:00:00"), 4L, "mover")) // close the window
    q.processAllAvailable()
    val rows = spark.table("prepwin").collect()
      .map(r => (r.getAs[Timestamp]("h"), r.getLong(1), r.getLong(2)))
    q.stop()
    // 2 surviving docs (3 + 2 tokens) in the finalized 10:00 window
    assert(rows.toSeq == Seq((ts("2024-01-01 10:00:00"), 2L, 5L)))
  }

  test("T2: foreachBatch lake sink appends parquet partitioned by symbol") {
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("lake").toString
    val mem = MemoryStream[String]
    val parsed = TickIngest.parseTicks(mem.toDF())
    val q = TickIngest.startLakeSink(parsed, s"$dir/data", s"$dir/ckpt",
      org.apache.spark.sql.streaming.Trigger.AvailableNow())
    mem.addData(
      """{"symbol":"FPT","time":"2023-02-07T09:30:00.000Z","close":80.7,"volume":"1","previous_close":"80.1","ref":"80.0","ceil":"85.6","floor":"74.4","open":80.5,"high":81.9,"low":80.5}""",
      """{"symbol":"VNM","time":"2023-02-07T09:30:00.000Z","close":70.1,"volume":"2","previous_close":"70.0","ref":"70.0","ceil":"74.9","floor":"65.1","open":70.0,"high":70.5,"low":69.9}""")
    q.awaitTermination(30000)
    val lake = spark.read.parquet(s"$dir/data")
    assert(lake.count() == 2)
    assert(lake.select("symbol").distinct().count() == 2)
  }

  test("T2: lake sink is idempotent across batch replays (exactly-once)") {
    // a crash between the parquet append and the checkpoint commit
    // replays the whole micro-batch — the anti-join against the target's
    // (symbol, time) keys must make the replay a no-op (the reference's
    // Cassandra-PK upsert semantics)
    val dir = java.nio.file.Files.createTempDirectory("lake-replay").toString
    val path = s"$dir/data"
    val batch1 = Seq(
      ("FPT", ts("2023-02-07 09:30:00"), 80.7),
      ("FPT", ts("2023-02-07 09:30:00"), 80.7), // in-batch dup
      ("VNM", ts("2023-02-07 09:30:00"), 70.1))
      .toDF("symbol", "time", "close")
    TickIngest.appendBatchIdempotent(batch1, path)
    assert(spark.read.parquet(path).count() == 2)
    // full replay: nothing new lands
    TickIngest.appendBatchIdempotent(batch1, path)
    assert(spark.read.parquet(path).count() == 2)
    // partial overlap: only the genuinely new rows append
    val batch2 = Seq(
      ("FPT", ts("2023-02-07 09:30:00"), 99.9), // key exists: dropped
      ("FPT", ts("2023-02-07 09:30:10"), 80.9), // new time
      ("HPG", ts("2023-02-07 09:30:00"), 21.5)) // new symbol
      .toDF("symbol", "time", "close")
    TickIngest.appendBatchIdempotent(batch2, path)
    val lake = spark.read.parquet(path)
    assert(lake.count() == 4)
    // the existing key kept its ORIGINAL row (append-only, no overwrite)
    assert(lake.where(col("symbol") === "FPT" &&
      col("time") === ts("2023-02-07 09:30:00"))
      .head().getAs[Double]("close") == 80.7)
    // empty batch: no-op, no write
    TickIngest.appendBatchIdempotent(batch1.limit(0), path)
    assert(spark.read.parquet(path).count() == 4)
    // null keys are still exactly-once: a null event time (malformed
    // upstream tick) and a null symbol must both append once and dedup
    // on replay — a null-rejecting anti-join would re-append them on
    // every replay, an all-null-time batch must not read as "empty"
    val nullish = Seq(
      ("FPT", null.asInstanceOf[Timestamp], 11.1),
      (null.asInstanceOf[String], ts("2023-02-07 09:31:00"), 12.2))
      .toDF("symbol", "time", "close")
    TickIngest.appendBatchIdempotent(nullish, path)
    assert(spark.read.parquet(path).count() == 6)
    TickIngest.appendBatchIdempotent(nullish, path) // replay: no-op
    assert(spark.read.parquet(path).count() == 6)
    val allNullTime = Seq(("VNM", null.asInstanceOf[Timestamp], 13.3))
      .toDF("symbol", "time", "close")
    TickIngest.appendBatchIdempotent(allNullTime, path)
    TickIngest.appendBatchIdempotent(allNullTime, path)
    assert(spark.read.parquet(path).count() == 7)
    // symbols needing partition-name ESCAPING ("ES=F" writes to
    // symbol=ES%3DF) must still dedup on replay — a raw "symbol=$s"
    // existence check misses the escaped dir and silently re-appends
    val escaped = Seq(("ES=F", ts("2023-02-07 09:32:00"), 14.4))
      .toDF("symbol", "time", "close")
    TickIngest.appendBatchIdempotent(escaped, path)
    TickIngest.appendBatchIdempotent(escaped, path)
    val lake2 = spark.read.parquet(path)
    assert(lake2.count() == 8)
    assert(lake2.where(col("symbol") === "ES=F").count() == 1)
  }

  test("T2: replays of numeric-looking and 40-symbol batches append nothing") {
    // "005930" must stay a string on the existing-keys read (partition
    // inference would read 5930 and the replay key would stop matching),
    // and a batch over more than 32 symbol dirs must dedup the same way
    val dir = java.nio.file.Files.createTempDirectory("lake-replay-wide").toString
    val path = s"$dir/data"
    val numeric = Seq(
      ("005930", ts("2023-02-07 09:30:00"), 71.2),
      ("000660", ts("2023-02-07 09:30:00"), 120.5))
      .toDF("symbol", "time", "close")
    TickIngest.appendBatchIdempotent(numeric, path)
    TickIngest.appendBatchIdempotent(numeric, path)
    assert(spark.read.parquet(path).count() == 2)
    val wide = (0 until 40).map(i => (s"S$i", ts("2023-02-07 09:31:00"), i.toDouble))
      .toDF("symbol", "time", "close")
    assert(TickIngest.appendBatchIdempotent(wide, path).size == 40)
    TickIngest.appendBatchIdempotent(wide, path)
    TickIngest.appendBatchIdempotent(numeric.union(wide), path)
    assert(spark.read.parquet(path).count() == 42)
  }

  test("NearDupGate: cross-batch near-dups drop, replays idempotent") {
    import graft.streaming.NearDupGate
    val dir = java.nio.file.Files.createTempDirectory("neardup").toString
    val (out, state) = (s"$dir/out", s"$dir/state")
    val base = (0 until 60).map(i => s"tok$i").mkString(" ")
    val other = (0 until 60).map(i => s"alpha$i").mkString(" ")
    // batch 1: A, its exact copy, and one distinct doc — the batch-local
    // component keeps min id, the distinct doc passes
    val b1 = Seq((1L, base), (2L, base), (3L, other)).toDF("doc_id", "text")
    assert(NearDupGate.curateBatch(b1, out, state) == 2L)
    assert(spark.read.parquet(out).select("doc_id").as[Long].collect().sorted
      .sameElements(Array(1L, 3L)))
    // batch 2: a NEAR-dup of an admitted doc (one token changed) drops
    // via the state probe; an exact copy of DROPPED doc 2 drops too
    // (the state registers dropped docs' bands, not just survivors');
    // a genuinely new doc and a too-short-to-shingle doc both pass
    val b2 = Seq(
      (10L, base.replace("tok57", "changed")),
      (11L, (0 until 60).map(i => s"beta$i").mkString(" ")),
      (12L, "tiny doc"),
      (13L, base))
      .toDF("doc_id", "text")
    assert(NearDupGate.curateBatch(b2, out, state) == 2L)
    // full replay of batch 2: zero newly admitted, no duplicates
    assert(NearDupGate.curateBatch(b2, out, state) == 0L)
    assert(spark.read.parquet(out).select("doc_id").as[Long].collect().sorted
      .sameElements(Array(1L, 3L, 11L, 12L)))
    // parameter binding: a restart with different banding fails loudly
    // instead of silently never colliding with the existing state
    val pex = intercept[IllegalArgumentException] {
      NearDupGate.curateBatch(b2, out, state, bands = 32)
    }
    assert(pex.getMessage.contains("parameter-bound"))
    // and through the streaming sink: one more near-dup + one new doc
    // (data added BEFORE start: AvailableNow snapshots offsets at start)
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    mem.addData((20L, other.replace("alpha57", "x")), // near-dup of 3: drop
      (21L, (0 until 60).map(i => s"gamma$i").mkString(" ")))
    val q = NearDupGate.startNearDupSink(
      mem.toDF().toDF("doc_id", "text"), out, state, s"$dir/ckpt",
      org.apache.spark.sql.streaming.Trigger.AvailableNow())
    q.awaitTermination(60000)
    assert(spark.read.parquet(out).select("doc_id").as[Long].collect().sorted
      .sameElements(Array(1L, 3L, 11L, 12L, 21L)))
  }

  test("NearDupGate: short docs register fingerprints — exact copies drop") {
    // the r5 hole: docs too short to shingle passed the gate WITHOUT
    // registering anything, so unlimited exact copies were admitted
    // forever. v2 registers a whole-text fingerprint (band = -1) and
    // dedups short docs exactly, in-batch and cross-batch.
    import graft.streaming.NearDupGate
    val dir = java.nio.file.Files.createTempDirectory("neardup-short").toString
    val (out, state) = (s"$dir/out", s"$dir/state")
    val b1 = Seq((1L, "tiny doc"), (2L, "tiny doc"), (3L, "also small"))
      .toDF("doc_id", "text")
    assert(NearDupGate.curateBatch(b1, out, state) == 2L) // 2 is an in-batch copy
    // cross-batch: the exact copy of an ADMITTED short doc drops, and a
    // fresh short doc passes
    val b2 = Seq((10L, "tiny doc"), (11L, "fresh thing")).toDF("doc_id", "text")
    assert(NearDupGate.curateBatch(b2, out, state) == 1L)
    // a copy of the DROPPED short doc 2 also drops (state registers all)
    val b3 = Seq((20L, "tiny doc")).toDF("doc_id", "text")
    assert(NearDupGate.curateBatch(b3, out, state) == 0L)
    assert(NearDupGate.curateBatch(b2, out, state) == 0L) // replay: no-op
    assert(spark.read.parquet(out).select("doc_id").as[Long].collect().sorted
      .sameElements(Array(1L, 3L, 11L)))
  }

  test("NearDupGate: state band collisions are est-verified, not conservative") {
    // r5 dropped on ANY band collision with state (false-positive rate =
    // banding collision probability). v2 fetches the colliding seen
    // signatures and verifies estimated Jaccard >= threshold — so a
    // PLANTED single-band collision between genuinely-dissimilar docs
    // must PASS, while a true near-dup still drops. The plant is found
    // deterministically (fixed md5-based hashes): variants share a
    // 35-token prefix with base (true Jaccard ~0.38 < 0.5) and we pick
    // the first whose signature shares >= 1 of the 16 band slices.
    import graft.functions.Dedup
    import graft.streaming.NearDupGate
    val base = (0 until 60).map(i => s"tok$i").mkString(" ")
    def variant(v: Int): String =
      ((0 until 35).map(i => s"tok$i") ++ (35 until 60).map(j => s"alt${v}x$j"))
        .mkString(" ")
    val all = (Seq((0L, base)) ++ (1 to 60).map(v => (v.toLong, variant(v))))
      .toDF("doc_id", "text")
    val sigMap = Dedup.minhashSignatures(
        Dedup.shinglesRaw(all, "doc_id", "text", 5), 64)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toIndexedSeq).toMap
    def sharesBand(a: Seq[Long], b: Seq[Long]): Boolean =
      a.grouped(4).toSeq.zip(b.grouped(4).toSeq).exists { case (x, y) => x == y }
    def est(a: Seq[Long], b: Seq[Long]): Double =
      a.zip(b).count { case (x, y) => x == y } / 64.0
    val planted = (1 to 60).find { v =>
      sharesBand(sigMap(0L), sigMap(v.toLong)) &&
        est(sigMap(0L), sigMap(v.toLong)) < 0.45
    }
    assert(planted.isDefined,
      "no planted band collision found — adjust the variant construction")
    val dir = java.nio.file.Files.createTempDirectory("neardup-verify").toString
    val (out, state) = (s"$dir/out", s"$dir/state")
    assert(NearDupGate.curateBatch(
      Seq((0L, base)).toDF("doc_id", "text"), out, state) == 1L)
    // the planted collision: colliding band, est < threshold → ADMITTED
    assert(NearDupGate.curateBatch(
      Seq((100L, variant(planted.get))).toDF("doc_id", "text"), out, state) == 1L,
      s"planted non-near-dup collision (variant ${planted.get}) was dropped")
    // a true near-dup of base (one token changed, est >> threshold) drops
    val near = base.replace("tok57", "changed")
    assert(NearDupGate.curateBatch(
      Seq((200L, near)).toDF("doc_id", "text"), out, state) == 0L)
  }

  test("NearDupGate maintenance: bucket compaction + reshard keep semantics") {
    import graft.streaming.{LakeMaintenance, NearDupGate}
    val dir = java.nio.file.Files.createTempDirectory("neardup-maint").toString
    val (out, state) = (s"$dir/out", s"$dir/state")
    def doc(i: Int): String = (0 until 60).map(j => s"d${i}w$j").mkString(" ")
    // five single-doc batches accrete one file per touched bucket each
    (0 until 5).foreach { i =>
      assert(NearDupGate.curateBatch(
        Seq((i.toLong, doc(i))).toDF("doc_id", "text"),
        out, state, buckets = 8) == 1L)
    }
    val (parts, before, after) = LakeMaintenance.compactPartitioned(
      spark, s"$state/bands", "bucket=", maxFiles = 1)
    assert(parts >= 1 && after < before,
      s"compaction did nothing: $parts parts, $before -> $after files")
    LakeMaintenance.compactPartitioned(spark, s"$state/sigs", "bucket=", maxFiles = 1)
    // the compacted state still drops a near-dup of doc 0
    assert(NearDupGate.curateBatch(
      Seq((100L, doc(0).replace("d0w57", "x"))).toDF("doc_id", "text"),
      out, state, buckets = 8) == 0L)
    // reshard 8 -> 32: layout + marker rewritten, gate continues — and
    // the marker is AUTHORITATIVE for the layout, so a caller still
    // passing the pre-reshard count (the auto-reshard sink's situation
    // every batch after a reshard) probes the new layout correctly.
    // The reshard must preserve the EXACT row sets of all three
    // layouts (only bucket assignments change).
    def rowSets = (
      spark.read.parquet(s"$state/bands").drop("bucket").collect()
        .map(_.toString).sorted.toSeq,
      spark.read.parquet(s"$state/sigs").drop("bucket")
        .selectExpr("doc_id", "cast(sig as string)").collect()
        .map(_.toString).sorted.toSeq,
      spark.read.parquet(out).drop("bucket").collect()
        .map(_.toString).sorted.toSeq)
    val beforeRows = rowSets
    NearDupGate.reshardState(spark, out, state, 32)
    assert(NearDupGate.currentBuckets(spark, state).contains(32))
    assert(rowSets == beforeRows, "reshard changed table contents")
    assert(NearDupGate.curateBatch(
      Seq((101L, doc(1).replace("d1w3", "z"))).toDF("doc_id", "text"),
      out, state, buckets = 8) == 0L) // stale param, marker wins
    assert(NearDupGate.curateBatch(
      Seq((102L, doc(2).replace("d2w10", "y"))).toDF("doc_id", "text"),
      out, state, buckets = 32) == 0L) // resharded probe still collides
    val b = Seq((103L, (0 until 60).map(j => s"neww$j").mkString(" ")))
      .toDF("doc_id", "text")
    assert(NearDupGate.curateBatch(b, out, state, buckets = 32) == 1L)
    assert(NearDupGate.curateBatch(b, out, state, buckets = 32) == 0L) // replay
    assert(spark.read.parquet(out).select("doc_id").as[Long].collect().sorted
      .sameElements(Array(0L, 1L, 2L, 3L, 4L, 103L)))
  }

  /** Marker text + split-path count helpers for the trie tests. */
  private def gateMarker(state: String): String = {
    val p = new org.apache.hadoop.fs.Path(state, "_gate_params")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val in = fs.open(p)
    try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
    finally in.close()
  }
  private def gateSplitCount(state: String): Int = {
    val re = "split=bands:([^|]*)\\|sigs:([^|]*)\\|out:([^,]*),".r
    re.findFirstMatchIn(gateMarker(state)).map(m => (1 to 3)
      .map(m.group).map(s => if (s.isEmpty) 0 else s.split("\\.").length).sum)
      .getOrElse(-1)
  }

  test("NearDupGate sink: auto-split grows the trie past the byte target") {
    // reshardBucketBytes makes bounded probe cost AUTOMATIC — and the
    // maintenance window bounded too: each compaction window splits at
    // most ONE over-target leaf into its 4 children (never the r6
    // stop-the-world full rewrite); later batches pick the grown trie
    // up from the marker — dedup semantics unbroken across the growth
    import graft.streaming.NearDupGate
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("neardup-auto").toString
    val (out, state) = (s"$dir/out", s"$dir/state")
    def doc(i: Int): String = (0 until 60).map(j => s"a${i}w$j").mkString(" ")
    val mem = MemoryStream[(Long, String)]
    val q = NearDupGate.startNearDupSink(
      mem.toDF().toDF("doc_id", "text"), out, state, s"$dir/ckpt",
      org.apache.spark.sql.streaming.Trigger.ProcessingTime(0),
      buckets = 2, compactEvery = 1, reshardBucketBytes = 1L)
    mem.addData((0L, doc(0)), (1L, doc(1)))
    q.processAllAvailable() // batch 0: curate, compact, split ONE leaf
    // the root fan-out never changes; the trie grew by exactly one split
    assert(NearDupGate.currentBuckets(spark, state).contains(2))
    assert(gateSplitCount(state) == 1, gateMarker(state))
    mem.addData((10L, doc(0).replace("a0w7", "x")), // near-dup: drop
      (11L, doc(7)))                                // fresh: admit
    q.processAllAvailable() // batch 1 probes the mixed trie
    q.stop()
    // a mixed-depth trie defeats plain partition inference — external
    // readers go through readOutput (manifest when present, recursive
    // lookup here)
    assert(NearDupGate.readOutput(spark, out)
      .select("doc_id").as[Long].collect().sorted
      .sameElements(Array(0L, 1L, 11L)))
    assert(gateSplitCount(state) == 2, gateMarker(state)) // one more window, one more leaf
  }

  test("NearDupGate: mitigateHotBands mines diverse boilerplate bands, near-dups still drop") {
    // the r7 adversarial scale edge: a band key shared by a large corpus
    // fraction (boilerplate) dominates one leaf; the split skew guard
    // refuses it, and before r8 nothing shrank it — every colliding
    // batch fetched the whole collision set. mitigateHotBands mines such
    // keys into the persisted drop list, rewrites their rows out, and
    // curateBatch consumes the list before probing AND registration.
    // Only DIVERSE keys (many distinct member signatures) are mined —
    // a duplicate cluster (one doc flooded) dedupes instead, see the
    // hot short-doc test below.
    import graft.streaming.NearDupGate
    val dir = java.nio.file.Files.createTempDirectory("neardup-hot").toString
    val (out, state) = (s"$dir/out", s"$dir/state")
    def bandsBytes: Long = {
      val root = new org.apache.hadoop.fs.Path(s"$state/bands")
      val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
      def walk(p: org.apache.hadoop.fs.Path): Long =
        fs.listStatus(p).map { s =>
          if (s.isDirectory) walk(s.getPath)
          else if (s.getPath.getName.endsWith(".parquet")) s.getLen else 0L
        }.sum
      walk(root)
    }
    // template corpus: 200 common tokens + ONE unique trailing token per
    // doc. Only 1 of 197 shingles differs, so nearly every doc's 16 band
    // values are the all-common ones — each dominant band key accretes
    // 100+ membership rows carrying MANY DISTINCT full signatures (the
    // unique shingle wins some minhash position for a good fraction of
    // docs): the diverse-boilerplate hot-key shape.
    val common = (0 until 200).map(i => s"bp$i").mkString(" ")
    def tpl(idBase: Long, n: Int) =
      (0 until n).map(i => (idBase + i, s"$common u${idBase + i}"))
        .toDF("doc_id", "text")
    // batch 1 admits the component minimum, the rest est-verify ~0.99
    // and drop — but EVERY processed doc registers its 16 band rows
    assert(NearDupGate.curateBatch(tpl(0, 50), out, state, buckets = 4) == 1L)
    assert(NearDupGate.curateBatch(tpl(1000, 50), out, state, buckets = 4) == 0L)
    assert(NearDupGate.curateBatch(tpl(2000, 50), out, state, buckets = 4) == 0L)
    val before = bandsBytes
    // maintenance: every DIVERSE key with >= 100 membership rows in an
    // over-target leaf is mined (maxBandMembers is the per-probe
    // collision fan-out bound)
    val mined = NearDupGate.mitigateHotBands(spark, out, state,
      targetBytes = 1L, maxBandMembers = 100L)
    assert(mined.nonEmpty, "no hot bands mined")
    assert(mined.forall(_._1 >= 0),
      "only diverse word-band keys should be mined here")
    assert(bandsBytes < before, s"hot leaf did not shrink: $before -> $bandsBytes")
    // idempotent: the rows are rewritten out, nothing new to mine
    assert(NearDupGate.mitigateHotBands(spark, out, state, 1L, 100L).isEmpty)
    // regrowth STOPS: new template docs register NOTHING under the mined
    // keys (their doc-unique band rows may still register — that is the
    // leaf growing at corpus rate, not at flood rate). Distinct template
    // variants are admitted: the mined boilerplate bands were their only
    // shared signal (the dropShingles semantics).
    assert(NearDupGate.curateBatch(tpl(3000, 5), out, state, buckets = 4) == 5L)
    val minedDf = mined.toDF("band", "band_hash")
    val bandRows = spark.read.option("recursiveFileLookup", "true")
      .parquet(s"$state/bands")
    assert(bandRows.join(minedDf, Seq("band", "band_hash"), "left_semi")
      .count() == 0L, "mined band keys regrew")
    // EXACT dedup survives total boilerplate: the pure-common doc's
    // every band is mined, so it rides the whole-text fingerprint
    // fallback channel (band = -1: probed + registered, never mined)
    assert(NearDupGate.curateBatch(
      Seq((6000L, common)).toDF("doc_id", "text"), out, state, buckets = 4) == 1L)
    assert(NearDupGate.curateBatch(
      Seq((6001L, common)).toDF("doc_id", "text"), out, state, buckets = 4) == 0L)
    // batch-local too: identical all-hot copies dedupe to one inside a batch
    assert(NearDupGate.curateBatch(
      (0 until 5).map(i => (7000L + i, s"$common extracopy"))
        .toDF("doc_id", "text"), out, state, buckets = 4) == 1L)
    // near-dup detection SURVIVES for non-boilerplate content: fresh doc
    // admits, its near-dup drops via its own (un-mined) bands
    val fresh = (0 until 60).map(i => s"nx$i").mkString(" ")
    assert(NearDupGate.curateBatch(
      Seq((5000L, fresh)).toDF("doc_id", "text"), out, state, buckets = 4) == 1L)
    assert(NearDupGate.curateBatch(
      Seq((5001L, fresh.replace("nx57", "y"))).toDF("doc_id", "text"),
      out, state, buckets = 4) == 0L)
  }

  test("NearDupGate: a low-cardinality variant flood dedupes — its band channel survives") {
    // r9 ADVICE: under the old `nsig > 1` rule, a flood of just TWO
    // variants of one document counted as "diverse boilerplate" and was
    // mined — permanently disabling near-dup detection on that band
    // channel, the exact recall loss the duplicate-cluster carve-out
    // exists to prevent. Mining now requires >= MinedMinSigs distinct
    // member signatures; a 2-signature flood falls on the dedupe side.
    import graft.streaming.NearDupGate
    val dir = java.nio.file.Files.createTempDirectory("neardup-varflood").toString
    val (out, state) = (s"$dir/out", s"$dir/state")
    val base = (0 until 80).map(i => s"vf$i").mkString(" ")
    val variantB = base.replace("vf70", "zz")
    // 120 copies across batches, alternating the two variants: every
    // shared band key accretes 100+ members carrying exactly 2 distinct
    // signatures
    def flood(idBase: Long) = (0 until 40).map { i =>
      (idBase + i, if (i % 2 == 0) base else variantB)
    }.toDF("doc_id", "text")
    assert(NearDupGate.curateBatch(flood(0), out, state, buckets = 4) == 1L)
    assert(NearDupGate.curateBatch(flood(1000), out, state, buckets = 4) == 0L)
    assert(NearDupGate.curateBatch(flood(2000), out, state, buckets = 4) == 0L)
    // maintenance: the hot keys are a variant flood, NOT boilerplate —
    // nothing may be mined; the keys dedupe to one representative each
    // (threshold 50 catches both the 120-member shared keys and the
    // 60-member keys where one variant's unique shingle won a band)
    val mined = NearDupGate.mitigateHotBands(spark, out, state,
      targetBytes = 1L, maxBandMembers = 50L)
    assert(mined.isEmpty,
      s"a 2-variant flood was mined as diverse boilerplate: $mined")
    // the channel SURVIVES: a fresh near-dup variant of the flooded doc
    // still collides (with the deduped representative) and drops
    assert(NearDupGate.curateBatch(
      Seq((9000L, base.replace("vf10", "qq"))).toDF("doc_id", "text"),
      out, state, buckets = 4) == 0L)
    // and the leaf is bounded: the hot keys' membership deduped
    val bandRows = spark.read.option("recursiveFileLookup", "true")
      .parquet(s"$state/bands")
    val maxMembers = bandRows.where(col("band") >= 0)
      .groupBy("band", "band_hash").count()
      .agg(max("count")).head().getLong(0)
    assert(maxMembers <= 10L,
      s"variant-flood keys not deduped: max membership $maxMembers")
  }

  test("NearDupGate: compactHotBands bounds the drop list without losing keys") {
    // the drop list accretes one tiny file per mitigateHotBands run
    // (duplicates inert, growth unbounded); the maintenance cadence
    // compacts it to ONE distinct-keys file with the key set unchanged
    import graft.streaming.NearDupGate
    val dir = java.nio.file.Files.createTempDirectory("neardup-hotcompact").toString
    val (out, state) = (s"$dir/out", s"$dir/state")
    def tpl(c: String, idBase: Long, n: Int) =
      (0 until n).map { i =>
        val id = idBase + i
        (id, s"$c u$id v$id w$id") // 3 unique tokens: distinct signatures
      }.toDF("doc_id", "text")
    val common1 = (0 until 200).map(i => s"aa$i").mkString(" ")
    val common2 = (0 until 200).map(i => s"zz$i").mkString(" ")
    // two mitigation rounds against two different boilerplate templates
    // → two drop-list files. 30 docs/template so the shared band keys
    // carry well over MinedMinSigs distinct member signatures (at 12 a
    // handful of all-common-signature docs can dip nsig below the
    // mined threshold and flip the keys to the dedupe side)
    assert(NearDupGate.curateBatch(tpl(common1, 0, 30), out, state, buckets = 4) == 1L)
    val mined1 = NearDupGate.mitigateHotBands(spark, out, state,
      targetBytes = 1L, maxBandMembers = 10L)
    assert(mined1.nonEmpty)
    assert(NearDupGate.curateBatch(tpl(common2, 1000, 30), out, state, buckets = 4) == 1L)
    val mined2 = NearDupGate.mitigateHotBands(spark, out, state,
      targetBytes = 1L, maxBandMembers = 10L)
    assert(mined2.nonEmpty)
    def dropFiles: Int = {
      val p = new org.apache.hadoop.fs.Path(s"$state/_hot_bands")
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.listStatus(p).count(s =>
        s.isFile && s.getPath.getName.endsWith(".parquet"))
    }
    def keys = NearDupGate.readHotBands(spark, state).get
      .collect().map(r => (r.getInt(0), r.getLong(1))).toSet
    assert(dropFiles >= 2)
    val before = keys
    NearDupGate.compactHotBands(spark, state)
    assert(dropFiles == 1, "drop list not bounded to one file")
    assert(keys == before, "compaction changed the mined key set")
    // idempotent, and the compacted list still prunes: fresh template-1
    // variants carry no remaining shared signal, so they admit
    NearDupGate.compactHotBands(spark, state)
    assert(dropFiles == 1)
    assert(NearDupGate.curateBatch(tpl(common1, 3000, 3), out, state, buckets = 4) == 3L)
  }

  test("NearDupGate property: invariants hold under a random flood/mitigation sequence") {
    // randomized (fixed-seed) interleaving of short-doc duplicate
    // floods, diverse boilerplate batches, fresh docs, and maintenance.
    // Afterwards, regardless of what got mined or deduped:
    //  (a) an exact copy of ANY seen short doc still drops — the
    //      fingerprint channel (band = -1) is deduped, never dropped;
    //  (b) a genuinely fresh doc still admits;
    //  (c) a near-dup variant of a previously admitted fresh doc still
    //      drops — unique docs' band keys can never become hot;
    //  (d) immediately after each mitigation, no band key in the state
    //      exceeds the maxBandMembers bound (the per-probe fan-out cap).
    // (An exact copy of a PRE-mitigation all-boilerplate doc is the one
    // deliberate non-invariant: mining erased its entire channel — the
    // dropShingles semantics, pinned in the diverse-boilerplate test.)
    import graft.streaming.NearDupGate
    val rnd = new scala.util.Random(97)
    val dir = java.nio.file.Files.createTempDirectory("neardup-prop").toString
    val (out, state) = (s"$dir/out", s"$dir/state")
    val common = (0 until 200).map(i => s"pp$i").mkString(" ")
    var nextId = 5000L
    def id(): Long = { nextId += 1; nextId }
    val shortSeen = scala.collection.mutable.ArrayBuffer.empty[String]
    val freshSeen = scala.collection.mutable.ArrayBuffer.empty[String]
    def curate(rows: Seq[(Long, String)]): Long =
      NearDupGate.curateBatch(rows.toDF("doc_id", "text"), out, state, buckets = 4)
    def maxMembership: Long =
      spark.read.option("recursiveFileLookup", "true").parquet(s"$state/bands")
        .groupBy("band", "band_hash").count()
        .agg(max("count")).head().getLong(0)
    for (step <- 0 until 6) {
      rnd.nextInt(3) match {
        case 0 => // duplicate flood of one short doc
          val text = s"tiny flood ${rnd.nextInt(3)}"
          curate((0 until 15).map(_ => (id(), text)))
          shortSeen += text
        case 1 => // diverse boilerplate: shared template, unique tails
          curate((0 until 12).map { _ =>
            val i = id(); (i, s"$common u$i v$i")
          })
        case 2 => // fresh unique long docs
          val docs = (0 until 3).map { _ =>
            val i = id()
            (i, (0 until 60).map(j => s"f${i}w$j").mkString(" "))
          }
          assert(curate(docs) == 3L, s"step $step: fresh docs must admit")
          freshSeen ++= docs.map(_._2)
      }
      if (rnd.nextBoolean()) {
        NearDupGate.mitigateHotBands(spark, out, state,
          targetBytes = 1L, maxBandMembers = 10L)
        assert(maxMembership < 10L,
          s"step $step: mitigation left a key over the fan-out bound")
      }
    }
    // (a) every distinct seen short doc's exact copy drops
    shortSeen.distinct.foreach { t =>
      assert(curate(Seq((id(), t))) == 0L, s"seen short doc readmitted: $t")
    }
    // (b) fresh admits, (c) its near-dup variant drops
    freshSeen.headOption.foreach { t =>
      assert(curate(Seq((id(), t.replace("w7 ", "w7x ")))) == 0L,
        "near-dup variant of an admitted fresh doc passed the gate")
    }
    assert(curate(Seq((id(),
      (0 until 60).map(j => s"brandnew$j").mkString(" ")))) == 1L)
  }

  test("NearDupGate: hot short-doc fingerprints dedupe without losing exactness") {
    // the OTHER hot-key shape: a ubiquitous short doc. Its band = -1
    // fingerprint rows accrete one per processed copy; dropping the key
    // would break exact dedup (the collision IS the decision), so
    // mitigation DEDUPES the rows to one representative instead.
    import graft.streaming.NearDupGate
    val dir = java.nio.file.Files.createTempDirectory("neardup-hotfp").toString
    val (out, state) = (s"$dir/out", s"$dir/state")
    def rows(idBase: Long, n: Int) =
      (0 until n).map(i => (idBase + i, "tiny doc")).toDF("doc_id", "text")
    assert(NearDupGate.curateBatch(rows(0, 60), out, state, buckets = 4) == 1L)
    assert(NearDupGate.curateBatch(rows(1000, 60), out, state, buckets = 4) == 0L)
    def fpRows: Long = {
      val root = new org.apache.hadoop.fs.Path(s"$state/bands")
      spark.read.option("recursiveFileLookup", "true").parquet(root.toString)
        .where($"band" === -1).count()
    }
    assert(fpRows == 120L)
    val mined = NearDupGate.mitigateHotBands(spark, out, state,
      targetBytes = 1L, maxBandMembers = 100L)
    assert(mined.isEmpty, "fingerprint keys must dedupe, not join the drop list")
    assert(fpRows == 1L, s"expected 1 deduped fingerprint row, got $fpRows")
    // exact-drop semantics intact: a new copy still drops, fresh passes
    assert(NearDupGate.curateBatch(rows(2000, 3), out, state, buckets = 4) == 0L)
    assert(NearDupGate.curateBatch(
      Seq((3000L, "other tiny")).toDF("doc_id", "text"), out, state, buckets = 4) == 1L)
  }

  test("NearDupGate: splitLargestLeaf splits one leaf; probes stay correct") {
    import graft.streaming.NearDupGate
    val dir = java.nio.file.Files.createTempDirectory("neardup-split").toString
    val (out, state) = (s"$dir/out", s"$dir/state")
    def doc(i: Int): String = (0 until 60).map(j => s"s${i}w$j").mkString(" ")
    assert(NearDupGate.curateBatch(
      (0 until 8).map(i => (i.toLong, doc(i))).toDF("doc_id", "text"),
      out, state, buckets = 2) == 8L)
    def allRows(d: String) =
      spark.read.option("recursiveFileLookup", "true").parquet(d)
        .selectExpr("*").collect().map(_.toString).sorted.toSeq
    def snapshot = (allRows(s"$state/bands"),
      spark.read.option("recursiveFileLookup", "true").parquet(s"$state/sigs")
        .selectExpr("doc_id", "cast(sig as string)").collect()
        .map(_.toString).sorted.toSeq,
      allRows(out))
    val before = snapshot
    // ONE leaf splits; every row of all three layouts is preserved
    val s1 = NearDupGate.splitLargestLeaf(spark, out, state, 1L)
    assert(s1.isDefined)
    assert(gateSplitCount(state) == 1, gateMarker(state))
    assert(snapshot == before, "split changed table contents")
    // the split leaf's dir now holds only child dirs, no direct files
    locally {
      val (l, p) = s1.get
      val root = new org.apache.hadoop.fs.Path(
        if (l == "out") out else s"$state/$l")
      val leaf = p.tail.zipWithIndex.foldLeft(
        new org.apache.hadoop.fs.Path(root, s"bucket=${p.head}")) {
        case (q, (c, i)) => new org.apache.hadoop.fs.Path(q,
          (if (i == 0) "child" else s"child${i + 1}") + s"=$c")
      }
      val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val entries = fs.listStatus(leaf)
      assert(entries.exists(e => e.isDirectory && e.getPath.getName.startsWith("child")))
      assert(!entries.exists(e => e.isFile && e.getPath.getName.endsWith(".parquet")))
    }
    // semantics across the mixed trie: near-dup drops, fresh admits,
    // replay no-op (stale caller-supplied buckets: marker wins)
    assert(NearDupGate.curateBatch(
      Seq((100L, doc(3).replace("s3w9", "x"))).toDF("doc_id", "text"),
      out, state, buckets = 64) == 0L)
    val fresh = Seq((101L, (0 until 60).map(j => s"fresh$j").mkString(" ")))
      .toDF("doc_id", "text")
    assert(NearDupGate.curateBatch(fresh, out, state, buckets = 2) == 1L)
    assert(NearDupGate.curateBatch(fresh, out, state, buckets = 2) == 0L)
    // the next window splits a DIFFERENT leaf (one per window, bounded)
    val s2 = NearDupGate.splitLargestLeaf(spark, out, state, 1L)
    assert(s2.isDefined && s2 != s1)
    // a child can split AGAIN (depth 2) — recursive growth, no promotion
    locally {
      val (l, p) = s1.get
      val root = new org.apache.hadoop.fs.Path(
        if (l == "out") out else s"$state/$l")
      val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val leaf = new org.apache.hadoop.fs.Path(root, s"bucket=${p.head}")
      val child = fs.listStatus(leaf)
        .filter(s => s.isDirectory && s.getPath.getName.startsWith("child="))
        .find(c => fs.listStatus(c.getPath)
          .exists(f => f.isFile && f.getPath.getName.endsWith(".parquet")))
      assert(child.isDefined, "split leaf has no non-empty children")
      val cIdx = child.get.getPath.getName.stripPrefix("child=").toInt
      val beforeDeep = snapshot
      NearDupGate.splitNode(spark, out, state, l, p :+ cIdx)
      assert(snapshot == beforeDeep, "depth-2 split changed table contents")
      assert(NearDupGate.curateBatch(
        Seq((102L, doc(5).replace("s5w2", "y"))).toDF("doc_id", "text"),
        out, state, buckets = 2) == 0L) // still collides through depth 2
    }
  }

  test("NearDupGate: crash mid-split self-heals in both fence phases") {
    import graft.streaming.NearDupGate
    val dir = java.nio.file.Files.createTempDirectory("neardup-splitcrash").toString
    val (out, state) = (s"$dir/out", s"$dir/state")
    def doc(i: Int): String = (0 until 60).map(j => s"c${i}w$j").mkString(" ")
    assert(NearDupGate.curateBatch(
      (0 until 6).map(i => (i.toLong, doc(i))).toDF("doc_id", "text"),
      out, state, buckets = 2) == 6L)
    val fs = new org.apache.hadoop.fs.Path(state)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def bandsLeafWithData(b: Int): Boolean = {
      val p = new org.apache.hadoop.fs.Path(s"$state/bands/bucket=$b")
      fs.exists(p) && fs.listStatus(p)
        .exists(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
    }
    val target = if (bandsLeafWithData(0)) List(0) else List(1)
    def allRows(d: String) =
      spark.read.option("recursiveFileLookup", "true").parquet(d)
        .collect().map(_.toString).sorted.toSeq
    val before = allRows(s"$state/bands")
    // CRASH WINDOW 2: after the commit write (children authoritative,
    // stale direct files still present, cleanup fence down)
    intercept[java.io.IOException] {
      NearDupGate.splitNodeImpl(spark, out, state, "bands", target,
        crashAfterCommit = true)
    }
    assert(gateMarker(state).contains(s";split_cleanup=bands:${target.mkString("/")}"))
    // any gate run fails loudly while fenced
    val ex = intercept[IllegalArgumentException] {
      NearDupGate.curateBatch(
        Seq((50L, doc(0))).toDF("doc_id", "text"), out, state, buckets = 2)
    }
    assert(ex.getMessage.contains("split_cleanup"), ex.getMessage)
    // recovery (what the sink runs every batch) completes the cleanup
    assert(NearDupGate.recoverReshard(spark, out, state))
    assert(!gateMarker(state).contains(";"))
    assert(allRows(s"$state/bands") == before, "recovered split lost/duplicated rows")
    // CRASH WINDOW 1: fence down, nothing written yet (marker-first
    // ordering) — recovery reruns the whole split
    val other = List(1 - target.head)
    val fenced = gateMarker(state) + s";splitting=bands:${other.head}"
    locally {
      val m = new org.apache.hadoop.fs.Path(state, "_gate_params")
      val o = fs.create(m, true)
      o.write(fenced.getBytes("UTF-8")); o.close()
    }
    val ex2 = intercept[IllegalArgumentException] {
      NearDupGate.curateBatch(
        Seq((51L, doc(1))).toDF("doc_id", "text"), out, state, buckets = 2)
    }
    assert(ex2.getMessage.contains("splitting"), ex2.getMessage)
    assert(NearDupGate.recoverReshard(spark, out, state))
    assert(!gateMarker(state).contains(";"))
    assert(allRows(s"$state/bands") == before, "recovered split lost/duplicated rows")
    // the healed trie still gates correctly
    assert(NearDupGate.curateBatch(
      Seq((60L, doc(2).replace("c2w11", "z"))).toDF("doc_id", "text"),
      out, state, buckets = 2) == 0L)
    assert(NearDupGate.curateBatch(
      Seq((61L, (0 until 60).map(j => s"h$j").mkString(" "))).toDF("doc_id", "text"),
      out, state, buckets = 2) == 1L)
  }

  test("NearDupGate: skew guard never splits a single-key leaf") {
    // r6 ADVICE: all rows of one hot (band, band_hash) key land in the
    // same child at ANY fan-out, so splitting can never shrink such a
    // leaf — without the guard every maintenance window would re-split
    // it, growing the trie geometrically forever. The hot-key shape
    // here: exact copies of one EMPTY doc appending the SAME band=-1
    // fingerprint row every batch (dropped docs register state too;
    // empty text has no char shingles, so the fp row is its ONLY key).
    import graft.streaming.NearDupGate
    val dir = java.nio.file.Files.createTempDirectory("neardup-skew").toString
    val (out, state) = (s"$dir/out", s"$dir/state")
    assert(NearDupGate.curateBatch(
      Seq((1L, "")).toDF("doc_id", "text"), out, state, buckets = 1) == 1L)
    (2 to 6).foreach { i =>
      assert(NearDupGate.curateBatch(
        Seq((i.toLong, "")).toDF("doc_id", "text"), out, state) == 0L)
    }
    // the bands leaf is far over a 1-byte target but carries ONE
    // distinct key (and the out leaf one doc): nothing is splittable
    assert(NearDupGate.splitLargestLeaf(spark, out, state, 1L).isEmpty)
    assert(gateSplitCount(state) == 0, gateMarker(state))
    // stable under repeated windows — no runaway fan-out growth
    assert(NearDupGate.splitLargestLeaf(spark, out, state, 1L).isEmpty)
    assert(gateSplitCount(state) == 0, gateMarker(state))
  }

  test("NearDupGate: char-shingle fallback drops NEAR-dup short docs") {
    // the r6 documented gap: docs below shingleN tokens had no signature,
    // so only EXACT copies dropped. Char-trigram MinHash gives short docs
    // a verifiable signature in a disjoint band range (<= -2)
    import graft.streaming.NearDupGate
    val dir = java.nio.file.Files.createTempDirectory("neardup-char").toString
    val (out, state) = (s"$dir/out", s"$dir/state")
    // 4-token docs (< shingleN = 5): in-batch near-copies form one
    // char-sig component — the min id survives; a distinct short doc
    // and an empty doc pass through
    val b1 = Seq(
      (1L, "alpha beta gamma delta"),
      (2L, "alpha beta gamma delt"), // near-copy: drop (est >= 0.5)
      (3L, "totally different words here"),
      (4L, "")).toDF("doc_id", "text")
    assert(NearDupGate.curateBatch(b1, out, state) == 3L)
    // cross-batch: near-copy of a SEEN short doc est-verifies against
    // the fetched char signature and drops; distinct short doc admits
    val b2 = Seq(
      (10L, "alpha beta gamma felta"), // near-dup of 1: drop
      (11L, "orange mango papaya kiwi")).toDF("doc_id", "text")
    assert(NearDupGate.curateBatch(b2, out, state) == 1L)
    // near-copy of a DROPPED short doc also drops (state registers all),
    // and genuinely distinct short docs keep passing
    val b3 = Seq(
      (20L, "alpha beta gamma del"), // near-dup of dropped 2
      (21L, "quick brown fox jumps")).toDF("doc_id", "text")
    assert(NearDupGate.curateBatch(b3, out, state) == 1L)
    assert(NearDupGate.curateBatch(b2, out, state) == 0L) // replay: no-op
    assert(spark.read.parquet(out).select("doc_id").as[Long].collect().sorted
      .sameElements(Array(1L, 3L, 4L, 11L, 21L)))
  }

  test("NearDupGate: batchDecision equals curateBatch on empty state") {
    // the registry row q_neardup_gate runs batchDecision; this pins it
    // to the streaming gate's actual first-batch behavior so the oracle
    // coverage transfers to curateBatch
    import graft.streaming.NearDupGate
    val dir = java.nio.file.Files.createTempDirectory("neardup-twin").toString
    val (out, state) = (s"$dir/out", s"$dir/state")
    def long(i: Int): String = (0 until 60).map(j => s"t${i}w$j").mkString(" ")
    val batch = Seq(
      (1L, long(1)), (2L, long(1).replace("t1w7", "x")), // word near-dups
      (3L, long(3)),
      (4L, "alpha beta gamma delta"), (5L, "alpha beta gamma delt"), // char near-dups
      (6L, "some other short"),
      (7L, ""), (8L, ""), // exact empty pair
      (9L, "unrelated text entirely")).toDF("doc_id", "text")
    NearDupGate.curateBatch(batch, out, state)
    val streamed = spark.read.option("recursiveFileLookup", "true").parquet(out)
      .select("doc_id").as[Long].collect().sorted.toSeq
    val decided = NearDupGate.batchDecision(batch)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(decided == streamed)
    assert(decided == Seq(1L, 3L, 4L, 6L, 7L, 9L))
  }

  test("NearDupGate: a pre-split-trie marker fails loudly, never probes wrong") {
    // the class doc's compatibility contract: an r6-format state marker
    // (no split-trie section) must fail bindParams with the
    // parameter-bound message — silently probing a layout whose trie
    // shape is unknown would miss collisions without a trace
    import graft.streaming.NearDupGate
    val dir = java.nio.file.Files.createTempDirectory("neardup-v2marker").toString
    val (out, state) = (s"$dir/out", s"$dir/state")
    val fs = new org.apache.hadoop.fs.Path(state)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(new org.apache.hadoop.fs.Path(state))
    val m = new org.apache.hadoop.fs.Path(state, "_gate_params")
    val o = fs.create(m, true)
    o.write("shingleN=5,k=64,bands=16,seed=42,buckets=64".getBytes("UTF-8"))
    o.close()
    val ex = intercept[IllegalArgumentException] {
      NearDupGate.curateBatch(
        Seq((1L, "a doc long enough to shingle into something"))
          .toDF("doc_id", "text"), out, state)
    }
    assert(ex.getMessage.contains("was built with"), ex.getMessage)
  }

  test("NearDupGate: null doc_ids drop instead of poisoning the batch") {
    // a row with no identity can't be replay-idempotent (null-keyed
    // anti-joins never match) and its null bucket hash crashed the
    // collected bucket list — the contract is: excluded up front
    import graft.streaming.NearDupGate
    val dir = java.nio.file.Files.createTempDirectory("neardup-null").toString
    val text = (0 until 60).map(i => s"n$i").mkString(" ")
    val b = Seq((java.lang.Long.valueOf(1L), text),
        (null.asInstanceOf[java.lang.Long], (0 until 60).map(i => s"m$i").mkString(" ")))
      .toDF("doc_id", "text")
    assert(NearDupGate.curateBatch(b, s"$dir/out", s"$dir/state") == 1L)
    assert(spark.read.parquet(s"$dir/out").select("doc_id").as[Long].collect()
      .sameElements(Array(1L)))
  }

  test("NearDupGate: reshard fence fails gates loudly; rerun recovers a crash") {
    import graft.streaming.NearDupGate
    val dir = java.nio.file.Files.createTempDirectory("neardup-fence").toString
    val (out, state) = (s"$dir/out", s"$dir/state")
    val doc = (0 until 60).map(i => s"f$i").mkString(" ")
    assert(NearDupGate.curateBatch(
      Seq((1L, doc)).toDF("doc_id", "text"), out, state, buckets = 8) == 1L)
    val fs = new org.apache.hadoop.fs.Path(state)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // simulate a crash mid-reshard: the fence marker is down and the
    // bands layout has moved aside (the window where a marker-LAST
    // protocol would let an old-bucket gate silently read empty state)
    val marker = new org.apache.hadoop.fs.Path(state, "_gate_params")
    val params = {
      val in = fs.open(marker)
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
      finally in.close()
    }
    val o = fs.create(marker, true)
    o.write((params + ";resharding_to=32").getBytes("UTF-8")); o.close()
    assert(fs.rename(new org.apache.hadoop.fs.Path(state, "bands"),
      new org.apache.hadoop.fs.Path(state, ".bands.reshard_old")))
    // ANY gate run now fails loudly — old and new bucket counts alike
    Seq(8, 32).foreach { bkts =>
      val ex = intercept[IllegalArgumentException] {
        NearDupGate.curateBatch(
          Seq((2L, doc)).toDF("doc_id", "text"), out, state, buckets = bkts)
      }
      assert(ex.getMessage.contains("resharding_to"), ex.getMessage)
    }
    // recoverReshard completes the interrupted move toward the fenced
    // target (what the sink calls on every batch) — restores the aside
    // copy, finishes the swaps, clears the fence; the near-dup probe
    // then works at the new count
    assert(NearDupGate.recoverReshard(spark, out, state))
    assert(!NearDupGate.recoverReshard(spark, out, state)) // idempotent no-op
    assert(NearDupGate.currentBuckets(spark, state).contains(32))
    assert(NearDupGate.curateBatch(
      Seq((3L, doc.replace("f57", "x"))).toDF("doc_id", "text"),
      out, state, buckets = 32) == 0L)
    assert(NearDupGate.curateBatch(
      Seq((4L, (0 until 60).map(i => s"g$i").mkString(" "))).toDF("doc_id", "text"),
      out, state, buckets = 32) == 1L)
  }

  test("lake sink compaction hook bounds files across batches, rows intact") {
    // VERDICT item 3's acceptance: a sink run for 2N batches with
    // compactEvery = N keeps per-partition file counts bounded and the
    // row set identical; the replay anti-join still sees compacted keys
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("lake-hook").toString
    val path = s"$dir/data"
    val mem = MemoryStream[String]
    val q = TickIngest.startLakeSink(
      TickIngest.parseTicks(mem.toDF()), path, s"$dir/ckpt",
      org.apache.spark.sql.streaming.Trigger.ProcessingTime(0),
      compactEvery = 2)
    def tick(i: Int): String =
      s"""{"symbol":"FPT","time":"2023-02-07T09:30:${"%02d".format(i)}.000Z","close":80.$i,"volume":"1","previous_close":"80.1","ref":"80.0","ceil":"85.6","floor":"74.4","open":80.5,"high":81.9,"low":80.5}"""
    (0 until 6).foreach { i =>
      mem.addData(tick(i))
      q.processAllAvailable()
    }
    q.stop()
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val nFiles = fs.listStatus(new org.apache.hadoop.fs.Path(path, "symbol=FPT"))
      .count(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
    // 6 appended files would remain without the hook; the batch-5
    // compaction (6 files > maxFiles 4) folds them to one
    assert(nFiles <= 2, s"compaction hook did not bound files: $nFiles")
    val lake = spark.read.parquet(path)
    assert(lake.count() == 6)
    // compacted keys still dedup a replayed batch (full tick schema)
    TickIngest.appendBatchIdempotent(
      TickIngest.parseTicks(Seq(tick(0)).toDF("value")), path)
    assert(spark.read.parquet(path).count() == 6)
  }

  test("lake compaction: many small batch files become few, rows intact") {
    val dir = java.nio.file.Files.createTempDirectory("lake-compact").toString
    val path = s"$dir/data"
    // six micro-batches -> >= 6 files in the FPT partition
    (0 until 6).foreach { i =>
      TickIngest.appendBatchIdempotent(
        Seq(("FPT", ts(f"2023-02-07 09:30:$i%02d"), 80.0 + i),
          ("VNM", ts(f"2023-02-07 09:30:$i%02d"), 70.0 + i))
          .toDF("symbol", "time", "close"), path)
    }
    val beforeRows = spark.read.parquet(path).collect()
      .map(r => (r.getAs[String]("symbol"), r.getAs[Timestamp]("time"),
        r.getAs[Double]("close"))).toSet
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def nFiles(sym: String) = fs.listStatus(
      new org.apache.hadoop.fs.Path(path, s"symbol=$sym"))
      .count(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
    assert(nFiles("FPT") >= 6)
    val (parts, before, after) =
      graft.streaming.LakeMaintenance.compactLake(spark, path)
    assert(parts == 2 && before >= 12 && after == 2)
    assert(nFiles("FPT") == 1 && nFiles("VNM") == 1)
    // identical rows, partition column intact, and the sink's replay
    // dedup still sees the compacted keys
    val afterRows = spark.read.parquet(path).collect()
      .map(r => (r.getAs[String]("symbol"), r.getAs[Timestamp]("time"),
        r.getAs[Double]("close"))).toSet
    assert(afterRows == beforeRows && afterRows.size == 12)
    TickIngest.appendBatchIdempotent(
      Seq(("FPT", ts("2023-02-07 09:30:00"), 99.9))
        .toDF("symbol", "time", "close"), path)
    assert(spark.read.parquet(path).count() == 12)
    // idempotent second compaction: nothing above the file threshold
    assert(graft.streaming.LakeMaintenance.compactLake(spark, path) == ((0, 0, 0)))
  }

  test("curateDocStream: ingest-time quality gate + bloom decontamination") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val stop = Seq("the", "a", "of", "and", "to", "in", "is")
    val bench = Seq((100L, "alpha beta gamma delta epsilon zeta eta"))
      .toDF("doc_id", "text")
    val words = graft.functions.Bloom.shingleBloom(bench, "doc_id", "text")
    val good = ("the quick brown fox jumps over the lazy dog and " * 6).trim
    val contaminated = good + " alpha beta gamma delta epsilon"
    val mem = MemoryStream[(Long, String)]
    val q = graft.streaming.EventStream.curateDocStream(
        mem.toDF().toDF("doc_id", "text"), words, stop)
      .writeStream.format("memory").queryName("curated")
      .outputMode("append").start()
    mem.addData(
      (1L, good),         // survives: good quality, no bench overlap
      (2L, "zz"),         // dropped: fails the quality gate
      (3L, contaminated)) // dropped: shares a bench 5-shingle
    q.processAllAvailable()
    q.stop()
    val got = spark.table("curated").collect().map(_.getLong(0)).toSeq
    assert(got == Seq(1L))
    // the in-row shingle construction matches the batch explode pipeline
    val arr = graft.streaming.EventStream.curateDocStream(
      Seq((9L, contaminated)).toDF("doc_id", "text"), new Array[Long](16), stop)
    assert(arr.count() == 1) // empty bloom: nothing probes positive
  }

  test("semGateDocStream: stateless embedding gate matches the batch admit rule") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val dim = 8
    def v(xs: Double*): Seq[Float] = {
      val a = xs.toArray ++ Array.fill(dim - xs.length)(0.0)
      a.map(_.toFloat).toSeq
    }
    // bench matrix: one eval vector along axis 0
    val bench = Array(Array(1.0, 0, 0, 0, 0, 0, 0, 0))
    val mem = MemoryStream[(Long, Seq[Float])]
    val q = graft.streaming.EventStream.semGateDocStream(
        mem.toDF().toDF("doc_id", "embedding"), bench, minCos = 0.95)
      .writeStream.format("memory").queryName("semgated")
      .outputMode("append").start()
    mem.addData(
      (1L, v(0.99, 0.01)), // near-copy of the bench vector: DROPPED
      (2L, v(0, 1)),       // orthogonal: survives
      (3L, null))          // null embedding: no evidence → survives
    q.processAllAvailable()
    q.stop()
    val got = spark.table("semgated").collect().map(_.getLong(0)).toSet
    assert(got == Set(2L, 3L), s"gate admitted: $got")
    // batch parity: the admit rule is decontaminateSem's complement on
    // the same rows (modulo the null row the batch scorer never flags)
    val batch = graft.functions.Similarity.decontaminateSem(
      Seq((1L, v(0.99, 0.01)), (2L, v(0, 1))).toDF("doc_id", "embedding"),
      Seq((100L, v(1, 0))).toDF("doc_id", "embedding"),
      "doc_id", "embedding", minCos = 0.95)
    assert(batch.collect().map(_.getLong(0)).toSet == Set(1L),
      "batch decontaminateSem must flag exactly the gated row")
    // empty bench: pass-through (no BestCosine over an empty matrix)
    val all = graft.streaming.EventStream.semGateDocStream(
      Seq((7L, v(1, 0))).toDF("doc_id", "embedding"),
      Array.empty[Array[Double]])
    assert(all.count() == 1)
  }

  test("sessionCounts: streaming session windows close on the gap and emit once, complete") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val mem = MemoryStream[(Long, java.sql.Timestamp, Double)]
    val q = graft.streaming.EventStream.sessionCounts(
        mem.toDF().toDF("user_id", "ts", "value"), gap = "30 minutes",
        lateness = "10 minutes")
      .writeStream.format("memory").queryName("sessions")
      .outputMode("append").start()
    // session A: three events inside one 30-min-gap burst; session B:
    // a separate burst 2 h later (the gap splits them)
    mem.addData(
      (1L, ts("2024-01-01 10:00:00"), 1.0),
      (1L, ts("2024-01-01 10:10:00"), 2.0),
      (1L, ts("2024-01-01 10:25:00"), 3.0),
      (1L, ts("2024-01-01 12:30:00"), 4.0))
    q.processAllAvailable()
    // advance the watermark far past both sessions so append mode
    // finalizes them
    mem.addData((99L, ts("2024-01-02 00:00:00"), 0.0))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("sessions")
      .where(col("user_id") === 1L)
      .collect().map(r => (r.getTimestamp(0).toString,
        r.getTimestamp(1).toString, r.getLong(3), r.getDouble(4))).toSet
    // session A spans first..last event + gap; one row, all three
    // events aggregated — never a partial emit
    assert(got == Set(
      ("2024-01-01 10:00:00.0", "2024-01-01 10:55:00.0", 3L, 6.0),
      ("2024-01-01 12:30:00.0", "2024-01-01 13:00:00.0", 1L, 4.0)),
      s"sessions: $got")
  }

  test("intervalJoin: stream-stream pairs within the event-time window only; state is watermark-bounded") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val lMem = MemoryStream[(Long, java.sql.Timestamp, Double)]
    val rMem = MemoryStream[(Long, java.sql.Timestamp, Double)]
    val q = graft.streaming.EventStream.intervalJoin(
        lMem.toDF().toDF("user_id", "ts", "value"),
        rMem.toDF().toDF("user_id", "ts", "value"),
        within = "10 minutes")
      .writeStream.format("memory").queryName("ivj")
      .outputMode("append").start()
    lMem.addData(
      (1L, ts("2024-01-01 10:00:00"), 1.0),
      (2L, ts("2024-01-01 10:00:00"), 2.0))
    rMem.addData(
      (1L, ts("2024-01-01 10:05:00"), 10.0), // within 10 min: pairs
      (1L, ts("2024-01-01 10:20:00"), 11.0), // outside the window: no pair
      (3L, ts("2024-01-01 10:00:00"), 30.0)) // no left partner
    q.processAllAvailable()
    q.stop()
    val got = spark.table("ivj").collect()
      .map(r => (r.getLong(0), r.getDouble(3), r.getDouble(4))).toSet
    assert(got == Set((1L, 1.0, 10.0)), s"interval join pairs: $got")
    // the physical plan is the stateful symmetric-hash join with BOTH
    // watermarks — the state-bounding contract, not a static join
    val plan = spark.table("ivj").queryExecution.logical.toString
    val sq = graft.streaming.EventStream.intervalJoin(
      lMem.toDF().toDF("user_id", "ts", "value"),
      rMem.toDF().toDF("user_id", "ts", "value"))
    assert(sq.isStreaming, "interval join must stay a streaming plan")
  }

  test("dsirGateDocStream: stateless importance gate matches the batch admit rule") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val TA = graft.functions.TextAnalysis
    // train on the fixture: target = English docs, source = the rest —
    // the exact q_dsir_weights model
    val docs = Tables.documents(spark, sf0001)
    val model = TA.dsirModel(docs, "doc_id", "text", col("lang") === "en")
    val lr = TA.dsirModelArray(model)
    assert(lr.length == 1024)
    // batch scores over the SOURCE pool (the q_dsir_select population);
    // threshold at the median logw so both admit and drop are populated
    // and no score sits at the boundary
    val batch = TA.dsirScoreWith(docs.where(col("lang") =!= "en"),
        "doc_id", "text", model)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    val sorted = batch.values.toSeq.sorted
    val thr = {
      val m = sorted(sorted.length / 2)
      val below = sorted.filter(_ < m).lastOption.getOrElse(m - 1.0)
      (m + below) / 2 // mid-gap: summation-order noise cannot flip a row
    }
    val wantAdmit = batch.filter(_._2 >= thr).keySet
    assert(wantAdmit.nonEmpty && wantAdmit.size < batch.size,
      s"fixture must populate both sides of the cut: ${wantAdmit.size}/${batch.size}")
    val rows = docs.where(col("lang") =!= "en")
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    val mem = MemoryStream[(Long, String)]
    val q = graft.streaming.EventStream.dsirGateDocStream(
        mem.toDF().toDF("doc_id", "text"), lr, thr)
      .writeStream.format("memory").queryName("dsirgated")
      .outputMode("append").start()
    mem.addData(rows: _*)
    mem.addData((999999L, null: String)) // no evidence → dropped
    q.processAllAvailable()
    q.stop()
    val got = spark.table("dsirgated").collect().map(_.getLong(0)).toSet
    assert(got == wantAdmit,
      s"stream admit diverged from batch: extra=${got -- wantAdmit} " +
        s"missing=${wantAdmit -- got}")
  }
}
