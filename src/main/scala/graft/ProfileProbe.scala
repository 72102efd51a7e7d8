package graft

import java.util.Locale
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** Optimization-round diagnostic (guide §1): for each registry query,
  * split wall time into DataFrame CONSTRUCTION (Scala-side plan
  * building), PLANNING (analysis + optimization + physical planning,
  * forced via `queryExecution.executedPlan`), and EXECUTION (the same
  * noop materialization [[Bench]] times), and count the Spark jobs /
  * stages / tasks the execution launches. A query whose time is mostly
  * `plan` needs a smaller plan; mostly `jobs`×overhead needs fewer
  * actions; mostly `exec` with few tasks needs parallelism; mostly
  * `exec` with many stages needs fewer shuffles.
  *
  * Usage: `runMain graft.ProfileProbe [--runs=K] [q_name...]` (no names
  * = the whole registry), on [[SessionTuning.session]] like Bench, so
  * `SPARK_GRAFT_CPUS` sets the width. Warms at the sf0.001 sibling like
  * Bench so codegen/JIT is out of the numbers; each row's warm-up wall
  * time is printed as `cold`, so one-time costs a first call pays (a
  * JVM-wide table built on first use, codegen, class loading) show
  * beside the measured minimum instead of vanishing into the warm-up.
  */
object ProfileProbe {

  /** Deterministic listener flush (r17 ADVICE: Thread.sleep(50) raced
    * the async SparkListenerBus and could under/over-count on a loaded
    * box): `LiveListenerBus.waitUntilEmpty()` blocks until every queued
    * event is delivered. It is `private[spark]`, which erases to public
    * in bytecode, so plain reflection reaches it; any failure falls back
    * to the old sleep. */
  private def drainListenerBus(spark: SparkSession): Unit =
    try {
      val sc = spark.sparkContext
      val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
      bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
    } catch { case _: Throwable => Thread.sleep(50) }

  def main(args: Array[String]): Unit = {
    val (flags, names0) = args.partition(_.startsWith("--"))
    require(flags.forall(_.startsWith("--runs=")),
      s"unknown flag(s) ${flags.mkString(" ")}: the only flag is --runs=K " +
        "(the width comes from SPARK_GRAFT_CPUS)")
    val runs = flags.collectFirst { case f if f.startsWith("--runs=") =>
      f.stripPrefix("--runs=").toInt }.getOrElse(2)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val names = if (names0.nonEmpty) names0.toSeq
      else SparkEntry.queries.keys.toSeq.sorted
    val spark = SessionTuning.session()

    val jobs = new AtomicInteger(0)
    val stages = new AtomicInteger(0)
    val tasks = new AtomicInteger(0)
    val taskMs = new java.util.concurrent.atomic.AtomicLong(0) // sum of task run+deser time
    val maxTaskMs = new java.util.concurrent.atomic.AtomicLong(0) // slowest single task
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
        stages.incrementAndGet()
        tasks.addAndGet(s.stageInfo.numTasks)
      }
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        val m = t.taskMetrics
        if (m != null) {
          val ms = m.executorRunTime + m.executorDeserializeTime
          taskMs.addAndGet(ms)
          maxTaskMs.accumulateAndGet(ms, math.max(_, _))
        }
      }
    })

    val warmDir = {
      val w = new java.io.File(new java.io.File(sfDir).getParentFile, "sf0.001")
      if (w.isDirectory && w.getPath != sfDir) w.getPath else sfDir
    }
    spark.range(1000000L).selectExpr("sum(id)").collect()
    val cold = names.map { n =>
      val t0 = System.nanoTime()
      try Bench.materialize(SparkEntry.queries(n)(spark, warmDir))
      catch { case e: Throwable =>
        System.err.println(s"[profile] warmup $n failed: ${e.getMessage}") }
      n -> (System.nanoTime() - t0) / 1e9
    }.toMap

    def fmt(v: Double) = String.format(Locale.ROOT, "%7.3f", Double.box(v))
    println(f"${"query"}%-28s ${"build"}%7s ${"plan"}%7s ${"exec"}%7s ${"total"}%7s ${"jobs"}%5s ${"stg"}%5s ${"tasks"}%6s ${"taskSum"}%7s ${"maxTask"}%7s ${"cold"}%7s")
    val rows = names.map { n =>
      // min over `runs` reps of each phase, taken per-rep so phases sum
      val reps = (1 to runs).map { _ =>
        jobs.set(0); stages.set(0); tasks.set(0); taskMs.set(0); maxTaskMs.set(0)
        val t0 = System.nanoTime()
        val df = SparkEntry.queries(n)(spark, sfDir)
        val t1 = System.nanoTime()
        df.queryExecution.executedPlan // force analysis+optimization+planning
        val t2 = System.nanoTime()
        try Bench.materialize(df)
        catch { case e: Throwable =>
          System.err.println(s"[profile] $n FAILED: ${e.getMessage}") }
        val t3 = System.nanoTime()
        drainListenerBus(spark) // flush listener events before reading counters
        ((t1 - t0) / 1e9, (t2 - t1) / 1e9, (t3 - t2) / 1e9,
          (t3 - t0) / 1e9, jobs.get(), stages.get(), tasks.get(),
          taskMs.get() / 1e3, maxTaskMs.get() / 1e3)
      }
      val best = reps.minBy(_._4)
      println(f"$n%-28s ${fmt(best._1)} ${fmt(best._2)} ${fmt(best._3)} ${fmt(best._4)} ${best._5}%5d ${best._6}%5d ${best._7}%6d ${fmt(best._8)} ${fmt(best._9)} ${fmt(cold(n))}")
      (n, best)
    }
    val tb = rows.map(_._2._1).sum; val tp = rows.map(_._2._2).sum
    val te = rows.map(_._2._3).sum; val tt = rows.map(_._2._4).sum
    println(f"${"TOTAL"}%-28s ${fmt(tb)} ${fmt(tp)} ${fmt(te)} ${fmt(tt)} ${rows.map(_._2._5).sum}%5d ${rows.map(_._2._6).sum}%5d ${rows.map(_._2._7).sum}%6d ${fmt(rows.map(_._2._8).sum)} ${fmt(rows.map(_._2._9).max)} ${fmt(cold.values.sum)}")
    spark.stop()
  }
}
