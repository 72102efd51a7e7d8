package graft

import graft.functions.DriverParallel

/** [[DriverParallel.run]]'s failure contract: the first failure, in
  * whichever order the thunks finish, cancels the peers' Spark jobs and
  * is rethrown promptly — no peer job keeps running after the call. */
class DriverParallelSpec extends SparkSpec {

  private def sleepyJob(): Long =
    spark.sparkContext.parallelize(Seq(1), 1)
      .map { x => Thread.sleep(30000); x }.count()

  private def failing(): Long = {
    Thread.sleep(500) // let the peer's job start first
    throw new IllegalStateException("thunk failed")
  }

  private def noActiveJobs(): Boolean = {
    val deadline = System.nanoTime() + 5000000000L
    while (spark.sparkContext.statusTracker.getActiveJobIds().nonEmpty &&
           System.nanoTime() < deadline) Thread.sleep(50)
    spark.sparkContext.statusTracker.getActiveJobIds().isEmpty
  }

  Seq("failure first" -> Seq(() => failing(), () => sleepyJob()),
      "failure second" -> Seq(() => sleepyJob(), () => failing()))
    .foreach { case (order, thunks) =>
      test(s"a failed thunk cancels its peer's job ($order)") {
        val t0 = System.nanoTime()
        val e = intercept[IllegalStateException](DriverParallel.run(spark, thunks))
        val secs = (System.nanoTime() - t0) / 1e9
        assert(e.getMessage == "thunk failed")
        assert(secs < 10, s"run returned after $secs s, not at the first failure")
        assert(noActiveJobs(), "the peer's job outlived the call")
      }
    }
}
