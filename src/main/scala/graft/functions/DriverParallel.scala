package graft.functions

import java.util.concurrent.{Callable, ExecutionException, ExecutorCompletionService,
  ExecutorService, Executors, TimeUnit}

import org.apache.spark.sql.SparkSession

/** Overlap INDEPENDENT driver-sequenced Spark work from a small thread
  * pool (guide §2.6: actions are only sequential because driver code
  * calls them sequentially; later jobs back-fill executors freed by the
  * current job's tail).
  *
  * SAFETY CONTRACT (the r17 Change-4 lesson, `Similarity.trainPqBooks`):
  * every thunk must CONSTRUCT ITS OWN expression trees — higher-order-
  * function lambdas hold mutable `NamedLambdaVariable` state, and over
  * LocalRelation inputs the optimizer evaluates projections driver-side
  * (`ConvertToLocalRelation`) during each thread's query optimization,
  * so two threads optimizing plans that SHARE one HOF expression tree
  * race on that state and corrupt values. Passing a factory that builds
  * the frame inside the thread (fresh `transform`/`slice`/... nodes per
  * thread) removes the shared mutable state; sharing an already-analyzed
  * SOURCE dataset (a parquet scan, a cached base) underneath is fine —
  * those plans carry no lambda state and `ConvertToLocalRelation` never
  * fires on non-local sources.
  *
  * Threads run with the caller's SparkSession set active (SQLConf and
  * session state resolution are thread-local), each in its own job
  * group with `interruptOnCancel`. Failures propagate: at the first
  * failure, in whatever order the thunks finish, the peers' job groups
  * are cancelled, the pool is interrupted and awaited, and that first
  * cause is rethrown on the caller thread — no thread, and no Spark job
  * a thunk started, outlives the call. */
object DriverParallel {

  def run[T](spark: SparkSession, thunks: Seq[() => T]): Seq[T] = {
    if (thunks.isEmpty) return Seq.empty
    if (thunks.size == 1) return Seq(thunks.head())
    val sc = spark.sparkContext
    val groups = thunks.indices.map(i =>
      s"graft-driver-parallel-${java.util.UUID.randomUUID()}-$i")
    val pool: ExecutorService = Executors.newFixedThreadPool(thunks.size)
    val done = new ExecutorCompletionService[T](pool)
    var settled = false
    try {
      val futures = thunks.zip(groups).map { case (t, group) =>
        done.submit(new Callable[T] {
          override def call(): T = {
            SparkSession.setActiveSession(spark)
            sc.setJobGroup(group, "DriverParallel.run", interruptOnCancel = true)
            t()
          }
        })
      }
      thunks.foreach { _ =>
        try done.take().get()
        catch {
          case e: ExecutionException =>
            groups.foreach(sc.cancelJobGroup)
            throw Option(e.getCause).getOrElse(e)
        }
      }
      val out = futures.map(_.get())
      settled = true
      out
    } finally {
      pool.shutdownNow()
      while (!pool.awaitTermination(1, TimeUnit.SECONDS)) ()
      // a job a peer submitted after the first cancel
      if (!settled) groups.foreach(sc.cancelJobGroup)
    }
  }
}
