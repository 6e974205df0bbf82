package graft

import java.util.concurrent.{Callable, ExecutionException, ExecutorCompletionService, Executors}

import org.apache.spark.sql.SparkSession

/** Run independent Spark job chains concurrently from a bounded driver
  * thread pool, so one chain's driver work and job tails overlap another's
  * jobs. Results return in INPUT order, so downstream union order, and
  * every output row, is unchanged; each thunk must be deterministic and
  * independent, so concurrency changes scheduling, never values.
  *
  * Each thunk's jobs run in their own job group `label[i]` on `spark`.
  * When one thunk fails, the job groups of the others are cancelled, which
  * stops their executor tasks, and the failed thunk's own exception is
  * rethrown.
  */
private[graft] object Par {
  def inParallel[T](spark: SparkSession, label: String, thunks: Seq[() => T]): Seq[T] = {
    val sc = spark.sparkContext
    val groups = thunks.indices.map(i => s"$label[$i]")
    // 3 in flight: enough to fill one chain's tail, few enough not to fight
    // over the executors
    val pool = Executors.newFixedThreadPool(math.max(1, math.min(3, thunks.size)))
    val done = new ExecutorCompletionService[T](pool)
    try {
      val futs = thunks.zip(groups).map { case (t, group) =>
        done.submit(new Callable[T] {
          def call(): T = {
            sc.setJobGroup(group, group, interruptOnCancel = true)
            try t() finally sc.clearJobGroup()
          }
        })
      }
      // take completions as they come, so the first failure is seen at once
      try thunks.foreach(_ => done.take().get())
      catch {
        case e: ExecutionException =>
          groups.foreach(sc.cancelJobGroup)
          futs.foreach(_.cancel(true))
          throw e.getCause
      }
      futs.map(_.get())
    } finally pool.shutdownNow()
  }
}
