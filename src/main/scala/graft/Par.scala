package graft

/** Run independent Spark job chains concurrently from a bounded driver
  * thread pool (guide §2.6: actions are only sequential because the
  * driver calls them sequentially — a small pool lets the next chain's
  * tasks back-fill executors idled by the current chain's tail).
  * Results return in INPUT order, so downstream union order — and
  * therefore every output row — is unchanged; each thunk must be
  * deterministic and independent, so concurrency changes scheduling,
  * never values. Pool is bounded (default 3 in flight) per the guide's
  * guidance: enough to fill the tail, not enough to fight for executors.
  *
  * r14: hoisted out of gates.GateHelpers so operator internals can use
  * it without a gates dependency, plus the ADVICE fixes — per-thunk job
  * descriptions (thread-local, guide §1.5), ExecutionException
  * unwrapping, and cancellation of surviving chains once one has failed.
  */
private[graft] object Par {
  def inParallel[T](thunks: Seq[() => T], slots: Int = 3,
                    label: String = "inParallel"): Seq[T] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.max(1, math.min(slots, thunks.size)))
    try {
      val futs = thunks.zipWithIndex.map { case (t, i) =>
        pool.submit(new java.util.concurrent.Callable[T] {
          def call(): T = {
            // guide §1.5: descriptions are THREAD-local — without this
            // every pooled job shows up unlabelled in the UI and can't
            // be attributed during phase profiling
            org.apache.spark.sql.SparkSession.getDefaultSession.foreach(
              _.sparkContext.setJobDescription(s"$label[$i]"))
            t()
          }
        })
      }
      try futs.map(_.get())
      catch {
        // surface the thunk's own exception, not the wrapper, and stop
        // the surviving chains — without the cancel they keep burning
        // executors after the caller has already failed
        case e: java.util.concurrent.ExecutionException =>
          futs.foreach(_.cancel(true))
          pool.shutdownNow()
          throw e.getCause
      }
    } finally pool.shutdown()
  }
}
