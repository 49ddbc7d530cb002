package graft

/** Driver-side job scheduling shared by `pipeline` and `ext`. */
object Jobs {

  /** Run independent pipeline branches as CONCURRENT jobs (optimization
    * guide §2.6): Spark's scheduler happily runs several jobs at once
    * inside one application — actions are only sequential because
    * driver code calls them sequentially. Independent branches (the
    * per-modality pipelines of the media reports/audits, the tables of
    * the star-schema write) back-fill one another's stage tails instead
    * of idling the cluster, and the per-job fixed costs (stage
    * scheduling, AQE bookkeeping) overlap instead of adding up.
    *
    * The pool is fresh per call, so its threads are created here and
    * inherit the caller's Spark local properties (job group, scheduler
    * pool): jobs stay attributed to whoever called. Results keep their
    * order; exceptions propagate unwrapped.
    */
  private[graft] def concurrently[A](thunks: Seq[() => A]): Seq[A] =
    if (thunks.sizeIs <= 1) thunks.map(_())
    else {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(thunks.size)
      try {
        val futs = thunks.map(t =>
          pool.submit(new java.util.concurrent.Callable[A] { def call(): A = t() }))
        try futs.map(_.get())
        catch { case e: java.util.concurrent.ExecutionException => throw e.getCause }
      } finally pool.shutdown()
    }
}
