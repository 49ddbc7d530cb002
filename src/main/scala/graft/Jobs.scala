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
    * Each thunk runs on a thread created here, so it inherits the
    * caller's Spark local properties (job group, scheduler pool): jobs
    * stay attributed to whoever called. The call returns only after
    * every thread has ended, so no thread outlives it, even when a
    * thunk fails. Results keep their order; the first failure in thunk
    * order propagates unwrapped.
    */
  private[graft] def concurrently[A](thunks: Seq[() => A]): Seq[A] =
    if (thunks.sizeIs <= 1) thunks.map(_())
    else {
      val outcomes = new Array[Either[Throwable, A]](thunks.size)
      val threads = thunks.zipWithIndex.map { case (t, i) =>
        new Thread(() => outcomes(i) =
          try Right(t()) catch { case e: Throwable => Left(e) },
          s"$THREAD_PREFIX$i")
      }
      threads.foreach(_.start())
      threads.foreach(_.join())
      outcomes.toSeq.map(_.fold(e => throw e, identity))
    }

  /** Name prefix of [[concurrently]]'s threads. */
  private[graft] val THREAD_PREFIX = "graft-concurrently-"
}
