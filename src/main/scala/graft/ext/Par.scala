package graft.ext

/** Overlap INDEPENDENT Spark jobs from a small driver thread pool
  * (guide §2.6: the scheduler happily runs several jobs at once —
  * actions are only sequential because the driver calls them
  * sequentially). Used by the index/model BUILDERS whose final leg is
  * a handful of table writes that derive from one already-checkpointed
  * intermediate: each write's task tail back-fills with the next
  * write's tasks instead of idling the executor pool.
  *
  * ONLY for legs with no cross-task ordering contract: the append /
  * delete / compaction legs keep their sequential order because their
  * torn-state recovery semantics (delmarks, staged swaps) are defined
  * over a specific commit sequence and are spec-pinned.
  *
  * Results return in task order. Every task settles before the call
  * returns or throws: a failure is rethrown (the first in task order)
  * only after its siblings finish, so no write started here outlives
  * the call to race a caller's retry or cleanup. The pool is always
  * shut down. */
private[graft] object Par {
  def run[A](tasks: Seq[() => A], maxThreads: Int = 4): Seq[A] = {
    if (tasks.lengthCompare(2) < 0) return tasks.map(_())
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.min(tasks.length, maxThreads))
    try {
      implicit val ec: scala.concurrent.ExecutionContext =
        scala.concurrent.ExecutionContext.fromExecutor(pool)
      val futs = tasks.map(t => scala.concurrent.Future(t()))
      futs.map(f => scala.util.Try(scala.concurrent.Await
          .result(f, scala.concurrent.duration.Duration.Inf)))
        .map(_.get)
    } finally pool.shutdown()
  }
}
