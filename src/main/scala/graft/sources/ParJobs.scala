package graft.sources

/** Run INDEPENDENT Spark job groups concurrently from driver threads —
  * the optimization-guide §2.6 idiom ("overlap independent jobs"): a
  * lifecycle that folds N disjoint stores sequentially leaves most of
  * the cluster idle through each fold's scheduling gaps and straggler
  * tails; submitting the folds from a small pool lets the next store's
  * tasks back-fill executors the current one has stopped using. Spark's
  * scheduler runs concurrent jobs FIFO within one application, which is
  * exactly the back-fill behavior wanted.
  *
  * Contract: tasks must touch DISJOINT mutable state (different store
  * directories) — the caller asserts independence by choosing this
  * helper. Failures propagate: the first task exception (unwrapped from
  * the pool's ExecutionException) rethrows after every started task has
  * finished, so a failed lifecycle never half-hides behind a swallowed
  * error; tasks still queued behind a failure never start. */
object ParJobs {
  def run(tasks: Seq[() => Unit]): Unit = map(tasks)

  /** Most tasks one call runs at once (every in-repo caller passes
    * fewer); the rest queue in task order. */
  private[sources] val maxThreads = 8

  /** Like [[run]] but each task yields a value; results return in task
    * order (deterministic regardless of completion order). A queued task
    * that reaches a thread after any task has failed never starts: the
    * lifecycle it belongs to is already lost. */
  def map[A](tasks: Seq[() => A]): Seq[A] = {
    if (tasks.isEmpty) return Seq.empty
    if (tasks.size == 1) return tasks.map(_())
    val threads = math.min(tasks.size, maxThreads)
    val failed = new java.util.concurrent.atomic.AtomicBoolean(false)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    try {
      // the first `threads` tasks each get a thread at submit: they have
      // started; a later one starts only when a thread frees up
      val futs = tasks.zipWithIndex.map { case (t, i) =>
        pool.submit(new java.util.concurrent.Callable[Option[A]] {
          def call(): Option[A] =
            if (i >= threads && failed.get()) None
            else try Some(t()) catch { case e: Throwable =>
              failed.set(true); throw e
            }
        })
      }
      // collect every outcome BEFORE propagating the first error, so no
      // started sibling is still mutating its store directory while the
      // caller unwinds into cleanup/recovery (shutdown() does not cancel
      // in-flight tasks)
      val outcomes = futs.map { f =>
        try Right(f.get())
        catch {
          case e: java.util.concurrent.ExecutionException => Left(e.getCause)
        }
      }
      outcomes.collectFirst { case Left(e) => e }.foreach(throw _)
      outcomes.collect { case Right(a) => a.get }
    } finally pool.shutdown()
  }
}
