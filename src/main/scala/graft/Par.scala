package graft

/** Overlap independent driver-submitted Spark actions (optimization guide
  * §2.6 "Overlap independent jobs"): Spark's scheduler runs several jobs at
  * once inside one application — actions are only sequential because the
  * driver calls them sequentially. A handful of independent writes (e.g. the
  * BM25 index's four tables) submitted from a small thread pool back-fill
  * each other's task tails, scheduling floors and commit stalls instead of
  * paying them end-to-end.
  *
  * Failure contract: EVERY thunk is awaited (no orphaned in-flight write
  * behind the caller's back — not even when the calling thread is
  * interrupted), then the first failure is rethrown — the
  * caller observes exactly what a sequential loop that failed part-way
  * would have left on disk, and the surrounding commit protocol (e.g.
  * [[graft.operators.IndexTables.commitRoot]]'s single `_SUCCESS`) decides
  * visibility. A fresh pool per call: the thunk count is tiny (2-4), the
  * pool outliving the call would pin inherited thread-locals.
  */
private[graft] object Par {

  def run(thunks: (() => Unit)*): Unit = {
    if (thunks.sizeIs <= 1) { thunks.foreach(_.apply()); return }
    val pool = java.util.concurrent.Executors.newFixedThreadPool(thunks.size)
    try {
      val futs = thunks.map(t =>
        pool.submit(new java.util.concurrent.Callable[Unit] {
          override def call(): Unit = t()
        }))
      var first: Throwable = null
      var interrupted = false
      futs.foreach { f =>
        // an interrupt of the caller does not cut the wait short: every
        // thunk is still awaited (uninterruptibly), then the flag is
        // re-set and the interrupt rethrown
        var done = false
        while (!done) {
          try { f.get(); done = true }
          catch {
            case e: java.util.concurrent.ExecutionException =>
              if (first == null) first = e.getCause
              done = true
            case e: InterruptedException =>
              if (first == null) first = e
              interrupted = true
          }
        }
      }
      if (interrupted) Thread.currentThread().interrupt()
      if (first != null) throw first
    } finally pool.shutdownNow()
  }
}
