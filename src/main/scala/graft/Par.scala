package graft

/** Run INDEPENDENT driver-side actions concurrently (guide §2.6:
  * Spark's scheduler happily runs several jobs at once inside one
  * application; actions are only sequential because driver code calls
  * them sequentially). Callers: the soft-dedup state's paired band and
  * shingle family publishes, and the sink fan-out
  * ([[graft.sinks.Sinks.persist]]). Running one write's jobs while
  * another's tail drains back-fills otherwise idle cores (at scale: the
  * cluster during each write's straggler tail).
  *
  * The first side runs on the calling thread, every other side on a new
  * thread, which inherits the caller's Spark local properties (job
  * group, scheduler pool). A single side runs inline.
  *
  * Failure contract: every side runs to completion (no cancellation
  * channel — each side is an independently crash-safe write); the first
  * throwable in side order is rethrown with the others suppressed, so
  * no failure is silently swallowed.
  *
  * Interrupt contract: `all` never returns or throws while a side is
  * still running. An interrupt of the caller (`StreamingQuery.stop()`
  * during `foreachBatch`) is deferred until every side has finished —
  * else a writer could still be filling its target when the replay
  * overwrites it — and is then re-asserted on the calling thread.
  *
  * Leases: [[graft.streaming.MaintenanceLease]] is re-entrant PER
  * THREAD, so sides must not rely on a lease the calling thread holds
  * (each family publish acquires its own family lease; the caller's
  * root lease is advisory across threads).
  *
  * DocsSpec keeps this the one place in `src/main` that starts threads. */
object Par {
  def all(sides: Seq[() => Unit]): Unit = sides match {
    case Seq() =>
    case Seq(only) => only()
    case first +: rest =>
      val errs = new Array[Throwable](sides.size)
      val threads = rest.zipWithIndex.map { case (side, i) =>
        new Thread(() => {
          try side() catch { case e: Throwable => errs(i + 1) = e }
        }, s"graft-par-${i + 1}")
      }
      threads.foreach(_.start())
      try first() catch { case e: Throwable => errs(0) = e }
      var interrupted = false
      threads.foreach { t =>
        while (t.isAlive) {
          try t.join() catch { case _: InterruptedException => interrupted = true }
        }
      }
      if (interrupted) Thread.currentThread().interrupt()
      // join() orders each side's write of errs before this read
      errs.filter(_ != null) match {
        case Array() =>
        case Array(e, others @ _*) =>
          others.foreach(e.addSuppressed)
          throw e
      }
  }
}
