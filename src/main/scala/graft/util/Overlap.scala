package graft.util

/** Runs two independent blocks at the same time: `background` on a fresh
  * thread and `foreground` on the calling thread. Returns once both are done.
  *
  * The thread is created per call, so it inherits the caller's `SparkContext`
  * local properties (job group, streaming run id, scheduler pool, any tag a
  * listener attributes jobs by) and active session: the jobs it submits are
  * attributed to, and cancelled with, the caller's. A pooled thread created
  * earlier would not inherit them.
  *
  * The background thread never outlives the call. `StreamingQuery.stop()`
  * interrupts the micro-batch thread; the join does not give up on an
  * interrupt, and the interrupt flag is set again before returning.
  *
  * Errors: if both blocks fail, the foreground's error is rethrown with the
  * background's attached through `addSuppressed`; otherwise whichever failed
  * is rethrown.
  */
object Overlap {
  def run(background: => Unit)(foreground: => Unit): Unit = {
    var backgroundError: Throwable = null // published by the join
    val t = new Thread(() =>
      try background catch { case e: Throwable => backgroundError = e }, "graft-overlap")
    t.setDaemon(true)
    t.start()
    val foregroundError = try { foreground; null } catch { case e: Throwable => e }
    var interrupted = false
    while (t.isAlive)
      try t.join() catch { case _: InterruptedException => interrupted = true }
    if (interrupted) Thread.currentThread().interrupt()
    (foregroundError, backgroundError) match {
      case (null, null) =>
      case (f, null) => throw f
      case (null, b) => throw b
      case (f, b) =>
        f.addSuppressed(b)
        throw f
    }
  }
}
