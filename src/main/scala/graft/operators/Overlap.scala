package graft.operators

/** Driver-thread overlap of two independent pieces of Spark work: the
  * async sibling's jobs back-fill executors the sync sibling's small
  * sequential jobs leave idle (the scheduler runs concurrent jobs FIFO,
  * so the sync side keeps priority).
  *
  * The async sibling runs on a FRESH daemon thread per call. Spark's
  * local properties are inheritable thread-locals (cloned at thread
  * creation), so the caller's job description, scheduler pool, job
  * group and tags go with it — cancelling the caller's job group
  * cancels the sibling's jobs too. A long-lived pool thread
  * (`ExecutionContext.global`) would instead carry whatever properties
  * were current when the pool happened to spawn it.
  *
  * The sibling is ALWAYS joined before the call returns or rethrows: a
  * failed batch can never leave an overlapped write running behind it,
  * and a scratch-pin boundary ([[Maintenance.releasingScratchPins]])
  * around the call cannot release `localCheckpoint` blocks a still-
  * running sibling reads. When both siblings fail, the sync error
  * surfaces with the async one attached as suppressed.
  */
private[graft] object Overlap {

  /** The running async sibling, handed to the sync body for callers
    * that must wait on it mid-body (a commit gated on the sibling's
    * result being settled).
    */
  final class Sibling private[Overlap] (thread: Thread) {

    /** Blocks until the sibling has finished. Never throws the
      * sibling's error — that surfaces when the overlap ends.
      * Interrupts during the wait are deferred, not dropped: the
      * sibling is joined first, then the interrupt flag is restored.
      */
    def await(): Unit = {
      var interrupted = false
      while (thread.isAlive)
        try thread.join()
        catch { case _: InterruptedException => interrupted = true }
      if (interrupted) Thread.currentThread().interrupt()
    }
  }

  private val ids = new java.util.concurrent.atomic.AtomicLong

  /** Runs `async` on its own thread while `sync` runs on the caller's,
    * holding the sibling's handle; returns both results once both have
    * finished.
    */
  def both[A, B](async: => A)(sync: Sibling => B): (A, B) = {
    var result: Either[Throwable, A] = null
    val thread = new Thread(
      () => result = try Right(async) catch { case e: Throwable => Left(e) },
      s"graft-overlap-${ids.incrementAndGet()}"
    )
    thread.setDaemon(true)
    thread.start()
    val sibling = new Sibling(thread)
    val b =
      try sync(sibling)
      catch {
        case e: Throwable =>
          sibling.await()
          result.left.foreach(a => if (a ne e) e.addSuppressed(a))
          throw e
      }
    sibling.await()
    result.fold(e => throw e, a => (a, b))
  }
}
