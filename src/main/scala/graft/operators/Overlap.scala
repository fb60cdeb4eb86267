package graft.operators

import java.util.concurrent.{Callable, ExecutionException, Executors, TimeUnit}

/** Driver-thread overlap of two independent pieces of Spark work: the
  * async sibling's jobs back-fill executors the sync sibling's small
  * sequential jobs leave idle (the scheduler runs concurrent jobs FIFO,
  * so the sync side keeps priority). [[map]] is the N-way form, for
  * per-bucket filesystem work and for EP1's four concurrent dimension
  * writes (`Pipeline.runFullBatch`); it is the only other place in
  * `src/main` that starts driver threads.
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

  /** Thread bound of the N-way form ([[map]]). */
  private val MaxThreads = 16

  /** The N-way form: runs `f` over `items` on at most [[MaxThreads]]
    * fresh daemon threads (created by the caller's thread, so they
    * inherit its Spark local properties) and returns the results in
    * item order. Meant for independent per-bucket filesystem work (a
    * per-batch driver fan-out of O(buckets) round-trips, which issued
    * serially makes wall-clock linear in bucket count at driver-loop
    * latency) and for independent table writes whose small jobs leave
    * cores idle when run one after another. Hadoop `FileSystem`
    * instances are thread-safe, and per-bucket operations on disjoint
    * paths may interleave in any order without changing a crash
    * protocol's outcome.
    *
    * Every item is settled before the call returns or rethrows: on the
    * first failure (in item order, rethrown unwrapped) the items not
    * yet started are cancelled and the running ones joined, so no
    * bucket op outlives its caller's lease or scratch-pin scope.
    */
  def map[A, B](items: Seq[A])(f: A => B): Seq[B] =
    if (items.length <= 1) items.map(f)
    else {
      val pool = Executors.newFixedThreadPool(
        math.min(MaxThreads, items.length),
        (r: Runnable) => {
          val t = new Thread(r, s"graft-overlap-${ids.incrementAndGet()}")
          t.setDaemon(true)
          t
        }
      )
      try {
        val tasks = items.map(a => pool.submit(new Callable[B] { def call(): B = f(a) }))
        try tasks.map(t => try t.get() catch { case e: ExecutionException => throw e.getCause })
        catch {
          case e: Throwable =>
            tasks.foreach(_.cancel(false))
            throw e
        }
      } finally {
        pool.shutdown()
        var interrupted = false
        while (!pool.isTerminated)
          try pool.awaitTermination(1, TimeUnit.MINUTES)
          catch { case _: InterruptedException => interrupted = true }
        if (interrupted) Thread.currentThread().interrupt()
      }
    }
}
