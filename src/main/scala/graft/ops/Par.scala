package graft.ops

import java.util.concurrent.{Callable, ExecutionException, ExecutorService, Executors, Future}
import java.util.concurrent.atomic.AtomicInteger

/** Concurrent driver-side job submission (optimization guide §2.6:
  * "overlap independent jobs" — Spark's scheduler happily runs several
  * jobs at once inside one application; actions are only sequential
  * because driver code calls them sequentially). Composite operators
  * use this to materialize INDEPENDENT legs (audit legs, per-store
  * survivor frames, the before/after closures of a re-election delta)
  * concurrently instead of paying one tiny-job tail after another.
  *
  * Scope rules, enforced by the callsites:
  *   - only lease-free work runs off the caller thread ([[Lease]] holds
  *     are thread-local, so store PUBLISHES stay on the holder thread —
  *     a worker-thread publish would silently bypass the usurpation
  *     fence);
  *   - every thunk is deterministic and side-effect-free apart from
  *     Spark job submission, so concurrency cannot reorder results
  *     (results return in thunk order).
  *
  * Worker threads are named `graft-par-<N>` and are daemons, and every
  * pool is shut down as soon as its thunks are submitted, so a worker
  * ends with its thunk whatever the caller does.
  */
object Par {

  private val threadIds = new AtomicInteger()

  /** Submits every thunk to a fresh pool of `thunks.size` threads. */
  private def submit[T](thunks: Seq[() => T]): Seq[Future[T]] = {
    val pool: ExecutorService = Executors.newFixedThreadPool(thunks.size, (r: Runnable) => {
      val t = new Thread(r, s"graft-par-${threadIds.incrementAndGet()}")
      t.setDaemon(true)
      t
    })
    try thunks.map(t => pool.submit(new Callable[T] { def call(): T = t() }))
    finally pool.shutdown()
  }

  /** Waits for every future, then returns the results in order or
    * rethrows the first failure in thunk order with its original type,
    * so no leg is still running when the caller sees the failure.
    */
  private def join[T](futs: Seq[Future[T]]): Seq[T] =
    futs.map { f =>
      try Right(f.get())
      catch { case e: ExecutionException => Left(e.getCause) }
    }.map {
      case Right(v) => v
      case Left(e)  => throw e
    }

  /** Runs the thunks concurrently and returns their results IN ORDER;
    * the first failure is rethrown after every thunk has finished,
    * matching the sequential form's error behavior.
    */
  def all[T](thunks: Seq[() => T]): Seq[T] =
    if (thunks.lengthCompare(1) <= 0) thunks.map(_())
    else join(submit(thunks))

  /** Starts one thunk on its own thread; [[Handle.get]] joins it. For
    * overlapping a single independent computation with caller-thread
    * work (e.g. the re-election delta with the store publishes).
    */
  def start[T](thunk: () => T): Handle[T] = new Handle[T](submit(Seq(thunk)).head)

  final class Handle[T](fut: Future[T]) {
    def get(): T = join(Seq(fut)).head

    /** Waits for the thunk to finish and drops its outcome: for a caller
      * that is already failing and must not leave the thunk running.
      */
    def await(): Unit =
      try fut.get() catch { case _: ExecutionException => () }
  }
}
