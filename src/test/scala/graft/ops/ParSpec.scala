package graft.ops

import java.util.concurrent.atomic.AtomicBoolean
import org.scalatest.funsuite.AnyFunSuite

/** Par's failure semantics: a failure surfaces only once every leg has
  * finished, with its own type, and no worker thread outlives its thunk.
  */
class ParSpec extends AnyFunSuite {

  private def parThreads: Seq[Thread] = {
    val it = Thread.getAllStackTraces.keySet.iterator
    Iterator.continually(it).takeWhile(_.hasNext).map(_.next())
      .filter(t => t.getName.startsWith("graft-par-") && t.isAlive).toSeq
  }

  private def awaitNoParThreads(): Unit = {
    val deadline = System.nanoTime + 10L * 1000 * 1000 * 1000
    while (parThreads.nonEmpty && System.nanoTime < deadline) Thread.sleep(20)
  }

  test("a failing leg next to a slow leg returns only after the slow leg finished, with the original exception") {
    val slowDone = new AtomicBoolean(false)
    val e = intercept[IllegalStateException](Par.all(Seq(
      () => throw new IllegalStateException("leg failed"),
      () => { Thread.sleep(300); slowDone.set(true); 1 })))
    assert(e.getMessage === "leg failed")
    assert(slowDone.get(), "Par.all rethrew while a sibling leg was still running")
    // the first failure in thunk order wins
    val first = intercept[UnsupportedOperationException](Par.all[Int](Seq(
      () => { Thread.sleep(100); throw new UnsupportedOperationException("first") },
      () => throw new IllegalArgumentException("second"))))
    assert(first.getMessage === "first")
    assert(Par.all(Seq(() => 1, () => 2, () => 3)) === Seq(1, 2, 3))
    val h = Par.start(() => throw new ArithmeticException("delta failed"))
    assert(intercept[ArithmeticException](h.get()).getMessage === "delta failed")
  }

  test("no graft-par thread outlives a caller that throws before get()") {
    awaitNoParThreads()
    val worker = new java.util.concurrent.atomic.AtomicReference[Thread]()
    def caller(): Int = {
      val h = Par.start { () => worker.set(Thread.currentThread()); Thread.sleep(200); 1 }
      if (h != null) throw new IllegalStateException("publish failed")
      h.get()
    }
    intercept[IllegalStateException](caller())
    awaitNoParThreads()
    assert(parThreads.isEmpty, parThreads.map(_.getName))
    val t = worker.get()
    assert(t != null && t.getName.startsWith("graft-par-") && t.isDaemon)
  }
}
