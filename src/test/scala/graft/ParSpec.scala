package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.scalatest.funsuite.AnyFunSuite

/** [[Par.run]]'s failure contract under an interrupted caller: no thunk is
  * left in flight behind the caller's back. */
class ParSpec extends AnyFunSuite {

  test("Par.run awaits every in-flight thunk after an interrupt, then rethrows it") {
    val started = new CountDownLatch(2)
    val release = new CountDownLatch(1)
    val finished = new AtomicInteger()
    // a thunk stands for an in-flight write: deaf to interrupts
    def thunk(): () => Unit = () => {
      started.countDown()
      var open = false
      while (!open)
        try { release.await(); open = true }
        catch { case _: InterruptedException => }
      finished.incrementAndGet()
      ()
    }
    @volatile var outcome: Option[Throwable] = None
    @volatile var finishedAtReturn = -1
    @volatile var flagAfter = false
    val caller = new Thread(() => {
      outcome =
        try { Par.run(thunk(), thunk()); None }
        catch { case t: Throwable => Some(t) }
      finishedAtReturn = finished.get()
      flagAfter = Thread.currentThread().isInterrupted
    })
    caller.start()
    assert(started.await(10, TimeUnit.SECONDS), "thunks never started")
    caller.interrupt()
    Thread.sleep(300)
    assert(caller.isAlive, "run returned while both thunks were still in flight")
    release.countDown()
    caller.join(10000)
    assert(!caller.isAlive)
    assert(finishedAtReturn === 2, "run returned before every thunk finished")
    assert(outcome.exists(_.isInstanceOf[InterruptedException]), outcome)
    assert(flagAfter, "the caller's interrupt flag must be re-set")
  }
}
