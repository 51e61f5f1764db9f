package graft.ext

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.scalatest.funsuite.AnyFunSuite

/** [[ConcurrentActions.inParallel]]'s failure contract under an interrupt
  * of the calling thread (a streaming stop interrupts the foreachBatch
  * thread): the call still returns only after every thunk finished, it
  * rethrows the first thunk failure (not the interrupt), and it leaves
  * the interrupt flag set for the caller to see. */
class ConcurrentActionsSpec extends AnyFunSuite {

  test("inParallel under interrupt: waits for every thunk, rethrows the first failure, re-sets the flag") {
    val started = new CountDownLatch(2)
    val release = new CountDownLatch(1)
    val finished = new AtomicInteger(0)
    val boom = new IllegalStateException("first thunk failed")
    @volatile var outcome: Option[Throwable] = None
    @volatile var finishedAtReturn = -1
    @volatile var flagAtReturn = false
    val caller = new Thread(() => {
      try ConcurrentActions.inParallel(
          () => {
            started.countDown()
            release.await()
            finished.incrementAndGet()
            throw boom
          },
          () => {
            started.countDown()
            release.await()
            finished.incrementAndGet()
            ()
          })
      catch { case t: Throwable => outcome = Some(t) }
      finishedAtReturn = finished.get()
      flagAtReturn = Thread.currentThread().isInterrupted
    })
    caller.start()
    assert(started.await(30, TimeUnit.SECONDS), "thunks never started")
    caller.interrupt()
    // the interrupt must not end the call while a thunk still runs
    caller.join(300)
    assert(caller.isAlive, "inParallel returned while its thunks were blocked")
    release.countDown()
    caller.join(30000)
    assert(!caller.isAlive, "inParallel never returned")
    assert(finishedAtReturn == 2, s"returned after $finishedAtReturn of 2 thunks")
    assert(outcome.exists(_ eq boom), s"expected the thunk's failure, got $outcome")
    assert(flagAtReturn, "the caller's interrupt flag must be set again")
  }
}
