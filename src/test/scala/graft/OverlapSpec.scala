package graft

import java.io.IOException
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicBoolean
import org.scalatest.funsuite.AnyFunSuite
import graft.util.Overlap

/** `Overlap.run`: the background block never outlives the call, and errors
  * surface in a fixed order.
  */
class OverlapSpec extends AnyFunSuite {

  test("an interrupted caller still waits for the background block, then keeps its interrupt flag") {
    val release = new CountDownLatch(1)
    val backgroundDone = new AtomicBoolean(false)
    val doneAtReturn = new AtomicBoolean(false)
    val interruptedAtReturn = new AtomicBoolean(false)
    val caller = new Thread(() => {
      Overlap.run { release.await(); backgroundDone.set(true) }(())
      doneAtReturn.set(backgroundDone.get)
      interruptedAtReturn.set(Thread.currentThread().isInterrupted)
    })
    caller.start()
    // the foreground is empty, so the caller's first wait is the join
    val deadline = System.nanoTime() + TimeUnit.SECONDS.toNanos(10)
    while (caller.getState != Thread.State.WAITING && System.nanoTime() < deadline) Thread.sleep(1)
    assert(caller.getState == Thread.State.WAITING, "the caller never reached the join")
    caller.interrupt()
    Thread.sleep(100)
    assert(caller.isAlive, "the call returned while its background block was still running")
    release.countDown()
    caller.join(10000)
    assert(!caller.isAlive)
    assert(doneAtReturn.get, "the background block had not finished when the call returned")
    assert(interruptedAtReturn.get, "the caller's interrupt flag was lost")
  }

  test("both blocks fail: the foreground's error is thrown with the background's suppressed") {
    val write = new IOException("write failed")
    val e = intercept[IllegalStateException] {
      Overlap.run(throw write)(throw new IllegalStateException("emission failed"))
    }
    assert(e.getMessage == "emission failed")
    assert(e.getSuppressed.toSeq == Seq(write))
  }

  test("only the background block fails: its error is thrown after the foreground finishes") {
    val foregroundDone = new AtomicBoolean(false)
    val e = intercept[IOException] {
      Overlap.run(throw new IOException("write failed"))(foregroundDone.set(true))
    }
    assert(e.getMessage == "write failed")
    assert(foregroundDone.get)
  }
}
