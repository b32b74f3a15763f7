package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicBoolean

import scala.concurrent.{ExecutionContext, Future, Promise}

import org.scalatest.funsuite.AnyFunSuite

import graft.engine.GraftSession

/** [[GraftSession.awaitAll]], the wait behind the concurrent star-schema
  * writes: results in input order, no failure rethrown while another
  * future still runs, and an interrupt handed back to the caller. No
  * Spark session.
  */
class AwaitAllSpec extends AnyFunSuite {

  private implicit val ec: ExecutionContext = ExecutionContext.global

  test("awaitAll returns the results in input order, whatever order they finish in") {
    val fs = (0 until 4).map(i => Future { Thread.sleep(40L * (4 - i)); i })
    assert(GraftSession.awaitAll(fs) == Seq(0, 1, 2, 3))
  }

  test("awaitAll rethrows the first failure only after every other future has finished") {
    val finished = new AtomicBoolean(false)
    val straggler = Future { Thread.sleep(300); finished.set(true); 1 }
    val failing = Future[Int](throw new IllegalStateException("first failure"))
    val err = intercept[IllegalStateException](GraftSession.awaitAll(Seq(straggler, failing)))
    assert(err.getMessage == "first failure")
    assert(finished.get, "the failure was rethrown while the straggler still ran")
  }

  test("an interrupted awaitAll stops waiting and gives the caller its interrupt flag back") {
    val never = Promise[Int]().future
    val failing = Future[Int](throw new IllegalStateException("first failure"))
    val waiting = new CountDownLatch(1)
    @volatile var thrown: Throwable = null
    @volatile var flagged = false
    val caller = new Thread(() => {
      waiting.countDown()
      try GraftSession.awaitAll(Seq(never, failing))
      catch { case e: Throwable => thrown = e }
      flagged = Thread.currentThread().isInterrupted
    })
    caller.start()
    waiting.await()
    Thread.sleep(200) // the caller is now in its straggler wait on `never`
    caller.interrupt()
    caller.join(TimeUnit.SECONDS.toMillis(10))
    assert(!caller.isAlive, "the interrupt did not end the straggler wait")
    assert(thrown.isInstanceOf[IllegalStateException], s"rethrew $thrown, not the first failure")
    assert(flagged, "the caller's interrupt flag was not restored")
  }
}
