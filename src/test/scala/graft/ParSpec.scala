package graft

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, CyclicBarrier, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

class ParSpec extends AnyFunSuite {

  test("all sides run at once, the first on the calling thread") {
    val n = 4
    // no side passes the barrier until every side has reached it
    val barrier = new CyclicBarrier(n)
    val threads = new ConcurrentLinkedQueue[Thread]()
    Par.all(Seq.fill(n)(() => {
      threads.add(Thread.currentThread())
      barrier.await(30, TimeUnit.SECONDS)
    }))
    assert(threads.size == n && threads.asScala.toSet.size == n)
    assert(threads.contains(Thread.currentThread()))
  }

  test("a single side runs inline, on no extra thread") {
    var ranOn: Thread = null
    Par.all(Seq(() => ranOn = Thread.currentThread()))
    assert(ranOn eq Thread.currentThread())
    Par.all(Nil)
  }

  test("every side runs; the first failure in side order is thrown, the others suppressed") {
    val ran = new AtomicInteger()
    val errs = (0 until 4).map(i => new IllegalStateException(s"side $i"))
    val e = intercept[IllegalStateException] {
      Par.all(Seq(
        () => { ran.incrementAndGet(); () },
        () => { ran.incrementAndGet(); Thread.sleep(200); throw errs(1) },
        () => { ran.incrementAndGet(); throw errs(2) },
        () => { ran.incrementAndGet(); throw errs(3) }))
    }
    assert(ran.get == 4)
    // side 1 finishes last but is first in side order
    assert(e eq errs(1))
    assert(e.getSuppressed.toSeq == Seq(errs(2), errs(3)))
    val first = intercept[IllegalStateException] {
      Par.all(Seq(() => throw errs(0), () => { ran.incrementAndGet(); () }))
    }
    assert((first eq errs(0)) && first.getSuppressed.isEmpty && ran.get == 5)
  }

  test("an interrupted caller returns only after every side has finished") {
    val blocked = new CountDownLatch(1)
    val release = new CountDownLatch(1)
    @volatile var sideDone = false
    @volatile var doneWhenReturned = false
    @volatile var interruptedAfter = false
    val caller = new Thread(() => {
      Par.all(Seq(
        () => (),
        () => {
          blocked.countDown()
          release.await()
          Thread.sleep(100)
          sideDone = true
        }))
      doneWhenReturned = sideDone
      interruptedAfter = Thread.currentThread().isInterrupted
    })
    caller.start()
    assert(blocked.await(30, TimeUnit.SECONDS))
    caller.interrupt()
    caller.join(500)
    assert(caller.isAlive, "Par.all returned while a side was still running")
    release.countDown()
    caller.join(30000)
    assert(!caller.isAlive)
    assert(doneWhenReturned, "Par.all returned before the blocked side finished")
    assert(interruptedAfter, "the deferred interrupt must be re-asserted on the caller")
  }
}
