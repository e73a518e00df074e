package graft.ops

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

class HashingSpec extends AnyFunSuite {

  test("concurrently: an interrupt of the caller stops every task before " +
      "it propagates") {
    val threads = new ConcurrentLinkedQueue[Thread]()
    val finished = new ConcurrentLinkedQueue[Thread]()
    val started = new CountDownLatch(2)
    val block = () => {
      threads.add(Thread.currentThread())
      try {
        started.countDown()
        Thread.sleep(60000)
      } finally finished.add(Thread.currentThread())
    }
    val caller = Thread.currentThread()
    val interrupter = new Thread(() => {
      started.await()
      caller.interrupt()
    })
    interrupter.start()
    try {
      intercept[InterruptedException](Hashing.concurrently(block, block))
      // every task ran its finally block before the interrupt came out
      assert(finished.asScala.toSet == threads.asScala.toSet)
      assert(threads.size == 2)
      threads.asScala.foreach { t =>
        t.join(TimeUnit.SECONDS.toMillis(10))
        assert(!t.isAlive, s"${t.getName} outlived the call")
      }
    } finally {
      interrupter.join()
      Thread.interrupted() // never leave the flag set for the next unit
    }
  }
}
