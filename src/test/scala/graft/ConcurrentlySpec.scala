package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}

import org.scalatest.funsuite.AnyFunSuite

class ConcurrentlySpec extends AnyFunSuite {

  test("results come back in argument order") {
    val out = Concurrently(Seq(
      () => { Thread.sleep(50); "slow" },
      () => "fast"))
    assert(out == Seq("slow", "fast"))
  }

  test("the first failure in argument order is thrown, not the first to finish") {
    // action 2 fails at once; action 1 fails well after action 2 has thrown
    val secondFailed = new CountDownLatch(1)
    val first = new IllegalStateException("action 1")
    val second = new IllegalArgumentException("action 2")
    val thrown = intercept[RuntimeException](Concurrently(Seq(
      () => {
        assert(secondFailed.await(10, TimeUnit.SECONDS))
        Thread.sleep(100)
        throw first
      },
      () => try throw second finally secondFailed.countDown())))
    assert(thrown eq first)
  }

  test("every action runs to completion when one fails") {
    val ran = new java.util.concurrent.atomic.AtomicInteger()
    intercept[IllegalStateException](Concurrently(Seq(
      () => throw new IllegalStateException("boom"),
      () => { Thread.sleep(50); ran.incrementAndGet() })))
    assert(ran.get() == 1)
  }
}
