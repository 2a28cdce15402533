package graft.sources.odata

import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration._

import org.scalatest.funsuite.AnyFunSuite

/** The retry/throttle behavior the reference's live CI exercises against
  * CBS, certified offline: a flaky client that throws once (HTTP 429) and
  * succeeds on retry, a 404 that must NOT be retried, a permanently
  * failing fetch that surfaces its error after the bounded attempts, and a
  * stalled server whose `HttpClient` timeout is retried the same way.
  */
class RetryingClientSpec extends AnyFunSuite {

  /** Throws on the first `failures` calls per url, then delegates. */
  private class Flaky(inner: StatlineClient, failures: Int,
                      boom: String => Throwable = u => HttpStatusException(429, u))
      extends StatlineClient {
    val calls = scala.collection.mutable.Map.empty[String, Int].withDefaultValue(0)
    override def get(url: String): Option[String] = {
      calls(url) += 1
      if (calls(url) <= failures) throw boom(url)
      inner.get(url)
    }
  }

  private def retrying(inner: StatlineClient): (RetryingClient, () => Seq[Long]) = {
    val slept = scala.collection.mutable.ArrayBuffer.empty[Long]
    val c = RetryingClient(inner, maxRetries = 3, baseDelayMs = 100)
    c.sleep = slept += _
    (c, () => slept.toSeq)
  }

  test("a page that 429s once succeeds on retry with one backoff sleep") {
    val flaky = new Flaky(ReplayClient(Map("u" -> "payload")), failures = 1)
    val (c, slept) = retrying(flaky)
    assert(c.get("u").contains("payload"))
    assert(flaky.calls("u") == 2)
    assert(slept() == Seq(100L))
  }

  test("404 is a value, not a failure: absent resource is never retried") {
    val inner = new Flaky(ReplayClient(Map.empty), failures = 0)
    val (c, slept) = retrying(inner)
    assert(c.get("missing").isEmpty)
    assert(inner.calls("missing") == 1)
    assert(slept().isEmpty)
  }

  test("a permanently failing fetch surfaces after bounded exponential attempts") {
    val flaky = new Flaky(ReplayClient(Map("u" -> "x")), failures = Int.MaxValue)
    val (c, slept) = retrying(flaky)
    val e = intercept[java.io.IOException](c.get("u"))
    assert(e.getMessage.contains("429"))
    assert(flaky.calls("u") == 4) // 1 + maxRetries, never infinite
    assert(slept() == Seq(100L, 200L, 400L)) // deterministic doubling;
    // every sleep sits BETWEEN two attempts — none after the last failure
  }

  test("transport-level IOException (no status) is transient and retried") {
    val flaky = new Flaky(ReplayClient(Map("u" -> "payload")), failures = 1,
      boom = u => new java.net.SocketTimeoutException(s"read timed out: $u"))
    val (c, slept) = retrying(flaky)
    assert(c.get("u").contains("payload"))
    assert(flaky.calls("u") == 2)
    assert(slept() == Seq(100L))
  }

  test("a 400 is a client error: never retried, surfaces on first failure") {
    val flaky = new Flaky(ReplayClient(Map("u" -> "x")), failures = Int.MaxValue,
      boom = u => HttpStatusException(400, u))
    val (c, slept) = retrying(flaky)
    val e = intercept[HttpStatusException](c.get("u"))
    assert(e.status == 400)
    assert(flaky.calls("u") == 1)
    assert(slept().isEmpty)
  }

  test("a parse/logic error is not transient: never retried") {
    val flaky = new Flaky(ReplayClient(Map("u" -> "x")), failures = Int.MaxValue,
      boom = u => new RuntimeException(s"malformed payload for $u"))
    val (c, slept) = retrying(flaky)
    intercept[RuntimeException](c.get("u"))
    assert(flaky.calls("u") == 1)
    assert(slept().isEmpty)
  }

  test("a stalled server times out, and RetryingClient retries the timeout then rethrows") {
    // accepts connections (kernel backlog) and never answers
    val server = new java.net.ServerSocket(0, 50, java.net.InetAddress.getLoopbackAddress)
    try {
      val url = s"http://127.0.0.1:${server.getLocalPort}/CBS/83583NED?$$format=json"
      val http = new HttpClient(java.time.Duration.ofMillis(300))
      // bounded wait: a client without timeouts fails here instead of hanging the suite
      val outcome = Await.result(Future(scala.util.Try(http.get(url))), 10.seconds)
      assert(outcome.failed.toOption.exists(_.isInstanceOf[java.net.http.HttpTimeoutException]),
        s"expected HttpTimeoutException, got $outcome")

      var attempts = 0
      val counting = new StatlineClient {
        override def get(u: String): Option[String] = { attempts += 1; http.get(u) }
      }
      val (c, slept) = retrying(counting)
      intercept[java.net.http.HttpTimeoutException](c.get(url))
      assert(attempts == c.maxRetries + 1)
      assert(slept() == Seq(100L, 200L, 400L))
    } finally server.close()
  }

  test("interruption is cancellation: re-thrown immediately with interrupt status restored") {
    val flaky = new Flaky(ReplayClient(Map("u" -> "x")), failures = Int.MaxValue,
      boom = _ => new InterruptedException("task killed"))
    val (c, slept) = retrying(flaky)
    Thread.interrupted() // clear any leftover flag so the assert is ours
    try {
      intercept[InterruptedException](c.get("u"))
      assert(Thread.currentThread().isInterrupted,
        "interrupt status must be restored for Spark task cancellation")
      assert(flaky.calls("u") == 1)
      assert(slept().isEmpty)
    } finally Thread.interrupted() // don't leak the flag into other tests
  }
}
