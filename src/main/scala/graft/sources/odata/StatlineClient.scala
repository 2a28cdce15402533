package graft.sources.odata

/** The wire boundary of the ingest connector. Implementations must be
  * Serializable: page fetches execute on executors (the Spark analog of the
  * reference's dask-bag fan-out, statline.py:469-473).
  *
  * `None` models an absent resource (HTTP 404 / error status) — the
  * reference maps those to "not v4" (statline.py:15-48) or "empty page"
  * (utils.py:229-264).
  */
trait StatlineClient extends Serializable {
  def get(url: String): Option[String]
}

/** Offline replay client: exact url → payload. Drives the connector in
  * tests/CI with zero network, mirroring how the reference's golden-fixture
  * tests replay recorded responses.
  */
final case class ReplayClient(pages: Map[String, String]) extends StatlineClient {
  override def get(url: String): Option[String] = pages.get(url)
}

/** A non-200/404 HTTP status, carried TYPED so retry policy can
  * distinguish throttling/server faults (429/5xx — transient) from client
  * errors (other 4xx — retrying a 400 would just re-send a malformed
  * request `maxRetries` more times and mask the real defect).
  */
final case class HttpStatusException(status: Int, url: String)
    extends java.io.IOException(s"HTTP $status for $url")

/** Bounded-retry decorator over any [[StatlineClient]]: a TRANSIENT thrown
  * fetch — 429/5xx via [[HttpStatusException]], or a transport-level
  * `IOException` (reset, timeout, DNS) — is retried up to `maxRetries`
  * times with deterministic exponential backoff (a sleep happens only when
  * another attempt follows; the last failure surfaces immediately).
  * Everything else propagates on the FIRST failure: a `None` (HTTP 404) is
  * a VALUE — absent resource, the version probe and empty-table skip depend
  * on it being immediate; non-transient 4xx and parse/logic errors would
  * fail identically on every resend; `InterruptedException` is cancellation,
  * not flakiness — it is re-thrown with the thread's interrupt status
  * restored (`client.send` clears it when throwing) so Spark task kills
  * still cancel promptly mid-pagination. Fatal JVM errors pass through the
  * `NonFatal` guard untouched.
  *
  * This is the one live-ingest behavior the reference's live CI exercises
  * (its requests session retries throttled CBS calls) that a pure replay
  * harness can't: composing it as a decorator keeps it fully testable
  * offline — wrap a flaky [[ReplayClient]] and inject a no-op `sleep`
  * (see `RetryingClientSpec`). Executors construct their own copies via
  * serialization, so the per-instance attempt state needs no coordination.
  */
final case class RetryingClient(inner: StatlineClient, maxRetries: Int = 3,
                                baseDelayMs: Long = 200)
    extends StatlineClient {
  /** Injection seam for specs — real sleeps would slow the suite. */
  @transient private[odata] var sleep: Long => Unit = Thread.sleep

  private def isTransient(e: Throwable): Boolean = e match {
    case h: HttpStatusException => h.status == 429 || h.status >= 500
    case _: java.io.IOException => true // transport: reset, timeout, DNS
    case _                      => false
  }

  override def get(url: String): Option[String] = {
    var attempt = 0
    while (true) {
      try return inner.get(url)
      catch {
        case e: InterruptedException =>
          Thread.currentThread().interrupt()
          throw e
        case scala.util.control.NonFatal(e) if attempt < maxRetries && isTransient(e) =>
          val s = Option(sleep).getOrElse((ms: Long) => Thread.sleep(ms))
          s(baseDelayMs << attempt)
          attempt += 1
      }
    }
    throw new IllegalStateException("unreachable")
  }
}

/** java.net.http-based client for live use (driver + executors). Kept tiny:
  * the engine's correctness never depends on it — everything is testable
  * through [[ReplayClient]].
  *
  * Semantics: 200 → body; 404 → None (absent — the version probe and empty
  * tables rely on this); any other status → exception. Mapping a 429/500 to
  * None would silently drop a page mid-pagination and write a truncated
  * snapshot whose Modified date then blocks re-ingestion.
  *
  * `timeout` bounds the connect and, per request, the wait for the response
  * headers; a server that stalls surfaces as `HttpTimeoutException`, an
  * `IOException` that [[RetryingClient]] retries. Without it a stalled
  * source would hang its Spark task forever.
  */
final class HttpClient(timeout: java.time.Duration = java.time.Duration.ofSeconds(60))
    extends StatlineClient {
  @transient private lazy val client =
    java.net.http.HttpClient.newBuilder().connectTimeout(timeout).build()

  /** Percent-encodes each query-parameter *value* (URLs are assembled from
    * plain text upstream — "$filter=Identifier eq 'X'" — and URI.create
    * rejects spaces; reserved characters like +, %, ' in a filter value would
    * otherwise be misread by the server). Parameter names ($format, $skip,
    * $filter) are emitted by this connector and already URL-safe.
    */
  private[odata] def encodeQueryValues(url: String): String = {
    val qIdx = url.indexOf('?')
    if (qIdx < 0) url
    else {
      def enc(s: String) = java.net.URLEncoder
        .encode(s, java.nio.charset.StandardCharsets.UTF_8).replace("+", "%20")
      val query = url.substring(qIdx + 1).split("&", -1).map { param =>
        val eq = param.indexOf('=')
        if (eq < 0) enc(param)
        else param.substring(0, eq) + "=" + enc(param.substring(eq + 1))
      }.mkString("&")
      url.substring(0, qIdx + 1) + query
    }
  }

  override def get(url: String): Option[String] = {
    val req = java.net.http.HttpRequest.newBuilder(
      java.net.URI.create(encodeQueryValues(url))).timeout(timeout).GET().build()
    val resp = client.send(req, java.net.http.HttpResponse.BodyHandlers.ofString())
    resp.statusCode() match {
      case 200 => Some(resp.body())
      case 404 => None
      case other => throw HttpStatusException(other, url)
    }
  }
}
