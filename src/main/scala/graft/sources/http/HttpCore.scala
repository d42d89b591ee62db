package graft.sources.http

import java.net.URI
import java.net.http.{HttpClient => JHttpClient, HttpRequest, HttpResponse}
import java.nio.charset.{Charset, StandardCharsets}
import java.time.Duration
import java.util.concurrent.{CompletableFuture, CompletionException, ExecutionException, Executor, TimeUnit}
import java.util.concurrent.atomic.AtomicReference

/** Retry/timeout policy. Defaults mirror the reference's operational
  * constants (erpl-web `src/include/http_client.hpp:90-97`): 30 s timeout,
  * 3 retries starting at 100 ms with ×4 exponential backoff. Redirects
  * follow the JDK client's `Redirect.NORMAL`, which applies its own limit.
  */
final case class HttpPolicy(
    timeoutMs: Long = 30000,
    retries: Int = 3,
    retryWaitMs: Long = 100,
    retryBackoff: Double = 4.0)

final case class HttpAuth(
    bearer: Option[String] = None,
    basicUser: Option[String] = None,
    basicPassword: Option[String] = None) {
  def headerValue: Option[String] = bearer.map("Bearer " + _).orElse(
    basicUser.map { u =>
      val raw = u + ":" + basicPassword.getOrElse("")
      "Basic " + java.util.Base64.getEncoder.encodeToString(raw.getBytes(StandardCharsets.UTF_8))
    })
}

final case class HttpResult(
    status: Int,
    url: String,
    headers: Map[String, String],
    contentType: String,
    body: Array[Byte]) {
  /** Sniffed binary decision — magic bytes and body shape first, the
    * Content-Type label second (see [[ContentSniff]]): a PNG served as
    * `text/plain` is binary; a JSON payload served as
    * `application/octet-stream` is text. */
  def isBinary: Boolean = body != null && body.nonEmpty &&
    ContentSniff.isBinary(body, contentType)

  /** Body as UTF-8 text after charset conversion (see [[Charsets]]); binary
    * payloads (sniffed, not just labeled) are returned base64-encoded with
    * the reference's `BINARY_CONTENT_BASE64:` prefix instead of being
    * mis-decoded (erpl-web `src/http_client.cpp:879-889`). */
  def text: String =
    if (isBinary)
      "BINARY_CONTENT_BASE64:" + java.util.Base64.getEncoder.encodeToString(body)
    else Charsets.toUtf8(body, contentType)
}

/** A failed answer: any status outside 2xx to a request that must succeed
  * ([[HttpCore.checked]]). Typed so a caller can act on one status (a 410
  * resync, a 404 absent endpoint, a probe's no) and let every other status
  * fail as it is. */
final class HttpStatusError(val method: String, val url: String, val status: Int,
                            val headers: Map[String, String], body: String)
  extends RuntimeException(s"$method $url -> HTTP $status: ${body.take(300)}")

/** Charset handling per the reference (`src/charset_converter.cpp:7-93`):
  * convert textual payloads to UTF-8 based on the Content-Type charset;
  * ISO-8859-1/-15 and windows-1252 recognized, UTF-8 default; binary
  * content types pass through untouched (callers use `body` directly). */
object Charsets {
  def fromContentType(ct: String): Charset = {
    val lower = Option(ct).getOrElse("").toLowerCase
    val cs = lower.split(';').map(_.trim).find(_.startsWith("charset="))
      .map(_.stripPrefix("charset=").trim.stripPrefix("\"").stripSuffix("\""))
    cs match {
      case Some("iso-8859-1")  => StandardCharsets.ISO_8859_1
      case Some("iso-8859-15") => Charset.forName("ISO-8859-15")
      case Some("windows-1252") | Some("cp1252") => Charset.forName("windows-1252")
      case Some(other) if Charset.isSupported(other) => Charset.forName(other)
      case _ => StandardCharsets.UTF_8
    }
  }
  def toUtf8(body: Array[Byte], contentType: String): String =
    new String(body, fromContentType(contentType))
}

/** HTTP client with retry/backoff. It keeps no response cache: every call
  * is one request to the server.
  *
  * One instance per JVM-side component (driver planning, or per executor via
  * `@transient lazy val` in partition readers — the client is NOT serialized;
  * connection pooling/keep-alive comes from the underlying
  * `java.net.http.HttpClient`). There is one retry path,
  * [[requestAsync]]; the blocking [[request]] waits on it. Wait schedule
  * matches the reference: wait × backoff^(attempt-1); a 429/503 answer
  * carrying `Retry-After` waits at least that long, capped at the request
  * timeout. `executor` runs the JDK client's exchanges and completions
  * (None: the JDK's own unbounded default).
  *
  * Only a transport failure and the transient statuses in [[HttpCore.Retried]]
  * (429, 500, 502, 503, 504) are sent again. Every other status, 501 and
  * 505 included, is an answer: a 501 "not implemented" capability probe
  * goes out once.
  */
class HttpCore(val policy: HttpPolicy = HttpPolicy(), executor: Option[Executor] = None) {

  private val client: JHttpClient = {
    val b = JHttpClient.newBuilder()
      .followRedirects(JHttpClient.Redirect.NORMAL)
      .connectTimeout(Duration.ofMillis(policy.timeoutMs))
    executor.foreach(b.executor)
    b.build()
  }

  def get(url: String, headers: Map[String, String] = Map.empty,
          auth: HttpAuth = HttpAuth()): HttpResult =
    request("GET", url, None, headers, auth)

  /** [[request]] held to the success rule: the 2xx answer, or its
    * [[HttpStatusError]] ([[HttpCore.checked]]). */
  def call(method: String, url: String, body: Option[(String, String)] = None,
           headers: Map[String, String] = Map.empty,
           auth: HttpAuth = HttpAuth()): HttpResult =
    HttpCore.checked(method, request(method, url, body, headers, auth))

  /** Sends one request and waits for [[requestAsync]]'s outcome: the
    * answer, or the failure that survived every retry. An interrupted
    * caller cancels the request, which is then never sent again. */
  def request(method: String, url: String, body: Option[(String, String)],
              headers: Map[String, String] = Map.empty,
              auth: HttpAuth = HttpAuth()): HttpResult = {
    val call = requestAsync(method, url, body, headers, auth)
    try call.get() catch {
      case e: ExecutionException => throw e.getCause
      case e: InterruptedException => call.cancel(true); throw e
    }
  }

  /** Sends one request without holding a thread while it waits: every
    * attempt goes out on the JDK client's `sendAsync`, and the wait before a
    * retry is scheduled on a delayed executor. The future completes with
    * the answer (the last one, when every attempt met a [[HttpCore.Retried]]
    * status) or fails with `HTTP <method> <url> failed after <n> retries`.
    *
    * Cancelling the future cancels the exchange in flight, and a cancelled
    * request is never sent again: an attempt still waiting out its retry
    * delay finds the future done and stops. Trace lines go where the
    * calling thread's would. */
  def requestAsync(method: String, url: String, body: Option[(String, String)],
                   headers: Map[String, String] = Map.empty,
                   auth: HttpAuth = HttpAuth()): CompletableFuture[HttpResult] = {
    val result = new CompletableFuture[HttpResult]()
    val traced = Trace.capture()
    val exchange = new AtomicReference[CompletableFuture[_]]()
    result.whenComplete { (_, _) => if (result.isCancelled) Option(exchange.get).foreach(_.cancel(true)) }
    // runs on a completion or delay thread: whatever escapes fails the request
    def guarded(body: => Unit): Unit =
      try Trace.within(traced)(body) catch { case e: Throwable => result.completeExceptionally(e) }

    def attempt(n: Int): Unit = if (!result.isDone) {
      val t0 = System.nanoTime()
      val sent = try send(method, url, body, headers, auth)
        catch { case e: Exception => CompletableFuture.failedFuture[HttpResponse[Array[Byte]]](e) }
      exchange.set(sent)
      if (result.isDone) sent.cancel(true)
      sent.whenComplete { (resp, err) =>
        guarded(answered(n, t0, if (err == null) Right(toResult(url, resp)) else Left(unwrap(err))))
      }
    }

    def answered(n: Int, t0: Long, last: Either[Throwable, HttpResult]): Unit = {
      if (result.isDone) return // cancelled meanwhile
      last.foreach(r => Trace.debug("http", s"$method $url -> ${r.status} " +
        s"(${if (r.body == null) 0 else r.body.length} B, ${(System.nanoTime() - t0) / 1000000} ms)"))
      last match {
        case Right(r) if !HttpCore.Retried(r.status) || n == policy.retries => result.complete(r)
        case Left(e) if n == policy.retries =>
          Trace.error("http", s"$method $url failed after ${policy.retries} retries: ${e.getMessage}")
          result.completeExceptionally(
            new RuntimeException(s"HTTP $method $url failed after ${policy.retries} retries", e))
        case _ =>
          val scheduled = (policy.retryWaitMs * math.pow(policy.retryBackoff, n.toDouble)).toLong
          // a throttled answer's Retry-After outranks a shorter schedule step
          val asked = last.fold(_ => 0L, HttpCore.retryAfterMs(_, System.currentTimeMillis()))
          val wait = math.min(policy.timeoutMs, math.max(scheduled, asked))
          Trace.warn("http", s"retry ${n + 1}/${policy.retries} $method $url after ${wait}ms")
          CompletableFuture.delayedExecutor(wait, TimeUnit.MILLISECONDS).execute(() => guarded(attempt(n + 1)))
      }
    }

    attempt(0)
    result
  }

  private def unwrap(e: Throwable): Throwable = e match {
    case c: CompletionException if c.getCause != null => c.getCause
    case _ => e
  }

  private def send(method: String, url: String, body: Option[(String, String)],
                   headers: Map[String, String],
                   auth: HttpAuth): CompletableFuture[HttpResponse[Array[Byte]]] = {
    val b = HttpRequest.newBuilder(URI.create(url))
      .timeout(Duration.ofMillis(policy.timeoutMs))
    headers.foreach { case (k, v) => b.header(k, v) }
    auth.headerValue.foreach(v => b.header("Authorization", v))
    body match {
      case Some((content, ct)) =>
        b.header("Content-Type", ct)
        b.method(method, HttpRequest.BodyPublishers.ofString(content))
      case None => b.method(method, HttpRequest.BodyPublishers.noBody())
    }
    client.sendAsync(b.build(), HttpResponse.BodyHandlers.ofByteArray())
  }

  private def toResult(url: String, resp: HttpResponse[Array[Byte]]): HttpResult = {
    val hs = {
      val m = scala.collection.mutable.Map[String, String]()
      resp.headers().map().forEach((k, vs) => m.put(k.toLowerCase, String.join(", ", vs)))
      m.toMap
    }
    HttpResult(resp.statusCode(), url, hs, hs.getOrElse("content-type", ""), resp.body())
  }
}

object HttpCore {
  /** Per-JVM shared instance (executors re-create it after deserialization —
    * never ship a client over the wire). */
  lazy val shared = new HttpCore()

  /** The statuses a request is retried on: throttling and transient
    * server or gateway failures. */
  val Retried: Set[Int] = Set(429, 500, 502, 503, 504)

  /** The one success rule for a request that must succeed: a 2xx status. */
  def succeeded(status: Int): Boolean = status / 100 == 2

  /** `r` if it [[succeeded]], else its [[HttpStatusError]]: `<method> <url>
    * -> HTTP <status>: <first 300 chars of the body>`. Applies to an answer
    * from [[HttpCore.request]] and from [[HttpCore.requestAsync]] alike. */
  def checked(method: String, r: HttpResult): HttpResult =
    if (succeeded(r.status)) r
    else throw new HttpStatusError(method, r.url, r.status, r.headers, r.text)

  /** The wait, in ms, a throttled (429/503) answer asks for in `Retry-After`:
    * delta-seconds or an HTTP-date (RFC 9110 §10.2.3). 0 for other statuses
    * and for an absent, past or unparsable value. */
  private[http] def retryAfterMs(r: HttpResult, nowMs: Long): Long =
    if (r.status != 429 && r.status != 503) 0L
    else r.headers.get("retry-after").map(_.trim).flatMap { v =>
      if (v.nonEmpty && v.forall(_.isDigit))
        Some(if (v.length > 9) Long.MaxValue else v.toLong * 1000L)
      else scala.util.Try(java.time.ZonedDateTime.parse(v,
        java.time.format.DateTimeFormatter.RFC_1123_DATE_TIME).toInstant.toEpochMilli - nowMs).toOption
    }.fold(0L)(math.max(0L, _))
}
