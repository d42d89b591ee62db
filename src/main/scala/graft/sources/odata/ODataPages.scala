package graft.sources.odata

import graft.sources.http.{Charsets, HttpAuth, HttpCore, HttpResult}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.{CompletableFuture, ExecutionException, Executors}
import scala.collection.mutable

/** The connector's one pagination loop (reference
  * `ODataEntitySetClient::Get(get_next=true)`, SURVEY §3.1 step 4): GET a
  * page, decode it, follow `@odata.nextLink` / `__next` until a page
  * carries none. Every paged reader walks through here with its page
  * decoder: row readers pass a [[ODataJson.RowDecoder]], readers that
  * inspect payloads pass [[ODataJson.tree]]. A `$skip`/`$top` range
  * partition reads its window ahead through [[RangeReadAhead]], up to 16
  * page GETs in flight. */
object ODataPages {

  /** One page: its UTF-8 body, the response headers (empty for a preloaded
    * page) and the page decoded from the body. */
  final case class Fetched[P <: ODataJson.Paged](body: Array[Byte], headers: Map[String, String],
                                                 page: P)

  /** Lazily walk the pages from `url`, one element per page, each decoded
    * by `decode` on the caller's thread.
    *
    * No GET happens until `next()`: `hasNext` only says whether a next URL
    * is known, and each `next()` sends exactly one uncached GET with
    * `headers` and `auth`. A caller that stops pulling (a capped walk)
    * therefore sends no further request. A non-2xx answer throws
    * [[graft.sources.http.HttpStatusError]] ([[HttpCore.checked]]).
    *
    * The repeated-link guard's scope is this one walk: a URL fetched twice
    * within it throws `OData nextLink loop: ...` instead of paging forever.
    * Two separate walks of one URL are independent.
    *
    * `preloaded` is the first page's body when it already arrived another
    * way (a [[RangeReadAhead]] sub-range GET); it stands in for the GET of
    * `url`, which still counts as fetched. */
  def walk[P <: ODataJson.Paged](url: String, auth: HttpAuth, decode: Array[Byte] => P,
                                 headers: Map[String, String] = Map.empty,
                                 http: HttpCore = HttpCore.shared,
                                 preloaded: Option[Array[Byte]] = None): Iterator[Fetched[P]] =
    new Iterator[Fetched[P]] {
      private var nextUrl: Option[String] = Some(url)
      private var first = preloaded
      private val fetched = scala.collection.mutable.HashSet[String]()

      override def hasNext: Boolean = nextUrl.isDefined

      override def next(): Fetched[P] = {
        val u = nextUrl.getOrElse(throw new NoSuchElementException("OData walk is exhausted"))
        if (!fetched.add(u))
          throw new RuntimeException(s"OData nextLink loop: $u was already fetched by this partition")
        val (body, hs) = first match {
          case Some(b) =>
            first = None
            (b, Map.empty[String, String])
          case None =>
            val r = http.call("GET", u, headers = headers, auth = auth)
            (utf8(r), r.headers)
        }
        val page = decode(body)
        nextUrl = page.nextLink
        Fetched(body, hs, page)
      }
    }

  /** The body as UTF-8 bytes: as received unless its charset says otherwise. */
  private def utf8(r: HttpResult): Array[Byte] =
    if (Charsets.fromContentType(r.contentType) == UTF_8) r.body else r.text.getBytes(UTF_8)

  /** Most sub-range GETs one range partition keeps in flight. */
  private val MaxDepth = 16

  /** Most unparsed body bytes one partition's window is sized to hold. */
  private val WindowBytes = 32L << 20

  /** The window for pages of `pageBytes`: 16 GETs, fewer for pages wider
    * than 2 MiB, at least 1. */
  private[odata] def depthFor(pageBytes: Long): Int =
    math.min(MaxDepth.toLong, math.max(1L, WindowBytes / math.max(1L, pageBytes))).toInt

  /** Sub-range GETs go through their own client, so planning, interactive
    * requests and first pages keep the few keep-alive connections of
    * `HttpCore.shared` to themselves: sharing them slowed single-request
    * reads. Its exchanges complete on 4 daemon threads, in place of the
    * JDK's unbounded default: no thread waits on a GET. */
  private lazy val readAheadHttp = new HttpCore(executor = Some(Executors.newFixedThreadPool(4,
    r => { val t = new Thread(r, "odata-read-ahead"); t.setDaemon(true); t })))

  /** The pages of one `$skip`/`$top` range partition, read ahead.
    *
    * The first page of `url` (whose window is `[skip, skip + top)`) is
    * fetched as [[walk]] would, on `HttpCore.shared`. If it links on, its
    * row count `n` is the server's page size: the rest of the window is
    * cut into sub-ranges of `n` rows, each `url` with its `$skip`/`$top`
    * replaced (so the `$orderby` key pin stays), and their GETs go out on
    * [[HttpCore.requestAsync]], up to `min(16, 32 MiB / first page's body
    * bytes)` at once (at least 1). So a task holds at most 16 unparsed
    * bodies and, while its pages are no wider than its first, at most
    * 32 MiB of them. No thread waits on a GET in flight. Pages come out in
    * sub-range order, with the same GETs as a serial walk of a full window.
    *
    * Every page is decoded on the caller's thread, by a [[walk]] that takes
    * the body as its preloaded first page and follows the sub-range's own
    * nextLinks (a server page smaller than `n`). A sub-range that ends
    * short ends the data: nothing after it is sent, and what is in flight
    * is cancelled. The first failure in window order throws on the
    * caller's thread (a non-2xx answer as its [[HttpCore.checked]] error)
    * after cancelling the rest, as does `close()`; a cancelled GET is never
    * sent again, even one waiting out a retry delay. */
  private[odata] final class RangeReadAhead[P <: ODataJson.Paged](
      url: String, skip: Long, top: Long, auth: HttpAuth, headers: Map[String, String],
      decode: Array[Byte] => P)
    extends Iterator[Fetched[P]] with AutoCloseable {

    private val base = ODataUrl.parse(url)
    private var started = false
    private var depth = 1
    private var pages: Iterator[Fetched[P]] = Iterator.empty
    // sub-ranges not yet sent, as (skip, top); (url, top, GET) in flight
    private var pending: Iterator[(Long, Long)] = Iterator.empty
    private val inFlight = mutable.Queue[(String, Long, CompletableFuture[HttpResult])]()
    // rows the current sub-range asked for and has yielded so far
    private var asked = 0L
    private var got = 0L

    override def hasNext: Boolean =
      try {
        if (!started) { started = true; pages = firstPage() }
        while (!pages.hasNext && inFlight.nonEmpty) {
          if (got < asked) close() // a short sub-range: the data ends here
          else pages = nextSubRange()
        }
        pages.hasNext
      } catch { case e: Exception => close(); throw e }

    override def next(): Fetched[P] = {
      if (!hasNext) throw new NoSuchElementException("OData range is exhausted")
      val p = pages.next()
      got += p.page.size
      p
    }

    override def close(): Unit = {
      pending = Iterator.empty
      inFlight.foreach(_._3.cancel(true))
      inFlight.clear()
    }

    private def firstPage(): Iterator[Fetched[P]] = {
      val head = walk(url, auth, decode, headers)
      val first = head.next()
      val n = first.page.size.toLong
      if (first.page.nextLink.isEmpty || n == 0) Iterator.single(first) ++ head
      else {
        depth = depthFor(first.body.length.toLong)
        pending = Iterator.iterate(skip + n)(_ + n).takeWhile(_ < skip + top)
          .map(s => (s, math.min(n, skip + top - s)))
        send()
        Iterator.single(first)
      }
    }

    /** Tops the window up to `depth` GETs. */
    private def send(): Unit =
      while (inFlight.size < depth && pending.hasNext) {
        val (s, t) = pending.next()
        val u = base.withParam("$top", t.toString).withParam("$skip", s.toString).render
        inFlight += ((u, t, readAheadHttp.requestAsync("GET", u, None, headers, auth)))
      }

    private def nextSubRange(): Iterator[Fetched[P]] = {
      val (u, t, fetch) = inFlight.dequeue()
      val r = HttpCore.checked("GET", try fetch.get() catch { case e: ExecutionException => throw e.getCause })
      val rest = walk(u, auth, decode, headers, readAheadHttp, preloaded = Some(utf8(r)))
      val first = rest.next() // decoded before the next GET goes out
      send()
      asked = t
      got = 0
      Iterator.single(first) ++ rest
    }
  }
}
