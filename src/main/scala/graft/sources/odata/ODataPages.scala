package graft.sources.odata

import com.fasterxml.jackson.databind.JsonNode
import graft.sources.http.{HttpAuth, HttpCore, HttpStatusError}

/** The connector's one pagination loop (reference
  * `ODataEntitySetClient::Get(get_next=true)`, SURVEY §3.1 step 4): GET a
  * page, read its envelope, follow `@odata.nextLink` / `__next` until a page
  * carries none. Every paged reader walks through here. */
object ODataPages {

  /** One page: the body as text, its size as received, the response headers
    * (empty for a preloaded page), the parsed root and its envelope. */
  final case class Fetched(text: String, bytes: Long, headers: Map[String, String],
                           root: JsonNode, page: ODataJson.Page) {
    def rows: Seq[JsonNode] = page.rows
  }

  /** Lazily walk the pages from `url`, one element per page.
    *
    * No GET happens until `next()`: `hasNext` only says whether a next URL
    * is known, and each `next()` sends exactly one uncached GET with
    * `headers` and `auth`. A caller that stops pulling (a capped walk)
    * therefore sends no further request. A non-200 answer throws
    * [[HttpStatusError]].
    *
    * The repeated-link guard's scope is this one walk: a URL fetched twice
    * within it throws `OData nextLink loop: ...` instead of paging forever.
    * Two separate walks of one URL are independent.
    *
    * `preloaded` is the first page's body when it already arrived another
    * way (a planning-time `$batch`); it stands in for the GET of `url`,
    * which still counts as fetched. */
  def walk(url: String, auth: HttpAuth, headers: Map[String, String] = Map.empty,
           http: HttpCore = HttpCore.shared,
           preloaded: Option[String] = None): Iterator[Fetched] =
    new Iterator[Fetched] {
      private var nextUrl: Option[String] = Some(url)
      private var first = preloaded
      private val fetched = scala.collection.mutable.HashSet[String]()

      override def hasNext: Boolean = nextUrl.isDefined

      override def next(): Fetched = {
        val u = nextUrl.getOrElse(throw new NoSuchElementException("OData walk is exhausted"))
        if (!fetched.add(u))
          throw new RuntimeException(s"OData nextLink loop: $u was already fetched by this partition")
        val (text, bytes, hs) = first match {
          case Some(body) =>
            first = None
            (body, body.length.toLong, Map.empty[String, String])
          case None =>
            val r = http.get(u, headers = headers, auth = auth, useCache = false)
            if (r.status != 200) throw new HttpStatusError("GET", r.url, r.status, r.headers, r.text)
            (r.text, r.body.length.toLong, r.headers)
        }
        val root = ODataJson.parse(text)
        val page = ODataJson.extractPage(root)
        nextUrl = page.nextLink
        Fetched(text, bytes, hs, root, page)
      }
    }
}
