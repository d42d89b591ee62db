package perfbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.sun.net.httpserver.{HttpExchange, HttpServer}
import java.io.ByteArrayOutputStream
import java.net.{InetSocketAddress, URLDecoder}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue, ConcurrentSkipListMap, Executors, ScheduledExecutorService, TimeUnit}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Column types the fixture serves; each maps to one EDM primitive. */
sealed abstract class ColType(val edm: String)
object ColType {
  case object Int64 extends ColType("Edm.Int64")
  case object Int32 extends ColType("Edm.Int32")
  case object Dbl extends ColType("Edm.Double")
  case object Str extends ColType("Edm.String")
  /** Epoch microseconds, served as ISO-8601 `Edm.DateTimeOffset`. */
  case object Ts extends ColType("Edm.DateTimeOffset")
}

final case class Col(name: String, tpe: ColType)

/** One row: values in column order (Long, Int, Double, String, Long micros or null). */
final class Row(val values: Array[Any])

/** Renders fixture values as JSON text. Doubles use the shortest round-trip
  * form, so a reader that parses them back gets the stored bits. */
object Json {
  def str(s: String, sb: java.lang.StringBuilder): Unit = {
    sb.append('"')
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      c match {
        case '"'  => sb.append("\\\"")
        case '\\' => sb.append("\\\\")
        case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
        case c => sb.append(c)
      }
      i += 1
    }
    sb.append('"')
  }
  def value(v: Any, t: ColType, sb: java.lang.StringBuilder): Unit =
    if (v == null) sb.append("null")
    else t match {
      case ColType.Str => str(v.asInstanceOf[String], sb)
      case ColType.Ts  => sb.append('"').append(Fixture.isoMicros(v.asInstanceOf[Long])).append('"')
      case _           => sb.append(v.toString)
    }
  def obj(cols: Seq[Col], idx: Seq[Int], r: Row, sb: java.lang.StringBuilder): Unit = {
    sb.append('{')
    var first = true
    idx.foreach { i =>
      if (!first) sb.append(',')
      first = false
      str(cols(i).name, sb); sb.append(':'); value(r.values(i), cols(i).tpe, sb)
    }
    sb.append('}')
  }
}

/** An entity set: rows in key order. Read-only sets pre-render each row's
  * JSON once; the writable set keeps a key map and re-snapshots it on the
  * first read after a write. */
final class EntitySet(val name: String, val typeName: String, val cols: IndexedSeq[Col],
                      val keys: Seq[String], initial: Seq[Row], val writable: Boolean,
                      val pageSize: Int) {
  val colIndex: Map[String, Int] = cols.map(_.name).zipWithIndex.toMap
  val keyIdx: Seq[Int] = keys.map(colIndex)
  private val allIdx = cols.indices

  private val ordering: Ordering[Row] = new Ordering[Row] {
    def compare(a: Row, b: Row): Int = {
      var i = 0
      while (i < keyIdx.length) {
        val c = Fixture.cmp(a.values(keyIdx(i)), b.values(keyIdx(i)))
        if (c != 0) return c
        i += 1
      }
      0
    }
  }

  private val live = new ConcurrentSkipListMap[Long, Row]()
  @volatile private var snap: (Array[Row], Array[Array[Byte]]) = {
    val sorted = initial.sorted(ordering).toArray
    if (writable) sorted.foreach(r => live.put(r.values(keyIdx.head).asInstanceOf[Long], r))
    (sorted, if (writable) null else Fixture.parMap(sorted)(render))
  }
  /** Bumped on every write; the sort cache keys on it. */
  val version = new AtomicLong(0)
  private val sortCache = new ConcurrentHashMap[String, Array[Int]]()

  def render(r: Row): Array[Byte] = {
    val sb = new java.lang.StringBuilder(256)
    Json.obj(cols, allIdx, r, sb)
    sb.toString.getBytes(UTF_8)
  }

  @volatile private var dirty = false
  def rows: Array[Row] = {
    if (dirty) synchronized {
      if (dirty) { dirty = false; snap = (live.values().asScala.toArray, null) }
    }
    snap._1
  }
  /** Pre-rendered full-row JSON, or None for the writable set. */
  def rendered: Option[Array[Array[Byte]]] = Option(snap._2)

  /** Row positions in `$orderby` order (cached per ordering and version). */
  def sortedBy(orderby: String): Array[Int] = {
    val key = s"${version.get}|$orderby"
    sortCache.computeIfAbsent(key, { _ =>
      if (sortCache.size > 64) sortCache.clear()
      val specs = orderby.split(',').map(_.trim).filter(_.nonEmpty).map { s =>
        val parts = s.split("\\s+")
        (colIndex.getOrElse(parts(0), throw new BadRequest(s"unknown column ${parts(0)}")),
          parts.length > 1 && parts(1).equalsIgnoreCase("desc"))
      }
      val rs = rows
      rs.indices.toArray.sortWith { (a, b) =>
        var c = 0
        var i = 0
        while (c == 0 && i < specs.length) {
          val (ci, desc) = specs(i)
          c = Fixture.cmp(rs(a).values(ci), rs(b).values(ci))
          if (desc) c = -c
          i += 1
        }
        c < 0
      }
    })
  }

  def isKeyOrder(orderby: String): Boolean =
    orderby.split(',').map(_.trim.split("\\s+").toSeq).toSeq == keys.map(Seq(_))

  // writable-set operations (single Int64 key)
  def get(k: Long): Option[Row] = Option(live.get(k))
  def insert(r: Row): Boolean = {
    val ok = live.putIfAbsent(r.values(keyIdx.head).asInstanceOf[Long], r) == null
    if (ok) changed()
    ok
  }
  def update(k: Long, f: Row => Row): Boolean = {
    val old = live.get(k)
    if (old == null) false else { live.put(k, f(old)); changed(); true }
  }
  def delete(k: Long): Boolean = {
    val ok = live.remove(k) != null
    if (ok) changed()
    ok
  }
  private def changed(): Unit = { version.incrementAndGet(); dirty = true }
}

final class BadRequest(msg: String) extends RuntimeException(msg)

/** One served request, for the per-layer accounting. Times are `nanoTime`. */
final case class RequestRecord(kind: String, opId: Long,
                               startNs: Long, endNs: Long, selfNs: Long,
                               bytesIn: Long, bytesOut: Long, status: Int, repeat: Boolean,
                               subRequests: Int)

/** A shared table for the Delta Sharing endpoint: schema JSON plus the
  * parquet files' bytes, served under presigned-style URLs. */
final case class SharedTable(name: String, schemaJson: String, files: Seq[(String, Array[Byte])])

/** The benchmark's in-process remote side: an OData v4 service (metadata,
  * query options, `$apply`, `$batch`, writes) and a Delta Sharing server,
  * with a constant injected per-request latency. The latency is applied by
  * a scheduler after the handler has built the response, so no worker
  * thread sleeps and the server never caps client concurrency. */
final class Fixture(sets: Seq[EntitySet], shares: Seq[SharedTable], latencyMs: Int) {
  private val byName = sets.map(s => s.name -> s).toMap
  private val shareByName = shares.map(t => t.name -> t).toMap
  private val fileBytes = shares.flatMap(_.files).toMap
  private val mapper = new ObjectMapper()

  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 64)
  private val workers = Executors.newFixedThreadPool(8)
  private val delayer: ScheduledExecutorService = Executors.newScheduledThreadPool(4)
  server.setExecutor(workers)
  server.createContext("/", (ex: HttpExchange) => handle(ex))

  def start(): Unit = server.start()
  def stop(): Unit = {
    server.stop(0)
    delayer.shutdownNow(); workers.shutdownNow()
    delayer.awaitTermination(10, TimeUnit.SECONDS)
    workers.awaitTermination(10, TimeUnit.SECONDS)
  }
  def base: String = s"http://127.0.0.1:${server.getAddress.getPort}"
  /** A service root. Distinct `n` give distinct URLs over the same data, so
    * a client-side metadata cache cannot serve a fresh bind. */
  def serviceRoot(n: Int): String = s"$base/svc/$n"
  def shareEndpoint: String = s"$base/share"

  // ---- accounting ----
  /** Set by the harness before each op; requests are tagged with it. */
  @volatile var currentOp: Long = -1
  @volatile var recording: Boolean = false
  val records = new ConcurrentLinkedQueue[RequestRecord]()
  private val seen = ConcurrentHashMap.newKeySet[String]()
  /** Captured page bodies (for the decode replay), bounded. */
  val capturedPages = new ConcurrentLinkedQueue[(String, Array[Byte])]()
  private val captured = new AtomicInteger(0)
  @volatile var capturePages: Boolean = false
  def resetAccounting(): Unit = { records.clear(); seen.clear() }


  private def handle(ex: HttpExchange): Unit = {
    val t0 = System.nanoTime()
    val op = currentOp
    val method = ex.getRequestMethod
    val rawUri = ex.getRequestURI.getRawPath +
      Option(ex.getRequestURI.getRawQuery).map("?" + _).getOrElse("")
    val reqBody = ex.getRequestBody.readAllBytes()
    lastBatchSize.set(0)
    val headers = ex.getRequestHeaders.asScala.map { case (k, v) => k.toLowerCase -> v.asScala.mkString(",") }.toMap
    val (status, ctype, body, kind) =
      try dispatch(method, ex.getRequestURI.getRawPath, Option(ex.getRequestURI.getRawQuery), reqBody, headers)
      catch {
        case e: BadRequest => (400, JsonType, err(e.getMessage), "error")
        case e: Exception  => (500, JsonType, err(String.valueOf(e)), "error")
      }
    val built = System.nanoTime()
    val repeat = method == "GET" && !seen.add(rawUri)
    val subRequests = lastBatchSize.get
    def send(): Unit = {
      val w0 = System.nanoTime()
      try {
        ex.getResponseHeaders.set("Content-Type", ctype)
        if (body.isEmpty) ex.sendResponseHeaders(status, -1)
        else {
          ex.sendResponseHeaders(status, body.length.toLong)
          ex.getResponseBody.write(body)
        }
      } catch { case _: java.io.IOException => () }
      finally ex.close()
      val end = System.nanoTime()
      if (recording)
        records.add(RequestRecord(kind, op, t0, end, (built - t0) + (end - w0),
          reqBody.length + rawUri.length, body.length, status, repeat, subRequests))
    }
    val wait = t0 + latencyMs * 1000000L - System.nanoTime()
    if (latencyMs <= 0 || wait <= 0) send()
    else delayer.schedule((() => send()): Runnable, wait, TimeUnit.NANOSECONDS)
  }

  private def err(msg: String): Array[Byte] = {
    val sb = new java.lang.StringBuilder("{\"error\":{\"message\":")
    Json.str(msg, sb); sb.append("}}")
    sb.toString.getBytes(UTF_8)
  }

  private def params(query: Option[String]): Map[String, String] =
    query.toSeq.flatMap(_.split('&')).filter(_.nonEmpty).map { kv =>
      val i = kv.indexOf('=')
      val (k, v) = if (i < 0) (kv, "") else (kv.substring(0, i), kv.substring(i + 1))
      URLDecoder.decode(k, UTF_8) -> URLDecoder.decode(v, UTF_8)
    }.toMap

  private type Resp = (Int, String, Array[Byte], String)
  private val JsonType = "application/json"

  private def dispatch(method: String, rawPath: String, query: Option[String],
                       body: Array[Byte], headers: Map[String, String]): Resp = {
    val path = URLDecoder.decode(rawPath, UTF_8)
    if (path.startsWith("/svc/")) {
      val rest = path.drop(5).dropWhile(_ != '/').drop(1) // strip "/svc/<n>/"
      odata(method, rest, params(query), body, headers)
    } else if (path.startsWith("/share/")) share(method, path.stripPrefix("/share"), body)
    else if (path.startsWith("/files/")) {
      val b = fileBytes.getOrElse(path.stripPrefix("/files/"), throw new BadRequest(s"no file $path"))
      if (!params(query).contains("sig")) (403, JsonType, err("unsigned"), "share_file")
      else (200, "application/octet-stream", b, "share_file")
    } else (404, JsonType, err(s"no route $path"), "error")
  }

  // ---- OData ----
  private val KeyRe = """([A-Za-z_]\w*)\((.+)\)""".r

  private def odata(method: String, rest: String, p: Map[String, String], body: Array[Byte],
                    headers: Map[String, String]): Resp = rest match {
    case "$metadata" => (200, "application/xml", metadataXml, "metadata")
    case "$batch" if method == "POST" => (200, JsonType, batch(body), "batch")
    case s if s.endsWith("/$count") =>
      val es = set(s.stripSuffix("/$count"))
      val pred = p.get("$filter").map(f => FilterParser.parse(f, es))
      (200, "text/plain", count(es, pred).toString.getBytes(UTF_8), "count")
    case KeyRe(name, lit) =>
      val es = set(name)
      val k = lit.toLong
      method match {
        case "PATCH" =>
          val n = mapper.readTree(body)
          val ok = es.update(k, old => rowFrom(es, n, Some(old)))
          if (ok) (204, JsonType, Array.emptyByteArray, "write") else (404, JsonType, err(s"no key $k"), "write")
        case "DELETE" =>
          if (es.delete(k)) (204, JsonType, Array.emptyByteArray, "write") else (404, JsonType, err(s"no key $k"), "write")
        case _ => (405, JsonType, err(method), "error")
      }
    case name if method == "POST" =>
      val es = set(name)
      val r = rowFrom(es, mapper.readTree(body), None)
      if (es.insert(r)) (201, JsonType, es.render(r), "write") else (409, JsonType, err("duplicate key"), "write")
    case name if method == "GET" =>
      val es = set(name)
      val kind = if (p.get("$top").contains("1")) "probe" else "page"
      val maxPage = headers.get("prefer").flatMap(h => """odata.maxpagesize=(\d+)""".r
        .findFirstMatchIn(h).map(_.group(1).toInt)).getOrElse(es.pageSize)
      (200, JsonType, collection(es, name, p, math.min(maxPage, 5000)), kind)
    case _ => (405, JsonType, err(s"$method $rest"), "error")
  }

  private def set(name: String): EntitySet =
    byName.getOrElse(name, throw new BadRequest(s"no entity set $name"))

  private def rowFrom(es: EntitySet, n: JsonNode, base: Option[Row]): Row = {
    val vals = base.map(_.values.clone()).getOrElse(new Array[Any](es.cols.length))
    es.cols.zipWithIndex.foreach { case (c, i) =>
      val v = n.get(c.name)
      if (v != null) vals(i) =
        if (v.isNull) null
        else c.tpe match {
          case ColType.Int64 => v.asLong
          case ColType.Int32 => v.asInt
          case ColType.Dbl => v.asDouble
          case ColType.Str => v.asText
          case ColType.Ts => Fixture.parseMicros(v.asText)
        }
    }
    new Row(vals)
  }

  private lazy val metadataXml: Array[Byte] = {
    val sb = new StringBuilder
    sb ++= """<?xml version="1.0" encoding="utf-8"?><edmx:Edmx xmlns:edmx="http://docs.oasis-open.org/odata/ns/edmx" Version="4.0"><edmx:DataServices><Schema xmlns="http://docs.oasis-open.org/odata/ns/edm" Namespace="Bench">"""
    sets.foreach { es =>
      sb ++= s"""<EntityType Name="${es.typeName}"><Key>"""
      es.keys.foreach(k => sb ++= s"""<PropertyRef Name="$k"/>""")
      sb ++= "</Key>"
      es.cols.foreach { c =>
        val nullable = if (es.keys.contains(c.name)) " Nullable=\"false\"" else ""
        sb ++= s"""<Property Name="${c.name}" Type="${c.tpe.edm}"$nullable/>"""
      }
      sb ++= "</EntityType>"
    }
    sb ++= """<EntityContainer Name="Container">"""
    sets.foreach(es => sb ++= s"""<EntitySet Name="${es.name}" EntityType="Bench.${es.typeName}"/>""")
    sb ++= "</EntityContainer></Schema></edmx:DataServices></edmx:Edmx>"
    sb.toString.getBytes(UTF_8)
  }

  /** Candidate row range [lo, hi) from key-range conjuncts on the first key
    * column, and whether those conjuncts are the whole predicate. */
  private def keyRange(es: EntitySet, pred: Option[FilterParser.Expr]): (Int, Int, Boolean) = {
    val rows = es.rows
    val k0 = es.keyIdx.head
    pred match {
      case None => (0, rows.length, true)
      case Some(e) =>
        val conj = FilterParser.conjuncts(e)
        var lo = 0
        var hi = rows.length
        var rangeOnly = true
        def lower(v: Any, strict: Boolean): Int = { // first row with key >(=) v
          var a = 0; var b = rows.length
          while (a < b) {
            val m = (a + b) >>> 1
            val c = Fixture.cmp(rows(m).values(k0), v)
            if (c < 0 || (strict && c == 0)) a = m + 1 else b = m
          }
          a
        }
        conj.foreach {
          case FilterParser.Cmp(ci, op, v) if ci == k0 && v != null =>
            op match {
              case "gt" => lo = math.max(lo, lower(v, strict = true))
              case "ge" => lo = math.max(lo, lower(v, strict = false))
              case "lt" => hi = math.min(hi, lower(v, strict = false))
              case "le" => hi = math.min(hi, lower(v, strict = true))
              case "eq" => lo = math.max(lo, lower(v, strict = false)); hi = math.min(hi, lower(v, strict = true))
              case _ => rangeOnly = false
            }
          case _ => rangeOnly = false
        }
        (lo, math.max(lo, hi), rangeOnly)
    }
  }

  private def count(es: EntitySet, pred: Option[FilterParser.Expr]): Long = {
    val (lo, hi, rangeOnly) = keyRange(es, pred)
    if (rangeOnly) (hi - lo).toLong
    else {
      val rows = es.rows
      val f = pred.get
      var n = 0L
      var i = lo
      while (i < hi) { if (f.eval(rows(i))) n += 1; i += 1 }
      n
    }
  }

  /** A collection GET: filter, order, skip/top, select, server-driven paging
    * with `$skiptoken`. */
  private def collection(es: EntitySet, name: String, p: Map[String, String], page: Int): Array[Byte] = {
    val (out, fullRows) = p.get("$apply") match {
      case Some(a) => (Apply.run(es, a, p), 0)
      case None => page0(es, name, p, page)
    }
    // pages of full rows feed the decode replay
    if (capturePages && fullRows >= 100 && captured.incrementAndGet() <= 64)
      capturedPages.add(name -> out)
    out
  }

  /** One page of a collection and the number of full rows on it. */
  private def page0(es: EntitySet, name: String, p: Map[String, String], page: Int): (Array[Byte], Int) = {
    val pred = p.get("$filter").map(f => FilterParser.parse(f, es))
    val skip = p.get("$skip").map(_.toInt).getOrElse(0)
    val top = p.get("$top").map(_.toInt).getOrElse(Int.MaxValue)
    val token = p.get("$skiptoken").map(_.toInt).getOrElse(0)
    val sel: IndexedSeq[Int] = p.get("$select").map(_.split(',').map(_.trim).filter(_.nonEmpty)
      .map(c => es.colIndex.getOrElse(c, throw new BadRequest(s"unknown column $c"))).toIndexedSeq)
      .getOrElse(es.cols.indices)
    val rows = es.rows
    val want = math.min(page, top - token) // rows on this page
    val from = skip + token // matches to pass over
    val picked = mutable.ArrayBuffer[Int]()
    var more = false
    val orderby = p.get("$orderby").filterNot(es.isKeyOrder)
    val (lo, hi, rangeOnly) = keyRange(es, pred)
    if (orderby.isEmpty && rangeOnly) {
      val a = lo + from
      val b = math.min(hi, a.toLong + math.max(want, 0)).toInt
      var i = a; while (i < b) { picked += i; i += 1 }
      more = b < hi && top - token > want
    } else {
      val order: Iterator[Int] = orderby match {
        case Some(o) => es.sortedBy(o).iterator
        case None => (lo until hi).iterator
      }
      var passed = 0
      while (order.hasNext && !more) {
        val i = order.next()
        if (pred.forall(_.eval(rows(i)))) {
          if (passed < from) passed += 1
          else if (picked.length < want) picked += i
          else more = true
        }
      }
      if (top - token <= want) more = false
    }
    val full = sel.length == es.cols.length && sel == es.cols.indices
    val pre = if (full) es.rendered else None
    val bos = new ByteArrayOutputStream(64 + picked.length * 200)
    bos.write(s"""{"@odata.context":"$$metadata#$name","value":[""".getBytes(UTF_8))
    var first = true
    val sb = new java.lang.StringBuilder(256)
    picked.foreach { i =>
      if (!first) bos.write(','); first = false
      pre match {
        case Some(r) => bos.write(r(i))
        case None =>
          sb.setLength(0); Json.obj(es.cols, sel, rows(i), sb); bos.write(sb.toString.getBytes(UTF_8))
      }
    }
    bos.write(']')
    if (more) {
      val next = (p - "$skiptoken") + ("$skiptoken" -> (token + picked.length).toString)
      val q = next.toSeq.sorted.map { case (k, v) => s"$k=${java.net.URLEncoder.encode(v, UTF_8).replace("+", "%20")}" }.mkString("&")
      val sb2 = new java.lang.StringBuilder(",\"@odata.nextLink\":")
      // nextLinks use one fixed root: paging does not depend on the alias
      Json.str(s"${serviceRoot(0)}/$name?$q", sb2)
      bos.write(sb2.toString.getBytes(UTF_8))
    }
    bos.write('}')
    (bos.toByteArray, if (full) picked.length else 0)
  }

  private val lastBatchSize = ThreadLocal.withInitial[Int](() => 0)

  private def batch(body: Array[Byte]): Array[Byte] = {
    val reqs = mapper.readTree(body).get("requests")
    lastBatchSize.set(reqs.size)
    val sb = new java.lang.StringBuilder("{\"responses\":[")
    var first = true
    reqs.elements().asScala.foreach { r =>
      val id = r.get("id").asText
      val m = r.get("method").asText
      val url0 = r.get("url").asText
      val path = if (url0.startsWith("http")) {
        val u = java.net.URI.create(url0)
        u.getRawPath.replaceFirst("^/svc/[^/]+/", "") + Option(u.getRawQuery).map("?" + _).getOrElse("")
      } else url0.stripPrefix("/")
      val qi = path.indexOf('?')
      val (rp, q) = if (qi < 0) (path, None) else (path.substring(0, qi), Some(path.substring(qi + 1)))
      val hs = Option(r.get("headers")).map(_.properties().asScala.map(e => e.getKey.toLowerCase -> e.getValue.asText).toMap)
        .getOrElse(Map.empty)
      val sub = Option(r.get("body")).map(b => mapper.writeValueAsBytes(b)).getOrElse(Array.emptyByteArray)
      val (st, _, out, _) =
        try odata(m, URLDecoder.decode(rp, UTF_8), params(q), sub, hs)
        catch { case e: BadRequest => (400, JsonType, err(e.getMessage), "error") }
      if (!first) sb.append(','); first = false
      sb.append("{\"id\":"); Json.str(id, sb); sb.append(",\"status\":").append(st)
      if (out.nonEmpty && out(0) == '{') sb.append(",\"body\":").append(new String(out, UTF_8))
      sb.append('}')
    }
    sb.append("]}")
    sb.toString.getBytes(UTF_8)
  }

  // ---- Delta Sharing ----
  private def share(method: String, path: String, body: Array[Byte]): Resp = {
    def items(names: Seq[String]): Array[Byte] =
      names.map(n => s"""{"name":"$n"}""").mkString("{\"items\":[", ",", "]}").getBytes(UTF_8)
    val TableQ = """/shares/bench/schemas/tpch/tables/([\w]+)/(query|metadata)""".r
    path match {
      case "/shares" => (200, JsonType, items(Seq("bench")), "share_list")
      case "/shares/bench/schemas" => (200, JsonType, items(Seq("tpch")), "share_list")
      case "/shares/bench/schemas/tpch/tables" => (200, JsonType, items(shares.map(_.name)), "share_list")
      case TableQ(t, what) =>
        val st = shareByName.getOrElse(t, throw new BadRequest(s"no table $t"))
        val sb = new java.lang.StringBuilder()
        sb.append("{\"protocol\":{\"minReaderVersion\":1}}\n{\"metaData\":{\"id\":\"").append(t)
          .append("\",\"format\":{\"provider\":\"parquet\"},\"schemaString\":")
        Json.str(st.schemaJson, sb)
        sb.append(",\"partitionColumns\":[]}}\n")
        if (what == "query") st.files.foreach { case (id, bytes) =>
          sb.append("{\"file\":{\"url\":\"").append(base).append("/files/").append(id)
            .append("?sig=").append(Integer.toHexString(id.hashCode)).append("\",\"id\":\"").append(id)
            .append("\",\"partitionValues\":{},\"size\":").append(bytes.length).append("}}\n")
        }
        (200, "application/x-ndjson", sb.toString.getBytes(UTF_8), if (what == "query") "share_query" else "share_list")
      case _ => (404, JsonType, err(s"no share route $path"), "error")
    }
  }
}

object Fixture {
  def parMap[A, B: scala.reflect.ClassTag](xs: Array[A])(f: A => B): Array[B] = {
    val out = new Array[B](xs.length)
    java.util.stream.IntStream.range(0, xs.length).parallel().forEach(i => out(i) = f(xs(i)))
    out
  }
  def cmp(a: Any, b: Any): Int = (a, b) match {
    case (null, null) => 0
    case (null, _) => -1
    case (_, null) => 1
    case (x: Long, y: Long) => java.lang.Long.compare(x, y)
    case (x: Int, y: Int) => Integer.compare(x, y)
    case (x: String, y: String) => x.compareTo(y)
    case (x: Double, y: Double) => java.lang.Double.compare(x, y)
    case (x: Number, y: Number) => java.lang.Double.compare(x.doubleValue, y.doubleValue)
    case _ => throw new BadRequest(s"cannot compare $a with $b")
  }
  def isoMicros(m: Long): String =
    java.time.Instant.ofEpochSecond(Math.floorDiv(m, 1000000L), Math.floorMod(m, 1000000L) * 1000L).toString
  def parseMicros(s: String): Long = {
    val t = if (s.length == 10) s + "T00:00:00Z" else if (s.endsWith("Z") || s.contains("+")) s else s + "Z"
    val i = java.time.Instant.parse(t)
    i.getEpochSecond * 1000000L + i.getNano / 1000L
  }
}

/** `$filter` expressions, in the subset OData clients emit for pushed
  * predicates: comparisons, and/or/not, null tests, string functions. */
object FilterParser {
  sealed trait Expr { def eval(r: Row): Boolean }
  final case class Cmp(col: Int, op: String, v: Any) extends Expr {
    def eval(r: Row): Boolean = {
      val x = r.values(col)
      if (v == null) (op == "eq") == (x == null)
      else if (x == null) op == "ne"
      else {
        val c = Fixture.cmp(x, v)
        op match {
          case "eq" => c == 0; case "ne" => c != 0; case "gt" => c > 0
          case "ge" => c >= 0; case "lt" => c < 0; case "le" => c <= 0
        }
      }
    }
  }
  final case class And(a: Expr, b: Expr) extends Expr { def eval(r: Row): Boolean = a.eval(r) && b.eval(r) }
  final case class Or(a: Expr, b: Expr) extends Expr { def eval(r: Row): Boolean = a.eval(r) || b.eval(r) }
  final case class Not(a: Expr) extends Expr { def eval(r: Row): Boolean = !a.eval(r) }
  final case class StrFn(fn: String, col: Int, s: String) extends Expr {
    def eval(r: Row): Boolean = r.values(col) match {
      case x: String => fn match {
        case "startswith" => x.startsWith(s); case "endswith" => x.endsWith(s); case _ => x.contains(s)
      }
      case _ => false
    }
  }

  def conjuncts(e: Expr): Seq[Expr] = e match {
    case And(a, b) => conjuncts(a) ++ conjuncts(b)
    case x => Seq(x)
  }

  def parse(s: String, es: EntitySet): Expr = new P(s, es).top()

  private final class P(s: String, es: EntitySet) {
    private var i = 0
    private def ws(): Unit = while (i < s.length && s.charAt(i) == ' ') i += 1
    private def peekWord(w: String): Boolean = {
      ws()
      s.startsWith(w, i) && (i + w.length == s.length || !Character.isLetterOrDigit(s.charAt(i + w.length)))
    }
    private def expect(c: Char): Unit = {
      ws()
      if (i >= s.length || s.charAt(i) != c) throw new BadRequest(s"expected '$c' at $i in $s")
      i += 1
    }
    def top(): Expr = { val e = or(); ws(); if (i != s.length) throw new BadRequest(s"trailing input at $i in $s"); e }
    private def or(): Expr = {
      var e = and()
      while (peekWord("or")) { i += 2; e = Or(e, and()) }
      e
    }
    private def and(): Expr = {
      var e = unary()
      while (peekWord("and")) { i += 3; e = And(e, unary()) }
      e
    }
    private def unary(): Expr = {
      ws()
      if (peekWord("not")) { i += 3; Not(unary()) }
      else if (s.charAt(i) == '(') { i += 1; val e = or(); expect(')'); e }
      else {
        val name = ident()
        ws()
        if (i < s.length && s.charAt(i) == '(') {
          i += 1
          val col = colOf(ident()); expect(',')
          val lit = literal(es.cols(col).tpe)
          expect(')')
          StrFn(name, col, lit.asInstanceOf[String])
        } else {
          val col = colOf(name)
          val op = ident()
          if (!Set("eq", "ne", "gt", "ge", "lt", "le")(op)) throw new BadRequest(s"bad operator $op")
          Cmp(col, op, literal(es.cols(col).tpe))
        }
      }
    }
    private def colOf(n: String): Int = es.colIndex.getOrElse(n, throw new BadRequest(s"unknown column $n"))
    private def ident(): String = {
      ws()
      val st = i
      while (i < s.length && (Character.isLetterOrDigit(s.charAt(i)) || s.charAt(i) == '_')) i += 1
      if (st == i) throw new BadRequest(s"expected identifier at $i in $s")
      s.substring(st, i)
    }
    private def literal(t: ColType): Any = {
      ws()
      if (s.charAt(i) == '\'') {
        val sb = new StringBuilder
        i += 1
        var done = false
        while (!done) {
          if (i >= s.length) throw new BadRequest("unterminated string")
          val c = s.charAt(i)
          if (c == '\'' && i + 1 < s.length && s.charAt(i + 1) == '\'') { sb += '\''; i += 2 }
          else if (c == '\'') { i += 1; done = true }
          else { sb += c; i += 1 }
        }
        sb.toString
      } else {
        val st = i
        while (i < s.length && !" )".contains(s.charAt(i))) i += 1
        val tok = s.substring(st, i)
        if (tok == "null") null
        else t match {
          case ColType.Int64 => tok.toLong
          case ColType.Int32 => tok.toInt
          case ColType.Dbl => tok.toDouble
          case ColType.Ts => Fixture.parseMicros(tok)
          case ColType.Str => tok
        }
      }
    }
  }
}

/** `$apply` pipelines: `filter(...)` stages then one `groupby((cols),
  * aggregate(...))` or `aggregate(...)` stage; `$orderby`/`$top` apply to
  * the group rows. */
object Apply {
  private final case class Agg(col: Int, fn: String, alias: String)

  def run(es: EntitySet, apply: String, p: Map[String, String]): Array[Byte] = {
    val stages = split(apply, '/')
    var filters = List.empty[FilterParser.Expr]
    var groups = Seq.empty[Int]
    var aggs = Seq.empty[Agg]
    stages.foreach { st =>
      if (st.startsWith("filter(")) filters ::= FilterParser.parse(st.substring(7, st.length - 1), es)
      else if (st.startsWith("groupby(")) {
        val inner = st.substring(8, st.length - 1)
        val parts = split(inner, ',')
        groups = parts.head.stripPrefix("(").stripSuffix(")").split(',').map(_.trim).map(es.colIndex).toSeq
        aggs = parts.drop(1).flatMap(aggsOf(es, _))
      } else if (st.startsWith("aggregate(")) aggs = aggsOf(es, st)
      else throw new BadRequest(s"unsupported apply stage $st")
    }
    val rows = es.rows
    val acc = mutable.LinkedHashMap[Seq[Any], Array[Any]]()
    val distinct = mutable.HashMap[(Seq[Any], Int), mutable.HashSet[Any]]()
    rows.foreach { r =>
      if (filters.forall(_.eval(r))) {
        val g = groups.map(r.values(_))
        val a = acc.getOrElseUpdate(g, new Array[Any](aggs.length))
        aggs.zipWithIndex.foreach { case (ag, j) =>
          val v = if (ag.col >= 0) r.values(ag.col) else null
          ag.fn match {
            case "$count" => a(j) = a(j) match { case null => 1L; case n: Long => n + 1 }
            case "countdistinct" => if (v != null) distinct.getOrElseUpdate((g, j), mutable.HashSet()) += v
            case _ if v == null => ()
            case "sum" => a(j) = (a(j), v) match {
              case (null, x: Double) => x; case (s: Double, x: Double) => s + x
              case (null, x: Number) => x.longValue; case (s: Long, x: Number) => s + x.longValue
              case (s, x) => throw new BadRequest(s"cannot sum $s and $x")
            }
            case "average" => a(j) = a(j) match {
              case null => (v.asInstanceOf[Number].doubleValue, 1L)
              case (s: Double, n: Long) => (s + v.asInstanceOf[Number].doubleValue, n + 1)
            }
            case "min" => if (a(j) == null || Fixture.cmp(v, a(j)) < 0) a(j) = v
            case "max" => if (a(j) == null || Fixture.cmp(v, a(j)) > 0) a(j) = v
          }
        }
      }
    }
    val cols: IndexedSeq[Col] = (groups.map(es.cols(_)) ++ aggs.map { ag =>
      val t = ag.fn match {
        case "$count" | "countdistinct" => ColType.Int64
        case "average" => ColType.Dbl
        case "sum" => if (es.cols(ag.col).tpe == ColType.Dbl) ColType.Dbl else ColType.Int64
        case _ => es.cols(ag.col).tpe
      }
      Col(ag.alias, t)
    }).toIndexedSeq
    var out: Seq[Row] = acc.toSeq.map { case (g, a) =>
      val vals = aggs.zipWithIndex.map { case (ag, j) =>
        ag.fn match {
          case "countdistinct" => distinct.get((g, j)).map(_.size.toLong).getOrElse(0L)
          case "average" => a(j) match { case (s: Double, n: Long) => s / n; case _ => null }
          case "$count" => if (a(j) == null) 0L else a(j)
          case _ => a(j)
        }
      }
      new Row((g ++ vals).toArray)
    }
    if (groups.isEmpty && out.isEmpty) out = Seq(new Row(aggs.map(a => if (a.fn == "$count") 0L else null).toArray))
    p.get("$orderby").foreach { o =>
      val specs = o.split(',').map(_.trim.split("\\s+")).map(a => (cols.indexWhere(_.name == a(0)), a.length > 1 && a(1) == "desc"))
      out = out.sortWith { (x, y) =>
        val c = specs.iterator.map { case (ci, d) => val c = Fixture.cmp(x.values(ci), y.values(ci)); if (d) -c else c }
          .find(_ != 0).getOrElse(0)
        c < 0
      }
    }
    p.get("$top").foreach(t => out = out.take(t.toInt))
    val sb = new java.lang.StringBuilder("{\"value\":[")
    out.zipWithIndex.foreach { case (r, i) => if (i > 0) sb.append(','); Json.obj(cols, cols.indices, r, sb) }
    sb.append("]}")
    sb.toString.getBytes(UTF_8)
  }

  private def aggsOf(es: EntitySet, st: String): Seq[Agg] = {
    val inner = st.stripPrefix("aggregate(").stripSuffix(")")
    split(inner, ',').map { a =>
      val m = """(\S+)(?:\s+with\s+(\w+))?\s+as\s+(\w+)""".r.findFirstMatchIn(a.trim)
        .getOrElse(throw new BadRequest(s"bad aggregate $a"))
      if (m.group(1) == "$count") Agg(-1, "$count", m.group(3))
      else Agg(es.colIndex.getOrElse(m.group(1), throw new BadRequest(s"unknown column ${m.group(1)}")),
        Option(m.group(2)).getOrElse(throw new BadRequest(s"no function in $a")), m.group(3))
    }
  }

  /** Split on `sep` outside parentheses and quotes. */
  def split(s: String, sep: Char): Seq[String] = {
    val out = mutable.ArrayBuffer[String]()
    var depth = 0; var q = false; var st = 0
    s.indices.foreach { i =>
      val c = s.charAt(i)
      if (c == '\'') q = !q
      else if (!q && c == '(') depth += 1
      else if (!q && c == ')') depth -= 1
      else if (!q && depth == 0 && c == sep) { out += s.substring(st, i).trim; st = i + 1 }
    }
    out += s.substring(st).trim
    out.toSeq.filter(_.nonEmpty)
  }
}
