package graft.testkit

import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
import java.net.{InetSocketAddress, URLDecoder}
import java.nio.charset.StandardCharsets
import scala.collection.mutable

/** In-process OData v2/v4 stub server (zero egress — SURVEY.md §5 port
  * strategy): serves a `$metadata` EDMX document and a `Customers` entity set
  * with server-side `$filter`/`$select`/`$top`/`$skip`/`$count` evaluation and
  * nextLink pagination, and records every request URL so tests can assert
  * what was pushed down. `threads` is the number of requests it serves at
  * once.
  */
class ODataStub(v2: Boolean, pageSize: Int = 5, threads: Int = 16) {

  val requests = mutable.ListBuffer[String]()

  /** Every request as (decoded URL, nanoTime its handling began, nanoTime
    * its answer was sent): which requests overlapped. */
  val served = mutable.ListBuffer[(String, Long, Long)]()

  /** When set, every /svc request must carry matching basic credentials —
    * 401 otherwise, recorded in [[unauthorized]]. Regression harness for the
    * round-1 unauthenticated-$metadata-probe bug: a secured service rejects
    * anonymous probes, so the test asserts `unauthorized.isEmpty`. */
  var requireBasic: Option[(String, String)] = None
  val unauthorized = mutable.ListBuffer[String]()

  private def authorized(ex: HttpExchange): Boolean = requireBasic match {
    case None => true
    case Some((u, p)) =>
      val expected = "Basic " + java.util.Base64.getEncoder
        .encodeToString(s"$u:$p".getBytes(StandardCharsets.UTF_8))
      Option(ex.getRequestHeaders.getFirst("Authorization")).contains(expected)
  }

  def makeRows(n: Int): Seq[Map[String, Any]] = (0 until n).map { i =>
    Map(
      "CustomerID" -> s"C${"%02d".format(i)}",
      "CompanyName" -> s"Company $i",
      "Country" -> (if (i % 3 == 0) "Germany" else if (i % 3 == 1) "France" else "Mexico"),
      "Revenue" -> (1000L * (i + 1)),
      "Founded" -> (946684800000L + i * 86400000L)) // 2000-01-01 + i days
  }

  /** 20 deterministic customers (tests may resize/replace the set). */
  @volatile var rows: Seq[Map[String, Any]] = makeRows(20)

  /** When true, DELETE calls actually remove the row from [[rows]] — the
    * bulk-delete loop terminates on the live set like a real service. */
  @volatile var applyDeletes: Boolean = false

  /** Customer keys whose PATCH/DELETE answers 404, top-level or inside a
    * `$batch` (failing sub-request harness). */
  @volatile var failKeys: Set[String] = Set.empty

  /** ODP delta queue: each pushDelta() becomes one delta batch; token Tk =
    * "k batches already consumed". */
  val deltas = mutable.ListBuffer[Seq[Map[String, Any]]]()
  def pushDelta(rows: Seq[Map[String, Any]]): Unit = deltas.synchronized { deltas += rows }

  /** REST item sink: rows POSTed to /items collect here. */
  val postedItems = mutable.ListBuffer[String]()

  /** Raw bodies POSTed to /token. */
  val tokenRequests = mutable.ListBuffer[String]()

  /** When != 200, /$count endpoints answer with this status (e.g. 501 = a
    * server without $count support; 403 = auth failure on the probe). */
  var countStatus: Int = 200

  /** When != 200, any data request carrying `$skip` answers with this status
    * — models Graph collections and delta feeds that reject offset paging
    * (keyset-fallback regression harness). */
  var skipStatus: Int = 200

  /** When != 200, any request carrying `$apply` answers with this status —
    * models servers without aggregation-extension support (the probe must
    * fail and the aggregation stay in Spark). */
  var applyStatus: Int = 200

  /** When true, every `Customers` page links on to page 1 — models a broken
    * server whose `@odata.nextLink` repeats (reader cycle-check harness). */
  @volatile var loopNextLink: Boolean = false

  /** When true, an answer to a `$top` is paged too, as real servers page
    * it; when false it is one page. */
  @volatile var pagesWithinTop: Boolean = false

  /** How a `Customers` GET carrying `$skip=<key>` is answered: after a
    * delay (range reads answered out of order), with a status and headers
    * instead of the page (for its first `times` GETs, by default every one:
    * a 429 storm outlasts any retry budget), paged smaller than asked (a
    * server capping its pages), or with its JSON cut in half. */
  @volatile var skipAnswers: Map[Int, ODataStub.SkipAnswer] = Map.empty
  private val skipGets = mutable.Map[Int, Int]()

  /** When true, every `/$count` GET has its connection closed unanswered. */
  @volatile var dropCounts: Boolean = false

  /** Paths whose every request has its connection closed unanswered. */
  @volatile var dropPaths: Set[String] = Set.empty

  /** When true, every `$top=1` GET under /svc has its connection closed
    * unanswered: a transport failure no client retry gets past. */
  @volatile var dropProbes: Boolean = false

  /** How a keyset sweep GET (a keys-only `$select` + `$orderby` page with a
    * `$top` other than 1) is answered: with this status when != 200, and
    * with its connection closed unanswered when [[dropSweeps]]. */
  @volatile var sweepStatus: Int = 200
  @volatile var dropSweeps: Boolean = false
  private def isSweep(q: Map[String, String]): Boolean =
    q.contains("$select") && q.contains("$orderby") && q.get("$top").exists(_ != "1")

  /** Raw bodies POSTed to /$batch (JSON batch round-trips). */
  val batchBodies = mutable.ListBuffer[String]()
  private val jsonMapper = new com.fasterxml.jackson.databind.ObjectMapper()

  val patchedKeys = mutable.ListBuffer[(String, String)]() // (key, body)
  val flakyCounts = mutable.Map[String, Int]()
  val deletedKeys = mutable.ListBuffer[String]()

  /** Delta-Sharing fixture: share/schema/table -> parquet files served at
    * /files/<name> as "presigned" URLs. */
  var shareFiles: Seq[java.nio.file.Path] = Seq.empty
  var shareSchemaJson: String = ""

  /** The `Authorization` header of every presigned file GET (None: absent).
    * A file GET that carries one answers 400, as storage hosts refuse a
    * second credential beside the presigned signature. */
  val fileAuth = mutable.ListBuffer[Option[String]]()

  /** Ad-hoc routes: (method, path) -> body served as application/json. */
  val extraBodies = mutable.Map[(String, String), String]()

  /** Ad-hoc error routes: path -> (status, response headers), any method. */
  val extraStatuses = mutable.Map[String, (Int, Map[String, String])]()

  private var server: HttpServer = _
  def port: Int = server.getAddress.getPort
  def serviceUrl: String = s"http://localhost:$port/svc"

  def start(): this.type = {
    // a reused port must not carry what an earlier server here accepted
    graft.sources.odata.ODataMeta.forgetCapabilities()
    server = HttpServer.create(new InetSocketAddress("localhost", 0), 0)
    graft.sources.odata.ODataMeta.forgetModels(s"http://localhost:$port/")
    server.createContext("/", new Handler)
    // small daemon pool: executor-distributed operations (bulk delete) hit
    // the stub concurrently; shared state is synchronized where mutated
    server.setExecutor(java.util.concurrent.Executors.newFixedThreadPool(threads,
      r => { val t = new Thread(r); t.setDaemon(true); t }))
    server.start()
    this
  }
  def stop(): Unit = if (server != null) server.stop(0)

  private def shareNdjsonMeta: String =
    s"""{"protocol":{"minReaderVersion":1}}
       |{"metaData":{"id":"m1","format":{"provider":"parquet"},"schemaString":${jsonStr(shareSchemaJson)},"partitionColumns":[]}}
       |""".stripMargin

  private def jsonStr(s: String): String =
    "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""

  private val metadataXml: String = {
    val dtType = if (v2) "Edm.DateTime" else "Edm.DateTimeOffset"
    val versionAttr = if (v2) "" else """Version="4.0""""
    val dsAttr = if (v2) """m:DataServiceVersion="2.0" xmlns:m="http://schemas.microsoft.com/ado/2007/08/dataservices/metadata"""" else ""
    s"""<?xml version="1.0" encoding="utf-8"?>
       |<edmx:Edmx xmlns:edmx="http://docs.oasis-open.org/odata/ns/edmx" $versionAttr>
       |  <edmx:DataServices $dsAttr>
       |    <Schema xmlns="http://docs.oasis-open.org/odata/ns/edm" Namespace="Stub">
       |      <EntityType Name="Customer">
       |        <Key><PropertyRef Name="CustomerID"/></Key>
       |        <Property Name="CustomerID" Type="Edm.String" Nullable="false"/>
       |        <Property Name="CompanyName" Type="Edm.String"/>
       |        <Property Name="Country" Type="Edm.String"/>
       |        <Property Name="Revenue" Type="Edm.Int64"/>
       |        <Property Name="Founded" Type="$dtType"/>
       |        <NavigationProperty Name="Orders" Type="Collection(Stub.Order)"/>
       |      </EntityType>
       |      <EntityType Name="Order">
       |        <Key><PropertyRef Name="OrderID"/></Key>
       |        <Property Name="OrderID" Type="Edm.Int32" Nullable="false"/>
       |        <Property Name="Amount" Type="Edm.Double"/>
       |        <NavigationProperty Name="Items" Type="Collection(Stub.Item)"/>
       |      </EntityType>
       |      <EntityType Name="Item">
       |        <Key><PropertyRef Name="ItemID"/></Key>
       |        <Property Name="ItemID" Type="Edm.Int32" Nullable="false"/>
       |        <Property Name="Qty" Type="Edm.Int32"/>
       |      </EntityType>
       |      <EntityContainer Name="Container">
       |        <EntitySet Name="Customers" EntityType="Stub.Customer"/>
       |        <EntitySet Name="OdpCustomers" EntityType="Stub.Customer"/>
       |        <EntitySet Name="companies" EntityType="Stub.Customer"/>
       |      </EntityContainer>
       |    </Schema>
       |  </edmx:DataServices>
       |</edmx:Edmx>""".stripMargin
  }

  private class Handler extends HttpHandler {
    override def handle(ex: HttpExchange): Unit = {
      val path = ex.getRequestURI.getPath
      val rawQ = Option(ex.getRequestURI.getRawQuery).getOrElse("")
      val decoded = path + (if (rawQ.isEmpty) "" else "?" + URLDecoder.decode(rawQ, StandardCharsets.UTF_8))
      val began = System.nanoTime()
      requests.synchronized { requests += decoded }
      try handleRecorded(ex, path, rawQ, decoded)
      finally served.synchronized { served += ((decoded, began, System.nanoTime())) }
    }
  }

  private def handleRecorded(ex: HttpExchange, path: String, rawQ: String, decoded: String): Unit = {
    if ((dropProbes && path.startsWith("/svc") && parseQuery(rawQ).get("$top").contains("1")) ||
        (dropCounts && path.endsWith("/$count")) || dropPaths.contains(path) ||
        (dropSweeps && path.startsWith("/svc") && isSweep(parseQuery(rawQ))))
      ex.close()
    else if (path.startsWith("/svc") && !authorized(ex)) {
      unauthorized.synchronized { unauthorized += decoded }
      respond(ex, 401, "text/plain", "unauthorized")
    } else try route(ex, path, parseQuery(rawQ)) catch {
      case e: Exception => respond(ex, 500, "text/plain", e.toString)
    }
  }

  private def parseQuery(raw: String): Map[String, String] =
    raw.split('&').filter(_.nonEmpty).map { kv =>
      val i = kv.indexOf('=')
      val (k, v) = if (i < 0) (kv, "") else (kv.take(i), kv.drop(i + 1))
      URLDecoder.decode(k, StandardCharsets.UTF_8) ->
        URLDecoder.decode(v, StandardCharsets.UTF_8)
    }.toMap

  private def route(ex: HttpExchange, path: String, q: Map[String, String]): Unit =
    path match {
      case p if extraBodies.synchronized { extraBodies.contains((ex.getRequestMethod, p)) } =>
        respond(ex, 200, "application/json",
          extraBodies.synchronized { extraBodies((ex.getRequestMethod, p)) })
      case p if extraStatuses.synchronized { extraStatuses.contains(p) } =>
        val (status, headers) = extraStatuses.synchronized { extraStatuses(p) }
        headers.foreach { case (k, v) => ex.getResponseHeaders.set(k, v) }
        respond(ex, status, "text/plain", s"answered $status")
      case "/svc/$metadata" =>
        respond(ex, 200, "application/xml", metadataXml)
      case "/svc/Customers/$count" =>
        if (countStatus != 200) respond(ex, countStatus, "text/plain", "count disabled")
        else {
          val filtered = applyFilter(rows, q.get("$filter"))
          respond(ex, 200, "text/plain", filtered.size.toString)
        }
      case p if p.startsWith("/svc/Customers(") && ex.getRequestMethod == "PATCH" =>
        val body = new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
        respond(ex, patch(customerKey(p), body), "application/json", "{}")
      case p if p.startsWith("/svc/Customers(") && ex.getRequestMethod == "DELETE" =>
        respond(ex, delete(Seq(customerKey(p))).head, "application/json", "{}")
      case "/svc/Customers" if ex.getRequestMethod == "POST" =>
        val body = new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
        postedItems.synchronized { postedItems += body }
        respond(ex, 201, "application/json", body)
      case p if p.endsWith("/$batch") && ex.getRequestMethod == "POST" =>
        // OData JSON batch: POST sub-requests hit the item sinks, PATCH and
        // DELETE the Customers keys; GET sub-requests are served from the
        // Customers fixture (other sets answer an empty page)
        val body = new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
        batchBodies.synchronized { batchBodies += body }
        val reqs = jsonMapper.readTree(body).get("requests")
        // sub-request GET urls recorded like top-level requests: specs
        // assert on the data urls a scan produced regardless of transport
        (0 until reqs.size).foreach { i =>
          val r = reqs.get(i)
          if (r.get("method").asText == "GET") {
            val u = r.get("url").asText
            val rel = u.indexOf("://") match {
              case -1 => u
              case p  => u.substring(u.indexOf('/', p + 3))
            }
            // "batch:" marker: specs matching data urls see them; specs
            // counting INDEPENDENT round-trips can exclude them
            requests.synchronized { requests += "batch:" + java.net.URLDecoder.decode(rel, "UTF-8") }
          }
        }
        // one pass over the rows for all of a batch's deletes
        val deleteIdx = (0 until reqs.size).filter { i =>
          reqs.get(i).get("method").asText == "DELETE" && reqs.get(i).get("url").asText.contains("Customers(")
        }
        val deleteStatus = deleteIdx.zip(delete(deleteIdx.map(i =>
          customerKey(reqs.get(i).get("url").asText)))).toMap
        val resps = (0 until reqs.size).map { i =>
          val r = reqs.get(i)
          val id = r.get("id").asText
          val u = r.get("url").asText.stripSuffix("/")
          val method = r.get("method").asText
          if (method == "POST" && (u.endsWith("Customers") || u.endsWith("items"))) {
            postedItems.synchronized { postedItems += r.get("body").toString }
            s"""{"id":"$id","status":201,"body":{}}"""
          } else if (method == "PATCH" && u.contains("Customers(")) {
            s"""{"id":"$id","status":${patch(customerKey(u), r.get("body").toString)},"body":{}}"""
          } else if (method == "DELETE" && u.contains("Customers(")) {
            s"""{"id":"$id","status":${deleteStatus(i)}}"""
          } else if (method == "GET") {
            // odataPeek's sampled pages: Customers rows, other sets empty
            val (path, rawQ) = u.indexOf('?') match {
              case -1 => (u, "")
              case q  => (u.take(q), u.drop(q + 1))
            }
            val sq = parseQuery(rawQ)
            val items =
              if (path.split('/').last != "Customers") "[]"
              else {
                val data = shapeRows(sq)
                val select = sq.get("$select").map(_.split(',').map(_.trim).toSeq)
                sq.get("$top").map(n => data.take(n.toInt)).getOrElse(data)
                  .map(jsonObj(_, select)).mkString("[", ",", "]")
              }
            s"""{"id":"$id","status":200,"body":{"value":$items}}"""
          } else s"""{"id":"$id","status":400,"body":{}}"""
        }
        respond(ex, 200, "application/json",
          s"""{"responses":[${resps.mkString(",")}]}""")
      case "/svc/Customers" =>
        serveRows(ex, q)
      case "/svc/OdpCustomers" =>
        serveOdp(ex, q)
      case "/svc" | "/svc/" =>
        respond(ex, 200, "application/json", """{"value":[{"name":"Customers","url":"Customers"}]}""")
      case "/sap/opu/odata/iwfnd/catalogservice;v=2/ServiceCollection" =>
        // Gateway catalog with $expand=EntitySets (v2 envelope): one service
        // carrying ODP-patterned and plain entity sets
        respond(ex, 200, "application/json",
          s"""{"d":{"results":[
             |{"ID":"ZSVC_1","Description":"Sales service",
             |"ServiceUrl":"http://localhost:$port/svc",
             |"EntitySets":{"results":[
             |  {"ID":"ENTITYOFSALESORDER","Description":"EntityOfSalesOrder"},
             |  {"ID":"FactsOfRevenue","Description":"FactsOfRevenue"},
             |  {"ID":"AttrOfCustomer","Description":"AttrOfCustomer"},
             |  {"ID":"Customers","Description":"Plain set"}]}}]}}"""
            .stripMargin.replace("\n", ""))
      case "/throttled" =>
        // 429 with Retry-After: 1 once per "key", then success
        val key = q.getOrElse("key", "k")
        val n = flakyCounts.synchronized {
          val v = flakyCounts.getOrElse("throttled:" + key, 0) + 1
          flakyCounts("throttled:" + key) = v; v
        }
        if (n == 1) {
          ex.getResponseHeaders.set("Retry-After", "1")
          respond(ex, 429, "text/plain", "slow down")
        } else respond(ex, 200, "text/plain", s"ok after $n")
      case "/flaky" =>
        // fails twice per "key", then succeeds — for retry tests
        val key = q.getOrElse("key", "k")
        val n = flakyCounts.synchronized {
          val v = flakyCounts.getOrElse(key, 0) + 1; flakyCounts(key) = v; v
        }
        if (n <= 2) respond(ex, 503, "text/plain", "try again")
        else respond(ex, 200, "text/plain", s"ok after $n")
      case "/workbook/range" =>
        respond(ex, 200, "application/json",
          """{"address":"Sheet1!A1:C3","values":[["Name","Qty","Price"],["apple","3","1.25"],["pear",null,"0.99"]]}""")
      case "/token" if ex.getRequestMethod == "POST" =>
        val body = new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
        tokenRequests.synchronized { tokenRequests += body }
        if (body.contains("grant_type=client_credentials") && body.contains("client_id="))
          respond(ex, 200, "application/json",
            """{"access_token":"cc-token-123","token_type":"Bearer","expires_in":3600}""")
        else if (body.contains("grant_type=authorization_code") &&
          body.contains("code=auth-code-42") && body.contains("code_verifier="))
          respond(ex, 200, "application/json",
            """{"access_token":"pkce-token-9","refresh_token":"r1","token_type":"Bearer","expires_in":3600}""")
        else respond(ex, 400, "application/json", """{"error":"invalid_request"}""")
      case "/items" if ex.getRequestMethod == "POST" =>
        val body = new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
        postedItems.synchronized { postedItems += body }
        respond(ex, 201, "application/json", """{"ok":true}""")
      // ---- Delta Sharing endpoints ----
      case "/shares" =>
        respond(ex, 200, "application/json", """{"items":[{"name":"sales"}]}""")
      case "/shares/sales/schemas" =>
        respond(ex, 200, "application/json", """{"items":[{"name":"core"}]}""")
      case "/shares/sales/schemas/core/tables" =>
        respond(ex, 200, "application/json", """{"items":[{"name":"tx"}]}""")
      case "/shares/sales/schemas/core/tables/tx/metadata" =>
        respond(ex, 200, "application/x-ndjson", shareNdjsonMeta)
      case "/shares/sales/schemas/core/tables/tx/query" =>
        val files = shareFiles.zipWithIndex.map { case (p, i) =>
          s"""{"file":{"url":"http://localhost:$port/files/f$i","id":"f$i","size":${java.nio.file.Files.size(p)}}}"""
        }
        respond(ex, 200, "application/x-ndjson",
          (Seq(shareNdjsonMeta.trim) ++ files).mkString("\n"))
      case p if p.startsWith("/files/") && {
          val a = Option(ex.getRequestHeaders.getFirst("Authorization"))
          fileAuth.synchronized { fileAuth += a }
          a.isDefined
        } =>
        respond(ex, 400, "text/plain", "presigned URL: no Authorization header allowed")
      case p if p.startsWith("/files/") =>
        val idx = p.stripPrefix("/files/f").toInt
        val bytes = java.nio.file.Files.readAllBytes(shareFiles(idx))
        ex.getResponseHeaders.set("Content-Type", "application/octet-stream")
        ex.sendResponseHeaders(200, bytes.length)
        val os = ex.getResponseBody; os.write(bytes); os.close()
      // generic service-shaped fallbacks: any path ending in /$metadata or
      // /Customers behaves like the /svc service — lets the service-family
      // URL builders (BC companies(...), Dataverse /api/data/v9.2, Graph,
      // Datasphere consumption paths) run end-to-end against the stub
      case p if p.endsWith("/$metadata") =>
        respond(ex, 200, "application/xml", metadataXml)
      case p if p.endsWith("/Customers") && ex.getRequestMethod == "GET" =>
        serveRows(ex, q)
      case p if p.endsWith("/companies") && ex.getRequestMethod == "GET" =>
        serveRows(ex, q)
      case p if p.endsWith("/EntityDefinitions") =>
        respond(ex, 200, "application/json",
          """{"value":[{"LogicalName":"account","SchemaName":"Account","EntitySetName":"accounts","PrimaryIdAttribute":"accountid","IsCustomEntity":false},
            |{"LogicalName":"new_widget","SchemaName":"new_Widget","EntitySetName":"new_widgets","PrimaryIdAttribute":"new_widgetid","IsCustomEntity":true}]}"""
            .stripMargin.replace("\n", ""))
      case p if p.endsWith("/Customers/$count") =>
        if (countStatus != 200) respond(ex, countStatus, "text/plain", "count disabled")
        else respond(ex, 200, "text/plain",
          applyFilter(rows, q.get("$filter")).size.toString)
      case _ => respond(ex, 404, "text/plain", s"not found: $path")
    }

  /** ODP endpoint: initial load returns the snapshot + a delta link; a
    * `!deltatoken=Tk` request returns batches k.. and the advanced token.
    * `Prefer: odata.track-changes` is acknowledged via Preference-Applied. */
  private def serveOdp(ex: HttpExchange, q: Map[String, String]): Unit = {
    val token = q.get("!deltatoken")
    val (slice, consumed) = deltas.synchronized {
      token match {
        case None => (rows, 0)
        case Some(t) =>
          val k = t.stripPrefix("T").toInt
          (deltas.drop(k).flatten.toSeq, deltas.size)
      }
    }
    val newToken = s"T${if (token.isEmpty) 0 else consumed}"
    val items = slice.map(r => jsonObj(r, None)).mkString("[", ",", "]")
    val link = s"$serviceUrl/OdpCustomers?!deltatoken=$newToken"
    val body =
      if (v2) s"""{"d":{"results":$items,"__delta":"$link"}}"""
      else s"""{"value":$items,"@odata.deltaLink":"$link"}"""
    Option(ex.getRequestHeaders.getFirst("Prefer")).foreach { p =>
      if (p.contains("odata.track-changes"))
        ex.getResponseHeaders.set("Preference-Applied", "odata.track-changes")
    }
    respond(ex, 200, "application/json", body)
  }

  /** `Prefer: odata.maxpagesize=N` → N (the page size a client ASKED for —
    * real services honor it, and so does the stub). */
  private def preferPageSize(prefer: Option[String]): Option[Int] =
    prefer.flatMap("odata\\.maxpagesize=(\\d+)".r.findFirstMatchIn(_))
      .map(_.group(1).toInt)

  /** Shared row shaping ($filter + $orderby + $skip) — used by both the
    * top-level GET and the `$batch` GET sub-request. */
  private def shapeRows(q: Map[String, String]): Seq[Map[String, Any]] = {
    var data = applyFilter(rows, q.get("$filter"))
    q.get("$orderby").foreach { ob =>
      val keys = ob.split(',').map(_.trim).map { part =>
        val bits = part.split("\\s+")
        (bits(0), bits.length > 1 && bits(1).equalsIgnoreCase("desc"))
      }
      val ord = new Ordering[Map[String, Any]] {
        def compare(a: Map[String, Any], b: Map[String, Any]): Int = {
          keys.foreach { case (f, desc) =>
            val c = (a(f), b(f)) match {
              case (x: Long, y: Long) => x.compareTo(y)
              case (x, y) => x.toString.compareTo(y.toString)
            }
            if (c != 0) return if (desc) -c else c
          }
          0
        }
      }
      data = data.sorted(ord)
    }
    q.get("$skip").map(_.toInt).foreach(n => data = data.drop(n))
    data
  }

  private def serveRows(ex: HttpExchange, q: Map[String, String]): Unit = {
    if (q.contains("$skip") && skipStatus != 200) {
      respond(ex, skipStatus, "text/plain", "$skip not supported"); return
    }
    if (isSweep(q) && sweepStatus != 200) {
      respond(ex, sweepStatus, "text/plain", "sweep refused"); return
    }
    val answer = q.get("$skip").flatMap { s =>
      skipAnswers.get(s.toInt).filter { a =>
        val n = skipGets.synchronized {
          val n = skipGets.getOrElse(s.toInt, 0) + 1; skipGets(s.toInt) = n; n
        }
        n <= a.times
      }
    }.getOrElse(ODataStub.SkipAnswer())
    Thread.sleep(answer.delayMs)
    if (answer.status != 200) {
      answer.headers.foreach { case (k, v) => ex.getResponseHeaders.set(k, v) }
      respond(ex, answer.status, "text/plain", s"answered ${answer.status}"); return
    }
    if (q.contains("$apply")) {
      if (applyStatus != 200) respond(ex, applyStatus, "text/plain", "$apply not supported")
      else serveApply(ex, q("$apply"), q.get("$top").map(_.toInt), q.get("$orderby"))
      return
    }
    var data = shapeRows(q)
    val explicitTop = q.get("$top").map(_.toInt)
    explicitTop.foreach(n => data = data.take(n))
    // nextLink pagination (within a `$top` if `pagesWithinTop`); a requested
    // `Prefer: odata.maxpagesize` overrides the stub's default page size,
    // as real services do
    val psz = answer.pageSize.getOrElse(
      preferPageSize(Option(ex.getRequestHeaders.getFirst("Prefer"))).getOrElse(pageSize))
    val page = q.getOrElse("__page", "0").toInt
    val (slice, hasMore) =
      if (explicitTop.isDefined && !pagesWithinTop) (data, false)
      else (data.slice(page * psz, (page + 1) * psz),
        data.size > (page + 1) * psz)
    val select = q.get("$select").map(_.split(',').map(_.trim).toSeq)
    val expandRaw = q.getOrElse("$expand", "")
    val expand = expandRaw.contains("Orders")
    val expandItems = expandRaw.contains("Items") // Orders/Items or Orders($expand=Items)
    val items = slice.map(r => jsonObj(r, select, expand, expandItems)).mkString("[", ",", "]")
    val nextLink =
      if (!hasMore && !loopNextLink) None
      else {
        val keep = q.filter { case (k, _) => k.startsWith("$") }
          .map { case (k, v) => s"$k=${java.net.URLEncoder.encode(v, "UTF-8")}" }
        val next = if (loopNextLink) 1 else page + 1
        Some(s"$serviceUrl/Customers?${(keep ++ Seq(s"__page=$next")).mkString("&")}")
      }
    val body =
      if (v2)
        s"""{"d":{"results":$items${nextLink.map(l => s""","__next":"$l"""").getOrElse("")}}}"""
      else
        s"""{"value":$items${nextLink.map(l => s""","@odata.nextLink":"$l"""").getOrElse("")}}"""
    respond(ex, 200, "application/json", if (answer.truncate) body.take(body.length / 2) else body)
  }

  /** Tiny `$apply` evaluator: `filter(...)` / `groupby((cols),aggregate(...))`
    * / bare `aggregate(...)` stages separated by '/'. Aggregate specs:
    * `$count as X` and `Col with sum|min|max|average|countdistinct as X`.
    * `$orderby`/`$top` evaluate AFTER the pipeline, over the group rows
    * (OData aggregation spec section on system query options). */
  private def serveApply(ex: HttpExchange, apply: String, top: Option[Int],
                         orderby: Option[String] = None): Unit =
    respond(ex, 200, "application/json", applyBody(apply, top, orderby))

  private def applyBody(apply: String, top: Option[Int],
                        orderby: Option[String] = None): String = {
    var data = rows
    var groupCols: Seq[String] = Seq.empty
    var aggSpecs: Seq[(String, String, String)] = Seq.empty // (fn, col, alias)
    def parseAggs(s: String): Seq[(String, String, String)] =
      s.split(',').map(_.trim).toSeq.map { spec =>
        val m1 = "^\\$count as (\\w+)$".r.findFirstMatchIn(spec)
        val m2 = "^(\\w+) with (\\w+) as (\\w+)$".r.findFirstMatchIn(spec)
        (m1, m2) match {
          case (Some(m), _) => ("count", "", m.group(1))
          case (_, Some(m)) => (m.group(2), m.group(1), m.group(3))
          case _ => throw new IllegalArgumentException(s"bad aggregate spec: $spec")
        }
      }
    // '/' only separates stages in our URLs (no literals contain it)
    apply.split('/').map(_.trim).foreach {
      case s if s.startsWith("filter(") && s.endsWith(")") =>
        data = applyFilter(data, Some(s.stripPrefix("filter(").stripSuffix(")")))
      case s if s.startsWith("groupby(") && s.endsWith(")") =>
        val inner = s.stripPrefix("groupby(").stripSuffix(")")
        val m = "^\\(([^)]*)\\),aggregate\\((.*)\\)$".r.findFirstMatchIn(inner)
          .getOrElse(throw new IllegalArgumentException(s"bad groupby: $inner"))
        groupCols = m.group(1).split(',').map(_.trim).toSeq.filter(_.nonEmpty)
        aggSpecs = parseAggs(m.group(2))
      case s if s.startsWith("aggregate(") && s.endsWith(")") =>
        aggSpecs = parseAggs(s.stripPrefix("aggregate(").stripSuffix(")"))
      case s => throw new IllegalArgumentException(s"bad $$apply stage: $s")
    }
    def num(v: Any): Double = v match {
      case l: Long => l.toDouble; case i: Int => i.toDouble
      case d: Double => d; case s: String => s.toDouble
    }
    val groups: Seq[(Seq[(String, Any)], Seq[Map[String, Any]])] =
      if (groupCols.isEmpty) Seq((Seq.empty, data))
      else data.groupBy(r => groupCols.map(c => c -> r(c))).toSeq
        .sortBy(_._1.map(_._2.toString).mkString("|")).map { case (k, v) => (k, v) }
    // typed group rows first (so $orderby can compare), then JSON rendering
    val outRows: Seq[Seq[(String, Any)]] = groups.map { case (key, grp) =>
      val aggVals: Seq[(String, Any)] = aggSpecs.map { case (fn, col, alias) =>
        val v: Any = fn match {
          case "count" => grp.size.toLong
          case "countdistinct" => grp.map(_(col)).distinct.size.toLong
          case "sum" =>
            val s = grp.map(r => num(r(col))).sum
            if (s == s.floor) s.toLong else s
          case "min" | "max" =>
            val vs = grp.map(_(col))
            if (vs.forall(_.isInstanceOf[Long])) {
              val l = vs.map(_.asInstanceOf[Long]); if (fn == "min") l.min else l.max
            } else { val ss = vs.map(_.toString); if (fn == "min") ss.min else ss.max }
          case "average" => grp.map(r => num(r(col))).sum / grp.size
        }
        alias -> v
      }
      key ++ aggVals
    }
    val sorted = orderby match {
      case None => outRows
      case Some(ob) =>
        val keys = ob.split(',').map(_.trim).map { part =>
          val bits = part.split("\\s+")
          (bits(0), bits.length > 1 && bits(1).equalsIgnoreCase("desc"))
        }
        val ord = new Ordering[Seq[(String, Any)]] {
          def compare(a: Seq[(String, Any)], b: Seq[(String, Any)]): Int = {
            val ma = a.toMap; val mb = b.toMap
            keys.foreach { case (f, desc) =>
              val c = (ma(f), mb(f)) match {
                case (x: Long, y: Long) => x.compareTo(y)
                case (x: Double, y: Double) => x.compareTo(y)
                case (x, y) => x.toString.compareTo(y.toString)
              }
              if (c != 0) return if (desc) -c else c
            }
            0
          }
        }
        outRows.sorted(ord)
    }
    val limited = top.map(sorted.take).getOrElse(sorted).map { row =>
      row.map { case (c, v) =>
        v match {
          case s: String => s""""$c":"$s""""
          case l: Long => if (v2) s""""$c":"$l"""" else s""""$c":$l"""
          case other => s""""$c":$other"""
        }
      }.mkString("{", ",", "}")
    }
    if (v2) s"""{"d":{"results":${limited.mkString("[", ",", "]")}}}"""
    else s"""{"value":${limited.mkString("[", ",", "]")}}"""
  }

  /** Deterministic orders per customer: customer i has i%3 orders. */
  def ordersOf(customerIdx: Int): Seq[(Int, Double)] =
    (0 until customerIdx % 3).map(k => (customerIdx * 10 + k, customerIdx * 100 + k + 0.5))

  /** Deterministic items per order: order o has (o%2)+1 items. */
  def itemsOf(orderId: Int): Seq[(Int, Int)] =
    (0 to orderId % 2).map(k => (orderId * 100 + k, k + 1))

  private def jsonObj(r: Map[String, Any], select: Option[Seq[String]],
                      expand: Boolean = false, expandItems: Boolean = false): String = {
    val fields = Seq("CustomerID", "CompanyName", "Country", "Revenue", "Founded")
      .filter(f => select.forall(_.contains(f)))
    val expandJson =
      if (!expand) None
      else {
        val idx = r("CustomerID").toString.stripPrefix("C").toInt
        val os = ordersOf(idx).map { case (oid, amt) =>
          val itemsJson =
            if (!expandItems) ""
            else {
              val is = itemsOf(oid).map { case (iid, qty) =>
                s"""{"ItemID":$iid,"Qty":$qty}"""
              }.mkString("[", ",", "]")
              "," + (if (v2) s""""Items":{"results":$is}""" else s""""Items":$is""")
            }
          s"""{"OrderID":$oid,"Amount":$amt$itemsJson}"""
        }.mkString("[", ",", "]")
        Some(if (v2) s""""Orders":{"results":$os}""" else s""""Orders":$os""")
      }
    (fields.map { f =>
      val v = r(f) match {
        case s: String => "\"" + s + "\""
        case l: Long if f == "Founded" =>
          if (v2) s""""/Date($l)/""""
          else "\"" + java.time.Instant.ofEpochMilli(l).toString + "\""
        case l: Long =>
          if (v2) "\"" + l.toString + "\"" else l.toString // v2 serializes Int64 as string
        case other => other.toString
      }
      s""""$f":$v"""
    } ++ expandJson).mkString("{", ",", "}")
  }

  // ---- tiny $filter evaluator (eq/ne/gt/ge/lt/le, and/or, startswith) ------
  private def applyFilter(data: Seq[Map[String, Any]], filter: Option[String]): Seq[Map[String, Any]] =
    filter match {
      case None => data
      case Some(f) => data.filter(r => evalFilter(f.trim, r))
    }

  def evalFilter(expr: String, row: Map[String, Any]): Boolean = {
    val e = stripParens(expr.trim)
    splitTop(e, " or ") match {
      case Some((l, r)) => evalFilter(l, row) || evalFilter(r, row)
      case None => splitTop(e, " and ") match {
        case Some((l, r)) => evalFilter(l, row) && evalFilter(r, row)
        case None => evalComparison(e, row)
      }
    }
  }

  private def stripParens(s: String): String = {
    var e = s.trim
    while (e.startsWith("(") && e.endsWith(")") && balanced(e.substring(1, e.length - 1)))
      e = e.substring(1, e.length - 1).trim
    e
  }
  private def balanced(s: String): Boolean = {
    var d = 0
    s.foreach { c =>
      if (c == '(') d += 1 else if (c == ')') d -= 1
      if (d < 0) return false
    }
    d == 0
  }
  private def splitTop(s: String, op: String): Option[(String, String)] = {
    var depth = 0; var inStr = false; var i = 0
    while (i < s.length - op.length + 1) {
      val c = s.charAt(i)
      if (c == '\'') inStr = !inStr
      else if (!inStr && c == '(') depth += 1
      else if (!inStr && c == ')') depth -= 1
      if (!inStr && depth == 0 && s.regionMatches(i, op, 0, op.length))
        return Some((s.take(i), s.drop(i + op.length)))
      i += 1
    }
    None
  }

  private def evalComparison(e: String, row: Map[String, Any]): Boolean = {
    if (e.startsWith("startswith(")) {
      val inner = e.stripPrefix("startswith(").stripSuffix(")")
      val Array(f, v) = inner.split(",", 2).map(_.trim)
      return row(f).toString.startsWith(v.stripPrefix("'").stripSuffix("'"))
    }
    if (e.startsWith("not ")) return !evalFilter(e.stripPrefix("not "), row)
    val m = "^(\\w+) (eq|ne|gt|ge|lt|le) (.+)$".r.findFirstMatchIn(e)
      .getOrElse(throw new IllegalArgumentException(s"bad filter: $e"))
    val (field, op, litRaw) = (m.group(1), m.group(2), m.group(3).trim)
    val actual = row.get(field).orNull
    if (litRaw == "null")
      return if (op == "eq") actual == null else actual != null
    val cmp: Int = actual match {
      case s: String => s.compareTo(litRaw.stripPrefix("'").stripSuffix("''").stripSuffix("'"))
      case l: Long   => l.compareTo(litRaw.toLong)
      case i: Int    => i.toLong.compareTo(litRaw.toLong)
      case null      => return false
      case other     => other.toString.compareTo(litRaw)
    }
    op match {
      case "eq" => cmp == 0
      case "ne" => cmp != 0
      case "gt" => cmp > 0
      case "ge" => cmp >= 0
      case "lt" => cmp < 0
      case "le" => cmp <= 0
    }
  }

  /** `CustomerID` of a `.../Customers('<id>')` URL. */
  private def customerKey(url: String): String =
    url.substring(url.indexOf("Customers(") + "Customers(".length).stripSuffix(")")
      .stripPrefix("'").stripSuffix("'")

  /** Records a PATCH of `key`; its status (404 for a [[failKeys]] key). */
  private def patch(key: String, body: String): Int =
    if (failKeys.contains(key)) 404
    else { patchedKeys.synchronized { patchedKeys += (key -> body) }; 200 }

  /** Records DELETEs of `keys` (removing them from [[rows]] under
    * [[applyDeletes]]); one status per key, 404 for a [[failKeys]] key. */
  private def delete(keys: Seq[String]): Seq[Int] = {
    val ok = keys.filterNot(failKeys.contains)
    if (ok.nonEmpty) deletedKeys.synchronized {
      deletedKeys ++= ok
      if (applyDeletes) { val gone = ok.toSet; rows = rows.filterNot(r => gone(r("CustomerID").toString)) }
    }
    keys.map(k => if (failKeys.contains(k)) 404 else 200)
  }

  private def respond(ex: HttpExchange, status: Int, ct: String, body: String): Unit = {
    val bytes = body.getBytes(StandardCharsets.UTF_8)
    ex.getResponseHeaders.set("Content-Type", ct)
    ex.sendResponseHeaders(status, bytes.length)
    val os = ex.getResponseBody
    os.write(bytes); os.close()
  }
}

object ODataStub {
  /** See [[ODataStub.skipAnswers]]. */
  final case class SkipAnswer(delayMs: Long = 0, status: Int = 200, pageSize: Option[Int] = None,
                              headers: Map[String, String] = Map.empty,
                              times: Int = Int.MaxValue, truncate: Boolean = false)
}
