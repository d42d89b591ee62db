package graft.testkit

import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
import java.net.{InetSocketAddress, URLDecoder}
import java.nio.charset.StandardCharsets
import scala.collection.mutable

/** In-process Microsoft Graph stub (zero egress): serves the endpoint shapes
  * the Graph service families consume — Entra directory, SharePoint sites/
  * lists/items (with `fields` facets and nextLink paging), Outlook `/me` vs
  * `/users/{id}` routing incl. date-bounded calendarView, Teams, Planner
  * (incl. task creation), and OneDrive/workbook Excel endpoints. Records
  * every request so specs can assert routing and pushdown.
  */
class GraphStub {

  val requests = mutable.ListBuffer[String]()
  /** Each request's `Authorization` header ("" when absent), in arrival order. */
  val authorizations = mutable.ListBuffer[String]()
  val createdItems = mutable.ListBuffer[String]()
  val patchedItems = mutable.ListBuffer[(String, String)]() // (item id, body)
  val deletedItems = mutable.ListBuffer[String]()
  val createdTasks = mutable.ListBuffer[String]()
  val appendedRows = mutable.ListBuffer[String]()
  val deletedRowIndexes = mutable.ListBuffer[Int]()

  private var server: HttpServer = _
  def port: Int = server.getAddress.getPort
  def baseUrl: String = s"http://localhost:$port/v1.0"

  val SiteId = "contoso.sharepoint.com,sc-1111,s-2222"
  val ListId = "11111111-1111-1111-1111-111111111111"
  val TeamId = "22222222-2222-2222-2222-222222222222"
  val PlanId = "pl-1"

  def start(): this.type = {
    server = HttpServer.create(new InetSocketAddress("localhost", 0), 0)
    server.createContext("/", new Handler)
    server.setExecutor(null)
    server.start()
    this
  }
  def stop(): Unit = if (server != null) server.stop(0)

  private class Handler extends HttpHandler {
    override def handle(ex: HttpExchange): Unit = {
      val path = ex.getRequestURI.getPath
      val rawQ = Option(ex.getRequestURI.getRawQuery).getOrElse("")
      val decoded = path + (if (rawQ.isEmpty) "" else "?" + URLDecoder.decode(rawQ, StandardCharsets.UTF_8))
      requests.synchronized { requests += s"${ex.getRequestMethod} $decoded" }
      authorizations.synchronized {
        authorizations += Option(ex.getRequestHeaders.getFirst("Authorization")).getOrElse("")
      }
      try route(ex, path, parseQuery(rawQ))
      catch { case e: Exception => respond(ex, 500, e.toString) }
    }
  }

  private def parseQuery(raw: String): Map[String, String] =
    raw.split('&').filter(_.nonEmpty).map { kv =>
      val i = kv.indexOf('=')
      val (k, v) = if (i < 0) (kv, "") else (kv.take(i), kv.drop(i + 1))
      URLDecoder.decode(k, StandardCharsets.UTF_8) ->
        URLDecoder.decode(v, StandardCharsets.UTF_8)
    }.toMap

  private def vals(items: Seq[String], next: Option[String] = None): String =
    s"""{"value":[${items.mkString(",")}]${next.map(n => s""","@odata.nextLink":"$n"""").getOrElse("")}}"""

  // ---- fixture data ----
  private def userJson(i: Int) =
    s"""{"id":"u$i","displayName":"User $i","userPrincipalName":"user$i@contoso.com",
       |"mail":"user$i@contoso.com","jobTitle":"Engineer","department":"R&D",
       |"accountEnabled":${i % 2 == 0}}""".stripMargin.replace("\n", "")

  private val listItems: Seq[String] = (1 to 7).map { i =>
    s"""{"id":"$i","webUrl":"https://x/items/$i","fields":{"Title":"Item $i","Amount":${i * 1.5},
       |"Approved":${i % 2 == 0},"DueDate":"2024-03-0${(i % 9) + 1}T00:00:00Z","Cost":${i * 10.25},
       |"ID":"$i","_Hidden":"x"}}""".stripMargin.replace("\n", "")
  }

  /** Delta rounds for /users/delta: each entry is one round of changed
    * objects; a `$deltatoken=Tk` request returns rounds k.. and advances. */
  val userDeltas = mutable.ListBuffer[Seq[String]]()

  /** Delta rounds for /me/messages/delta (independent token space Mk). */
  val messageDeltas = mutable.ListBuffer[Seq[String]]()

  /** Delta rounds for SharePoint list items (token space Lk). */
  val listItemDeltas = mutable.ListBuffer[Seq[String]]()
  private def msgJson(i: Int) =
    s"""{"id":"m$i","subject":"Subject $i","isRead":${i % 2 == 0}}"""

  /** When set, the next `$deltatoken` request answers 410 Gone with a
    * restart Location (the public token-expiry protocol), then clears. */
  @volatile var expireNextDelta = false

  /** When set, deleting a workbook table row answers 404. */
  @volatile var failRowDeletes = false

  private def route(ex: HttpExchange, path: String, q: Map[String, String]): Unit = {
    val method = ex.getRequestMethod
    def body(): String = new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
    path match {
      // ---- Graph delta protocol (users/delta) ----
      case "/v1.0/users/delta" =>
        q.get("$deltatoken") match {
          case None => // initial load: two pages, deltaLink on the last
            if (q.getOrElse("__page", "0").toInt == 0)
              respond(ex, 200, vals((1 to 3).map(userJson),
                Some(s"$baseUrl/users/delta?__page=1")))
            else {
              val consumed = userDeltas.synchronized(userDeltas.size)
              respond(ex, 200,
                s"""{"value":[${(4 to 5).map(userJson).mkString(",")}],""" +
                  s""""@odata.deltaLink":"$baseUrl/users/delta?$$deltatoken=T$consumed"}""")
            }
          case Some(t) if expireNextDelta =>
            expireNextDelta = false
            ex.getResponseHeaders.set("Location", s"$baseUrl/users/delta")
            respond(ex, 410, """{"error":{"code":"syncStateNotFound"}}""")
          case Some(t) => // changes since round k; token advances only on data
            val k = t.stripPrefix("T").toInt
            val (slice, consumed) = userDeltas.synchronized {
              (userDeltas.drop(k).flatten.toSeq, userDeltas.size)
            }
            val newTok = if (slice.isEmpty) k else consumed
            respond(ex, 200,
              s"""{"value":[${slice.mkString(",")}],""" +
                s""""@odata.deltaLink":"$baseUrl/users/delta?$$deltatoken=T$newTok"}""")
        }

      // ---- Graph delta protocol (me/messages/delta) — a second resource
      // proving the graph-delta source is resource-agnostic ----
      case "/v1.0/me/messages/delta" =>
        q.get("$deltatoken") match {
          case None =>
            val consumed = messageDeltas.synchronized(messageDeltas.size)
            respond(ex, 200,
              s"""{"value":[${(1 to 4).map(msgJson).mkString(",")}],""" +
                s""""@odata.deltaLink":"$baseUrl/me/messages/delta?$$deltatoken=M$consumed"}""")
          case Some(t) =>
            val k = t.stripPrefix("M").toInt
            val (slice, consumed) = messageDeltas.synchronized {
              (messageDeltas.drop(k).flatten.toSeq, messageDeltas.size)
            }
            val newTok = if (slice.isEmpty) k else consumed
            respond(ex, 200,
              s"""{"value":[${slice.mkString(",")}],""" +
                s""""@odata.deltaLink":"$baseUrl/me/messages/delta?$$deltatoken=M$newTok"}""")
        }

      // ---- Graph delta protocol (SharePoint list items: fields facet +
      // tombstones through the same deltaLink machinery) ----
      case p if p == s"/v1.0/sites/$SiteId/lists/$ListId/items/delta" =>
        q.get("$deltatoken") match {
          case None =>
            val consumed = listItemDeltas.synchronized(listItemDeltas.size)
            respond(ex, 200,
              s"""{"value":[${listItems.take(3).mkString(",")}],""" +
                s""""@odata.deltaLink":"$baseUrl/sites/$SiteId/lists/$ListId/items/delta?$$deltatoken=L$consumed"}""")
          case Some(t) =>
            val k = t.stripPrefix("L").toInt
            val (slice, consumed) = listItemDeltas.synchronized {
              (listItemDeltas.drop(k).flatten.toSeq, listItemDeltas.size)
            }
            val newTok = if (slice.isEmpty) k else consumed
            respond(ex, 200,
              s"""{"value":[${slice.mkString(",")}],""" +
                s""""@odata.deltaLink":"$baseUrl/sites/$SiteId/lists/$ListId/items/delta?$$deltatoken=L$newTok"}""")
        }

      // ---- Entra ----
      case "/v1.0/users" =>
        // two pages to exercise nextLink-following in the DSv2 reader
        val page = q.getOrElse("__page", "0").toInt
        if (page == 0)
          respond(ex, 200, vals((1 to 3).map(userJson),
            Some(s"$baseUrl/users?__page=1")))
        else respond(ex, 200, vals((4 to 5).map(userJson)))
      case "/v1.0/groups" =>
        respond(ex, 200, vals(Seq(
          """{"id":"g1","displayName":"Admins","description":"the admins","mail":"admins@contoso.com","mailEnabled":true,"securityEnabled":true}""",
          """{"id":"g2","displayName":"Devs","description":null,"mail":null,"mailEnabled":false,"securityEnabled":true}""")))
      case "/v1.0/devices" =>
        respond(ex, 200, vals(Seq(
          """{"id":"d1","displayName":"LAPTOP-1","operatingSystem":"Windows","operatingSystemVersion":"10.0.22631","trustType":"AzureAd","accountEnabled":true}""")))
      case "/v1.0/auditLogs/signIns" =>
        respond(ex, 200, vals(Seq(
          """{"id":"s1","userDisplayName":"User 1","userPrincipalName":"user1@contoso.com","appDisplayName":"Office","ipAddress":"1.2.3.4","createdDateTime":"2024-05-01T10:00:00Z","status":{"errorCode":0}}""",
          """{"id":"s2","userDisplayName":"User 2","userPrincipalName":"user2@contoso.com","appDisplayName":"Teams","ipAddress":"5.6.7.8","createdDateTime":"2024-05-01T11:00:00Z","status":{"errorCode":50126}}""")))

      // ---- SharePoint sites ----
      case "/v1.0/sites" => // ?search=
        respond(ex, 200, vals(Seq(
          s"""{"id":"$SiteId","name":"Finance","displayName":"Finance Site","webUrl":"https://contoso.sharepoint.com/sites/Finance","createdDateTime":"2023-01-01T00:00:00Z"}""")))
      case p if p.startsWith("/v1.0/sites/") && p.contains(":") =>
        // site-by-path: /sites/{hostname}:/sites/Finance:
        respond(ex, 200,
          s"""{"id":"$SiteId","name":"Finance","displayName":"Finance Site","webUrl":"https://contoso.sharepoint.com/sites/Finance"}""")
      case p if p == s"/v1.0/sites/$SiteId" =>
        respond(ex, 200, s"""{"id":"$SiteId","name":"Finance","displayName":"Finance Site"}""")
      case p if p == s"/v1.0/sites/$SiteId/drives" =>
        respond(ex, 200, vals(Seq(
          s"""{"id":"b!drive1","name":"Documents","driveType":"documentLibrary","webUrl":"https://contoso.sharepoint.com/sites/Finance/Shared","createdDateTime":"2023-01-02T00:00:00Z","lastModifiedDateTime":"2024-01-02T00:00:00Z"}""")))
      case p if p == s"/v1.0/sites/$SiteId/lists" =>
        respond(ex, 200, vals(Seq(
          s"""{"id":"$ListId","name":"Budget","displayName":"Budget List","description":"budget","webUrl":"https://contoso.sharepoint.com/sites/Finance/Lists/Budget","createdDateTime":"2023-02-01T00:00:00Z","lastModifiedDateTime":"2024-02-01T00:00:00Z"}""")))
      case p if p == s"/v1.0/sites/$SiteId/lists/$ListId/columns" =>
        respond(ex, 200, vals(Seq(
          """{"name":"Title","displayName":"Title","description":"","required":true,"text":{}}""",
          """{"name":"Amount","displayName":"Amount","description":"qty","required":false,"number":{}}""",
          """{"name":"Approved","displayName":"Approved?","required":false,"boolean":{}}""",
          """{"name":"DueDate","displayName":"Due","required":false,"dateTime":{}}""",
          """{"name":"Cost","displayName":"Cost","required":false,"currency":{"locale":"en-US"}}""",
          """{"name":"ID","displayName":"ID","required":false,"text":{}}""",
          """{"name":"_Hidden","displayName":"hidden","required":false,"text":{}}""",
          """{"name":"Edit","displayName":"edit","required":false,"text":{}}""")))
      case p if p == s"/v1.0/sites/$SiteId/lists/$ListId/items" && method == "POST" =>
        val b = body()
        createdItems.synchronized { createdItems += b }
        respond(ex, 201, s"""{"id":"${100 + createdItems.size}","fields":{}}""", 201)
      case p if p.startsWith(s"/v1.0/sites/$SiteId/lists/$ListId/items/") &&
        p.endsWith("/fields") && method == "PATCH" =>
        val id = p.stripPrefix(s"/v1.0/sites/$SiteId/lists/$ListId/items/").stripSuffix("/fields")
        patchedItems.synchronized { patchedItems += (id -> body()) }
        respond(ex, 200, "{}")
      case p if p.startsWith(s"/v1.0/sites/$SiteId/lists/$ListId/items/") && method == "DELETE" =>
        deletedItems.synchronized {
          deletedItems += p.stripPrefix(s"/v1.0/sites/$SiteId/lists/$ListId/items/")
        }
        respond(ex, 204, "")
      case p if p == s"/v1.0/sites/$SiteId/lists/$ListId/items" =>
        // real Graph rejects a top-level $select of names that aren't
        // listItem properties (fields-payload keys must be selected INSIDE
        // expand=fields($select=...)) — emulate that so the source's
        // projection pushdown is validated end-to-end, not masked
        val itemProps = Set("id", "webUrl", "fields", "eTag", "contentType",
          "createdDateTime", "lastModifiedDateTime")
        val badSelect = q.get("$select").toSeq.flatMap(_.split(','))
          .map(_.trim).filterNot(itemProps.contains)
        if (badSelect.nonEmpty)
          respond(ex, 400,
            s"""{"error":{"code":"invalidRequest","message":"Property '${badSelect.head}' does not exist"}}""",
            400)
        else {
          // paged: 3 per page
          val page = q.getOrElse("__page", "0").toInt
          val slice = listItems.slice(page * 3, (page + 1) * 3)
          val next =
            if (listItems.size > (page + 1) * 3)
              Some(s"$baseUrl/sites/$SiteId/lists/$ListId/items?expand=fields&__page=${page + 1}")
            else None
          respond(ex, 200, vals(slice, next))
        }

      // ---- Outlook (/me and /users/{id}) ----
      case OutlookPath(seg, "calendars") =>
        respond(ex, 200, vals(Seq(
          s"""{"id":"cal1-$seg","name":"Calendar","color":"auto","isDefaultCalendar":true,"canEdit":true}""",
          s"""{"id":"cal2-$seg","name":"Team","color":"lightBlue","isDefaultCalendar":false,"canEdit":false}""")))
      case OutlookPath(seg, "events") =>
        respond(ex, 200, vals(Seq(eventJson(1, seg), eventJson(2, seg), eventJson(3, seg))))
      case OutlookPath(seg, "calendarView") =>
        // date-bounded: only events inside [start, end)
        val s0 = q.getOrElse("startDateTime", "")
        val e0 = q.getOrElse("endDateTime", "9999")
        val evs = Seq(1, 2, 3).filter { i =>
          val t = s"2024-06-1${i}T09:00:00"
          t >= s0 && t < e0
        }
        respond(ex, 200, vals(evs.map(eventJson(_, seg))))
      case OutlookPath(seg, "contacts") =>
        respond(ex, 200, vals(Seq(
          s"""{"id":"c1-$seg","displayName":"Ada Lovelace","givenName":"Ada","surname":"Lovelace","emailAddresses":[{"address":"ada@contoso.com","name":"Ada"}],"mobilePhone":"+1-555","businessPhones":["+1-666","+1-777"],"companyName":"Contoso","jobTitle":"Analyst"}""",
          s"""{"id":"c2-$seg","displayName":"No Contact Info","givenName":null,"surname":null,"emailAddresses":[],"mobilePhone":null,"businessPhones":[],"companyName":null,"jobTitle":null}""")))
      case OutlookPath(seg, "mailFolders") =>
        respond(ex, 200, vals(Seq(
          s"""{"id":"f1","displayName":"Inbox","parentFolderId":"root","totalItemCount":2,"unreadItemCount":1}""",
          s"""{"id":"f2","displayName":"Archive","parentFolderId":"root","totalItemCount":1,"unreadItemCount":0}""")))
      case OutlookPath(seg, "messages") =>
        respond(ex, 200, vals(Seq(msgJson(1, "f1"), msgJson(2, "f1"), msgJson(3, "f2"))))
      case p if p.matches("/v1.0/(me|users/[^/]+)/mailFolders/[^/]+/messages") =>
        val folder = p.split("/mailFolders/")(1).split("/")(0)
        val all = Seq(msgJson(1, "f1"), msgJson(2, "f1"), msgJson(3, "f2"))
        respond(ex, 200, vals(all.filter(_.contains(s""""parentFolderId":"$folder""""))))
      case OutlookPath(seg, "joinedTeams") =>
        respond(ex, 200, vals(Seq(
          s"""{"id":"$TeamId","displayName":"Eng Team","description":"engineering","visibility":"private","webUrl":"https://teams/x","isArchived":false}""")))

      // ---- Teams ----
      case p if p == s"/v1.0/teams/$TeamId/channels" =>
        respond(ex, 200, vals(Seq(
          """{"id":"ch1","displayName":"General","description":"general","membershipType":"standard","createdDateTime":"2023-03-01T00:00:00Z"}""",
          """{"id":"ch2","displayName":"Random","description":null,"membershipType":"standard","createdDateTime":"2023-03-02T00:00:00Z"}""")))
      case p if p == s"/v1.0/teams/$TeamId/members" =>
        respond(ex, 200, vals(Seq(
          """{"id":"m1","userId":"u1","displayName":"User 1","email":"user1@contoso.com","roles":["owner"]}""",
          """{"id":"m2","userId":"u2","displayName":"User 2","email":"user2@contoso.com","roles":[]}""")))
      case p if p == s"/v1.0/teams/$TeamId/channels/ch1/messages" =>
        respond(ex, 200, vals(Seq(
          """{"id":"tm1","createdDateTime":"2024-01-01T09:00:00Z","from":{"user":{"displayName":"User 1"}},"body":{"content":"hello"},"importance":"normal","messageType":"message"}""")))

      // ---- Planner ----
      case p if p.matches("/v1.0/groups/[^/]+/planner/plans") =>
        respond(ex, 200, vals(Seq(
          s"""{"id":"$PlanId","title":"Launch","owner":"g1","createdDateTime":"2024-01-05T00:00:00Z"}""")))
      case p if p == s"/v1.0/planner/plans/$PlanId/buckets" =>
        respond(ex, 200, vals(Seq(
          s"""{"id":"b1","name":"To do","planId":"$PlanId","orderHint":"a"}""",
          s"""{"id":"b2","name":"Done","planId":"$PlanId","orderHint":"b"}""")))
      case p if p == s"/v1.0/planner/plans/$PlanId/tasks" =>
        respond(ex, 200, vals(Seq(
          s"""{"id":"t1","title":"Ship it","bucketId":"b1","planId":"$PlanId","percentComplete":50,"priority":5,"dueDateTime":"2024-07-01T00:00:00Z","createdDateTime":"2024-06-01T00:00:00Z","completedDateTime":null}""")))
      case "/v1.0/planner/tasks" if method == "POST" =>
        val b = body()
        createdTasks.synchronized { createdTasks += b }
        respond(ex, 201, s"""{"id":"task-${createdTasks.size}","title":"x"}""", 201)

      // ---- OneDrive / Excel workbook ----
      case "/v1.0/me/drive/root/children" =>
        respond(ex, 200, vals(Seq(
          """{"id":"it1","name":"book.xlsx","webUrl":"https://x/book.xlsx","size":1234,"createdDateTime":"2024-01-01T00:00:00Z","lastModifiedDateTime":"2024-02-01T00:00:00Z","file":{"mimeType":"application/vnd.openxmlformats-officedocument.spreadsheetml.sheet"}}""",
          """{"id":"it2","name":"docs","webUrl":"https://x/docs","size":0,"createdDateTime":"2024-01-01T00:00:00Z","lastModifiedDateTime":"2024-01-01T00:00:00Z","folder":{"childCount":3}}""")))
      case p if p.contains("/drive/root:") && p.endsWith(":/workbook/worksheets") =>
        respond(ex, 200, vals(Seq(
          """{"name":"Sheet1","id":"ws1","position":0,"visibility":"Visible"}""",
          """{"name":"Data","id":"ws2","position":1,"visibility":"Visible"}""")))
      case p if p.contains("/drive/root:") && p.endsWith(":/workbook/tables") =>
        respond(ex, 200, vals(Seq(
          """{"name":"Sales","id":"tbl1","showHeaders":true,"showTotals":false}""")))
      case p if p.contains(":/workbook/tables/Sales/columns") =>
        respond(ex, 200, vals(Seq(
          """{"id":"1","index":0,"name":"Region"}""",
          """{"id":"2","index":1,"name":"Qty"}""",
          """{"id":"3","index":2,"name":"Price"}""")))
      case p if p.contains(":/workbook/tables/Sales/rows/add") && method == "POST" =>
        val b = body()
        appendedRows.synchronized { appendedRows += b }
        respond(ex, 201, """{"index":99}""", 201)
      case p if p.contains(":/workbook/tables/Sales/rows/itemAt(index=") && method == "DELETE" &&
        failRowDeletes =>
        respond(ex, 404, s"""{"error":{"message":"row not found: $path"}}""", 404)
      case p if p.contains(":/workbook/tables/Sales/rows/itemAt(index=") && method == "DELETE" =>
        val idx = p.split("index=")(1).stripSuffix(")").toInt
        deletedRowIndexes.synchronized { deletedRowIndexes += idx }
        respond(ex, 204, "")
      case p if p.contains(":/workbook/worksheets/") && p.endsWith("/usedRange") =>
        respond(ex, 200,
          """{"address":"Sheet1!A1:B3","values":[["Name","Qty"],["apple","3"],["pear","4"]]}""")
      case p if p.contains(":/workbook/tables/Sales/rows") =>
        respond(ex, 200, vals(Seq(
          """{"index":0,"values":[["North","3","1.25"]]}""",
          """{"index":1,"values":[["South","5","2.50"]]}""",
          """{"index":2,"values":[["North","2","0.75"]]}""")))

      case _ => respond(ex, 404, s"""{"error":{"message":"not found: $path"}}""", 404)
    }
  }

  private object OutlookPath {
    // /v1.0/me/<leaf> or /v1.0/users/{id}/<leaf> → (segment, leaf)
    def unapply(path: String): Option[(String, String)] = {
      val m = "^/v1\\.0/(me|users/[^/]+)/([A-Za-z]+)$".r.findFirstMatchIn(path)
      m.map(g => (g.group(1), g.group(2)))
    }
  }

  private def eventJson(i: Int, seg: String) =
    s"""{"id":"e$i-$seg","subject":"Meeting $i","bodyPreview":"agenda $i",
       |"start":{"dateTime":"2024-06-1${i}T09:00:00","timeZone":"UTC"},
       |"end":{"dateTime":"2024-06-1${i}T10:00:00","timeZone":"UTC"},
       |"location":{"displayName":"Room $i"},
       |"organizer":{"emailAddress":{"name":"User $i","address":"user$i@contoso.com"}},
       |"isAllDay":false,"isCancelled":false,"webLink":"https://outlook/e$i"}"""
      .stripMargin.replace("\n", "")

  private def msgJson(i: Int, folderId: String) =
    s"""{"id":"m$i","subject":"Subject $i","bodyPreview":"preview $i",
       |"from":{"emailAddress":{"name":"Sender $i","address":"sender$i@contoso.com"}},
       |"receivedDateTime":"2024-04-0${i}T08:00:00Z","hasAttachments":${i % 2 == 0},
       |"isRead":${i != 1},"importance":"normal","webLink":"https://outlook/m$i",
       |"parentFolderId":"$folderId"}""".stripMargin.replace("\n", "")

  private def respond(ex: HttpExchange, status: Int, body: String, code: Int = 0): Unit = {
    val bytes = body.getBytes(StandardCharsets.UTF_8)
    ex.getResponseHeaders.set("Content-Type", "application/json")
    if (bytes.isEmpty) { ex.sendResponseHeaders(status, -1); ex.close() }
    else {
      ex.sendResponseHeaders(status, bytes.length)
      val os = ex.getResponseBody; os.write(bytes); os.close()
    }
  }
}
