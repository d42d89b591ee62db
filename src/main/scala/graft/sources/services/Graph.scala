package graft.sources.services

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.sources.http.{HttpAuth, HttpCore, SecretRegistry}
import graft.sources.odata.{ODataJson, ODataPages}
import graft.writes.RestWrites
import scala.jdk.CollectionConverters._

/** Microsoft Graph service families — Entra, SharePoint, Outlook, Teams,
  * Planner — as thin URL-builders + fixed schemas over the shared `odata`
  * DataSource (the reference's architecture: every family is configuration
  * over one Graph client, `graph_client.cpp`).
  *
  * Graph endpoints are OData v4 JSON (`{"value":[...]}` envelopes,
  * `@odata.nextLink` pagination) WITHOUT a `$metadata` document — schemas are
  * fixed per endpoint exactly like the reference's bind functions
  * (`graph_entra_functions.cpp:488-536`, `graph_outlook_functions.cpp`,
  * `graph_teams_functions.cpp:394-450`, `graph_planner_functions.cpp`).
  * Reads therefore go through the DSv2 scan in fixed-schema mode
  * (`schemaDdl` option): executor-side paging, `$select` pruning, metrics —
  * everything the OData path already has.
  *
  * Output column names are the reference's snake_case; nested Graph shapes
  * (event start/end, organizer email, sign-in status) are declared as nested
  * structs in the read schema and flattened by Catalyst projections, so the
  * flattening costs nothing and stays in codegen.
  */
object Graph {

  val DefaultBaseUrl = "https://graph.microsoft.com/v1.0"

  /** `/me` vs `/users/{id-or-upn}` routing (reference
    * `graph_client.cpp:257-268`): empty → me; GUID → users/{guid}; UPN/email
    * → users/{percent-encoded}. */
  def userSegment(user: String): String = {
    if (user == null || user.isEmpty) "me"
    else if (looksLikeGuid(user)) s"users/$user"
    else "users/" + java.net.URLEncoder.encode(user, "UTF-8").replace("+", "%20")
  }

  private def looksLikeGuid(s: String): Boolean =
    s.length == 36 && s(8) == '-' && s(13) == '-' && s(18) == '-' && s(23) == '-'

  /** Bare ISO date → the midnight datetime calendarView expects (reference
    * `graph_outlook_functions.cpp:118-126`). */
  def normalizeCalendarViewDate(s: String): String =
    if (s.length == 10 && s(4) == '-' && s(7) == '-') s + "T00:00:00" else s

  // ---- shared plumbing ------------------------------------------------------

  private def auth(spark: SparkSession, url: String, secret: Option[String]): HttpAuth =
    SecretRegistry.authFor(spark, url, secret)

  /** Fixed-schema DSv2 read (see class doc). */
  private[services] def fixedRead(spark: SparkSession, url: String, ddl: String,
                                  secret: Option[String],
                                  unwrap: Option[String] = None): DataFrame = {
    val a = auth(spark, url, secret)
    var r = spark.read.format("odata")
      .option("url", url)
      .option("schemaDdl", ddl)
    unwrap.foreach(u => r = r.option("unwrap", u))
    a.bearer.foreach(t => r = r.option("bearerToken", t))
    a.basicUser.foreach(u => r = r.option("user", u))
    a.basicPassword.foreach(p => r = r.option("password", p))
    r.load()
  }

  /** Driver-side paged GET of every item of a Graph collection — for
    * discovery/resolution steps only (site ids, list columns), never data. */
  private def pagedValues(url: String, a: HttpAuth): Seq[JsonNode] =
    ODataPages.walk(url, a, ODataJson.tree).flatMap(_.page.rows).toSeq

  private def getJson(url: String, a: HttpAuth): JsonNode =
    ODataJson.parse(HttpCore.shared.call("GET", url, auth = a).text)

  private def str(n: JsonNode, k: String): String = {
    val v = if (n == null) null else n.get(k)
    if (v == null || v.isNull) "" else v.asText
  }

  // ---- Entra (Azure AD) — fixed schemas, graph_entra_functions.cpp ---------

  def users(spark: SparkSession, baseUrl: String = DefaultBaseUrl,
            secret: Option[String] = None): DataFrame =
    fixedRead(spark, s"${baseUrl.stripSuffix("/")}/users",
      "id STRING, displayName STRING, userPrincipalName STRING, mail STRING, " +
        "jobTitle STRING, department STRING, accountEnabled BOOLEAN", secret)
      .select(col("id"), col("displayName").as("display_name"),
        col("userPrincipalName").as("user_principal_name"), col("mail"),
        col("jobTitle").as("job_title"), col("department"),
        coalesce(col("accountEnabled"), lit(true)).as("account_enabled"))

  def groups(spark: SparkSession, baseUrl: String = DefaultBaseUrl,
             secret: Option[String] = None): DataFrame =
    fixedRead(spark, s"${baseUrl.stripSuffix("/")}/groups",
      "id STRING, displayName STRING, description STRING, mail STRING, " +
        "mailEnabled BOOLEAN, securityEnabled BOOLEAN", secret)
      .select(col("id"), col("displayName").as("display_name"),
        col("description"), col("mail"),
        col("mailEnabled").as("mail_enabled"),
        col("securityEnabled").as("security_enabled"))

  def devices(spark: SparkSession, baseUrl: String = DefaultBaseUrl,
              secret: Option[String] = None): DataFrame =
    fixedRead(spark, s"${baseUrl.stripSuffix("/")}/devices",
      "id STRING, displayName STRING, operatingSystem STRING, " +
        "operatingSystemVersion STRING, trustType STRING, accountEnabled BOOLEAN", secret)
      .select(col("id"), col("displayName").as("display_name"),
        col("operatingSystem").as("operating_system"),
        col("operatingSystemVersion").as("os_version"),
        col("trustType").as("trust_type"),
        coalesce(col("accountEnabled"), lit(true)).as("account_enabled"))

  /** Sign-in logs; `status` flattens the nested errorCode exactly like the
    * reference (0 → Success, else Failure; `graph_entra_functions.cpp:417+`). */
  def signinLogs(spark: SparkSession, baseUrl: String = DefaultBaseUrl,
                 secret: Option[String] = None): DataFrame =
    fixedRead(spark, s"${baseUrl.stripSuffix("/")}/auditLogs/signIns",
      "id STRING, userDisplayName STRING, userPrincipalName STRING, " +
        "appDisplayName STRING, ipAddress STRING, createdDateTime STRING, " +
        "status STRUCT<errorCode: INT>", secret)
      .select(col("id"), col("userDisplayName").as("user_display_name"),
        col("userPrincipalName").as("user_principal_name"),
        col("appDisplayName").as("app_display_name"),
        col("ipAddress").as("ip_address"),
        col("createdDateTime").as("created_datetime"),
        when(col("status.errorCode").isNull, lit(""))
          .when(col("status.errorCode") === 0, lit("Success"))
          .otherwise(lit("Failure")).as("status"))

  // ---- SharePoint — graph_sharepoint_functions.cpp / _client.cpp -----------

  /** Site name/URL/id → site id (reference ResolveSiteId,
    * `graph_sharepoint_client.cpp:194-272`): contains ',' → already an id;
    * http(s) URL → `/sites/{hostname}:/{path}:` lookup; else `/sites?search=`
    * first match. */
  def resolveSiteId(spark: SparkSession, siteNameOrUrlOrId: String,
                    baseUrl: String = DefaultBaseUrl,
                    secret: Option[String] = None): String =
    resolveSiteId(siteNameOrUrlOrId, baseUrl, auth(spark, baseUrl.stripSuffix("/"), secret))

  def resolveSiteId(siteNameOrUrlOrId: String, baseUrl: String, a: HttpAuth): String = {
    val base = baseUrl.stripSuffix("/")
    val s = siteNameOrUrlOrId
    if (s.contains(",")) s
    else if (s.startsWith("https://") || s.startsWith("http://")) {
      val rest = s.stripPrefix("https://").stripPrefix("http://").stripSuffix("/")
      val slash = rest.indexOf('/')
      val url =
        if (slash < 0) s"$base/sites/$rest"
        else s"$base/sites/${rest.take(slash)}:/${rest.drop(slash + 1)}:"
      val id = str(getJson(url, a), "id")
      if (id.isEmpty) throw new IllegalArgumentException(s"could not resolve site: $s")
      id
    } else {
      val hits = pagedValues(s"$base/sites?search=" +
        java.net.URLEncoder.encode(s, "UTF-8"), a)
      val id = hits.headOption.map(str(_, "id")).getOrElse("")
      if (id.isEmpty) throw new IllegalArgumentException(s"no SharePoint site matching: $s")
      id
    }
  }

  /** List name/GUID → list id (reference ResolveListId: GUID passes through,
    * else match either internal `name` or `displayName`). */
  def resolveListId(spark: SparkSession, siteId: String, listNameOrId: String,
                    baseUrl: String = DefaultBaseUrl,
                    secret: Option[String] = None): String =
    resolveListId(siteId, listNameOrId, baseUrl, auth(spark, baseUrl.stripSuffix("/"), secret))

  def resolveListId(siteId: String, listNameOrId: String, baseUrl: String,
                    a: HttpAuth): String = {
    if (looksLikeGuid(listNameOrId)) return listNameOrId
    val lists = pagedValues(s"${baseUrl.stripSuffix("/")}/sites/$siteId/lists", a)
    lists.find(l => str(l, "name") == listNameOrId || str(l, "displayName") == listNameOrId)
      .map(str(_, "id"))
      .getOrElse(throw new IllegalArgumentException(
        s"no SharePoint list '$listNameOrId' on site '$siteId'"))
  }

  def showSites(spark: SparkSession, baseUrl: String = DefaultBaseUrl,
                secret: Option[String] = None, search: String = "*"): DataFrame =
    fixedRead(spark, s"${baseUrl.stripSuffix("/")}/sites?search=" +
      java.net.URLEncoder.encode(search, "UTF-8"),
      "id STRING, name STRING, displayName STRING, webUrl STRING, createdDateTime STRING",
      secret)
      .select(col("id"), col("name"), col("displayName").as("display_name"),
        col("webUrl").as("web_url"), col("createdDateTime").as("created_at"))

  def showDrives(spark: SparkSession, site: String, baseUrl: String = DefaultBaseUrl,
                 secret: Option[String] = None): DataFrame = {
    val sid = resolveSiteId(spark, site, baseUrl, secret)
    fixedRead(spark, s"${baseUrl.stripSuffix("/")}/sites/$sid/drives",
      "id STRING, name STRING, driveType STRING, webUrl STRING, " +
        "createdDateTime STRING, lastModifiedDateTime STRING", secret)
      .select(col("id"), col("name"), col("driveType").as("drive_type"),
        col("webUrl").as("web_url"), col("createdDateTime").as("created_at"),
        col("lastModifiedDateTime").as("modified_at"))
  }

  def showLists(spark: SparkSession, site: String, baseUrl: String = DefaultBaseUrl,
                secret: Option[String] = None): DataFrame = {
    val sid = resolveSiteId(spark, site, baseUrl, secret)
    fixedRead(spark, s"${baseUrl.stripSuffix("/")}/sites/$sid/lists",
      "id STRING, name STRING, displayName STRING, description STRING, " +
        "webUrl STRING, createdDateTime STRING, lastModifiedDateTime STRING", secret)
      .select(col("id"), col("name"), col("displayName").as("display_name"),
        col("description"), col("webUrl").as("web_url"),
        col("createdDateTime").as("created_at"),
        col("lastModifiedDateTime").as("modified_at"))
  }

  /** Facet-key → column type name (reference precedence chain,
    * `graph_sharepoint_functions.cpp:295-312`). */
  private val FacetPrecedence = Seq("text", "number", "dateTime", "boolean",
    "choice", "lookup", "personOrGroup", "currency", "calculated")

  private def facetName(colDef: JsonNode): String =
    FacetPrecedence.find(colDef.has).getOrElse("unknown")

  /** Facet → Spark type (reference `graph_sharepoint_type_mapper.hpp:16-33`:
    * number/currency → DOUBLE, boolean → BOOLEAN, dateTime → TIMESTAMP,
    * everything else → VARCHAR). */
  def facetDataType(colDef: JsonNode): DataType =
    if (colDef.has("number") || colDef.has("currency")) DoubleType
    else if (colDef.has("boolean")) BooleanType
    else if (colDef.has("dateTime")) TimestampType
    else StringType

  /** Internal columns skipped from list schemas (reference list,
    * `graph_sharepoint_functions.cpp:396-404`). */
  private val SkippedColumns = Set("Edit", "LinkTitle", "LinkTitleNoMenu",
    "DocIcon", "ItemChildCount", "FolderChildCount", "AppAuthor", "AppEditor")

  private def listColumnDefs(siteId: String, listId: String, baseUrl: String,
                             a: HttpAuth): Seq[JsonNode] =
    pagedValues(s"${baseUrl.stripSuffix("/")}/sites/$siteId/lists/$listId/columns", a)

  def describeList(spark: SparkSession, site: String, list: String,
                   baseUrl: String = DefaultBaseUrl,
                   secret: Option[String] = None): DataFrame = {
    import spark.implicits._
    val sid = resolveSiteId(spark, site, baseUrl, secret)
    val lid = resolveListId(spark, sid, list, baseUrl, secret)
    listColumnDefs(sid, lid, baseUrl, auth(spark, baseUrl.stripSuffix("/"), secret)).map { c =>
      (str(c, "name"), str(c, "displayName"), facetName(c), str(c, "description"),
        c.has("required") && c.get("required").asBoolean(false))
    }.toDF("name", "display_name", "column_type", "description", "required")
  }

  /** Typed list-item read: schema = `id` + the list's columns typed by facet
    * (dynamic, like the reference's list_read bind), data from
    * `/items?expand=fields` with the `fields` payload unwrapped into the row.
    * The scan itself is the DSv2 paging reader — executor-side, prunable. */
  def listItems(spark: SparkSession, site: String, list: String,
                baseUrl: String = DefaultBaseUrl,
                secret: Option[String] = None): DataFrame = {
    val sid = resolveSiteId(spark, site, baseUrl, secret)
    val lid = resolveListId(spark, sid, list, baseUrl, secret)
    val schema = listItemsSchema(sid, lid, baseUrl, auth(spark, baseUrl.stripSuffix("/"), secret))
    fixedRead(spark,
      s"${baseUrl.stripSuffix("/")}/sites/$sid/lists/$lid/items?expand=fields",
      schema.toDDL, secret, unwrap = Some("fields"))
  }

  /** `id` + the list's facet-typed columns (internal columns skipped,
    * case-insensitive dedup — the reference's list_read bind schema). */
  def listItemsSchema(siteId: String, listId: String, baseUrl: String,
                      a: HttpAuth): StructType = {
    val defs = listColumnDefs(siteId, listId, baseUrl, a)
    val seen = scala.collection.mutable.Set("id")
    val fields = defs.flatMap { c =>
      val name = str(c, "name")
      if (name.isEmpty || name.startsWith("_") || SkippedColumns.contains(name) ||
        !seen.add(name.toLowerCase)) None
      else Some(StructField(name, facetDataType(c)))
    }
    // id is the Graph item GUID — always present, and row-level operations
    // require a non-nullable row id
    StructType(StructField("id", StringType, nullable = false) +: fields)
  }

  /** Per-row item creation (the reference's LATERAL mutation functions,
    * `graph_sharepoint_functions.cpp:843-925`): POST one `{"fields": {...}}`
    * per input row; output = input + (status, item_id). */
  def createListItems(spark: SparkSession, df: DataFrame, site: String, list: String,
                      baseUrl: String = DefaultBaseUrl,
                      secret: Option[String] = None): DataFrame = {
    val sid = resolveSiteId(spark, site, baseUrl, secret)
    val lid = resolveListId(spark, sid, list, baseUrl, secret)
    val url = s"${baseUrl.stripSuffix("/")}/sites/$sid/lists/$lid/items"
    val a = auth(spark, url, secret)
    val cols = df.schema.fieldNames
    RestWrites.mapHttp(df, "POST", _ => url,
      Some(r => s"""{"fields":${rowJson(r, cols)}}"""), a)
      .withColumn("item_id", get_json_object(col("response"), "$.id"))
      .drop("response")
  }

  /** PATCH `/items/{id}/fields` per row; the input must carry `item_id`. */
  def updateListItems(spark: SparkSession, df: DataFrame, site: String, list: String,
                      baseUrl: String = DefaultBaseUrl,
                      secret: Option[String] = None): DataFrame = {
    val sid = resolveSiteId(spark, site, baseUrl, secret)
    val lid = resolveListId(spark, sid, list, baseUrl, secret)
    val base = s"${baseUrl.stripSuffix("/")}/sites/$sid/lists/$lid/items"
    val a = auth(spark, base, secret)
    val cols = df.schema.fieldNames.filterNot(_ == "item_id")
    RestWrites.mapHttp(df, "PATCH",
      r => s"$base/${r.getAs[String]("item_id")}/fields",
      Some(r => rowJson(r, cols)), a)
      .drop("response")
  }

  /** DELETE `/items/{id}` per row; the input must carry `item_id`. */
  def deleteListItems(spark: SparkSession, df: DataFrame, site: String, list: String,
                      baseUrl: String = DefaultBaseUrl,
                      secret: Option[String] = None): DataFrame = {
    val sid = resolveSiteId(spark, site, baseUrl, secret)
    val lid = resolveListId(spark, sid, list, baseUrl, secret)
    val base = s"${baseUrl.stripSuffix("/")}/sites/$sid/lists/$lid/items"
    val a = auth(spark, base, secret)
    RestWrites.mapHttp(df, "DELETE",
      r => s"$base/${r.getAs[String]("item_id")}", None, a)
      .drop("response")
  }

  private def rowJson(r: Row, cols: Seq[String]): String = {
    import graft.writes.JsonEncode
    cols.map(c => s"${JsonEncode.str(c)}:${JsonEncode.anyValue(r.getAs[Any](c))}")
      .mkString("{", ",", "}")
  }

  // ---- Outlook — graph_outlook_functions.cpp -------------------------------

  def calendars(spark: SparkSession, user: String = "",
                baseUrl: String = DefaultBaseUrl,
                secret: Option[String] = None): DataFrame =
    fixedRead(spark, s"${baseUrl.stripSuffix("/")}/${userSegment(user)}/calendars",
      "id STRING, name STRING, color STRING, isDefaultCalendar BOOLEAN, canEdit BOOLEAN",
      secret)
      .select(col("id"), col("name"), col("color"),
        col("isDefaultCalendar").as("is_default_calendar"),
        col("canEdit").as("can_edit"))

  /** Events; both dates present → date-bounded `/calendarView` (reference
    * README.md:938-993), else `/calendars/{id}/events` or `/events`. */
  def calendarEvents(spark: SparkSession, user: String = "",
                     calendarId: Option[String] = None,
                     startDate: Option[String] = None, endDate: Option[String] = None,
                     baseUrl: String = DefaultBaseUrl,
                     secret: Option[String] = None): DataFrame = {
    val seg = s"${baseUrl.stripSuffix("/")}/${userSegment(user)}"
    val url = (startDate, endDate) match {
      case (Some(s0), Some(e0)) =>
        s"$seg/calendarView?startDateTime=${normalizeCalendarViewDate(s0)}" +
          s"&endDateTime=${normalizeCalendarViewDate(e0)}"
      case _ => calendarId.map(c => s"$seg/calendars/$c/events").getOrElse(s"$seg/events")
    }
    fixedRead(spark, url,
      "id STRING, subject STRING, bodyPreview STRING, " +
        "start STRUCT<dateTime: STRING>, `end` STRUCT<dateTime: STRING>, " +
        "location STRUCT<displayName: STRING>, " +
        "organizer STRUCT<emailAddress: STRUCT<name: STRING, address: STRING>>, " +
        "isAllDay BOOLEAN, isCancelled BOOLEAN, webLink STRING", secret)
      .select(col("id"), col("subject"), col("bodyPreview").as("body_preview"),
        col("start.dateTime").as("start_time"), col("`end`.dateTime").as("end_time"),
        col("location.displayName").as("location"),
        col("organizer.emailAddress.name").as("organizer_name"),
        col("organizer.emailAddress.address").as("organizer_email"),
        col("isAllDay").as("is_all_day"), col("isCancelled").as("is_cancelled"),
        col("webLink").as("web_link"))
  }

  def contacts(spark: SparkSession, user: String = "",
               baseUrl: String = DefaultBaseUrl,
               secret: Option[String] = None): DataFrame =
    fixedRead(spark, s"${baseUrl.stripSuffix("/")}/${userSegment(user)}/contacts",
      "id STRING, displayName STRING, givenName STRING, surname STRING, " +
        "emailAddresses ARRAY<STRUCT<address: STRING, name: STRING>>, " +
        "mobilePhone STRING, businessPhones ARRAY<STRING>, " +
        "companyName STRING, jobTitle STRING", secret)
      .select(col("id"), col("displayName").as("display_name"),
        col("givenName").as("given_name"), col("surname"),
        try_element_at(col("emailAddresses"), lit(1)).getField("address").as("email"),
        col("mobilePhone").as("mobile_phone"),
        try_element_at(col("businessPhones"), lit(1)).as("business_phone"),
        col("companyName").as("company_name"), col("jobTitle").as("job_title"))

  def mailFolders(spark: SparkSession, user: String = "",
                  baseUrl: String = DefaultBaseUrl,
                  secret: Option[String] = None): DataFrame =
    fixedRead(spark, s"${baseUrl.stripSuffix("/")}/${userSegment(user)}/mailFolders",
      "id STRING, displayName STRING, parentFolderId STRING, " +
        "totalItemCount INT, unreadItemCount INT", secret)
      .select(col("id"), col("displayName").as("display_name"),
        col("parentFolderId").as("parent_folder_id"),
        col("totalItemCount").as("total_item_count"),
        col("unreadItemCount").as("unread_item_count"))

  /** Messages; `folder` scopes to `/mailFolders/{id}/messages`. `folder_name`
    * joins the folder listing (the reference pre-fetches the same map at
    * bind, `graph_outlook_functions.cpp:500-520`) — broadcast-sized. */
  def messages(spark: SparkSession, user: String = "", folder: Option[String] = None,
               baseUrl: String = DefaultBaseUrl,
               secret: Option[String] = None): DataFrame = {
    val seg = s"${baseUrl.stripSuffix("/")}/${userSegment(user)}"
    val url = folder.map(f => s"$seg/mailFolders/$f/messages").getOrElse(s"$seg/messages")
    val msgs = fixedRead(spark, url,
      "id STRING, subject STRING, bodyPreview STRING, " +
        "`from` STRUCT<emailAddress: STRUCT<name: STRING, address: STRING>>, " +
        "receivedDateTime STRING, hasAttachments BOOLEAN, isRead BOOLEAN, " +
        "importance STRING, webLink STRING, parentFolderId STRING", secret)
      .select(col("id"), col("subject"), col("bodyPreview").as("body_preview"),
        col("`from`.emailAddress.name").as("from_name"),
        col("`from`.emailAddress.address").as("from_email"),
        col("receivedDateTime").as("received_at"),
        col("hasAttachments").as("has_attachments"), col("isRead").as("is_read"),
        col("importance"), col("webLink").as("web_link"),
        col("parentFolderId").as("folder_id"))
    val folders = mailFolders(spark, user, baseUrl, secret)
      .select(col("id").as("folder_id"), col("display_name").as("folder_name"))
    msgs.join(broadcast(folders), Seq("folder_id"), "left")
      .select("id", "subject", "body_preview", "from_name", "from_email",
        "received_at", "has_attachments", "is_read", "importance", "web_link",
        "folder_id", "folder_name")
  }

  // ---- Teams — graph_teams_functions.cpp / _client.cpp ---------------------

  def myTeams(spark: SparkSession, user: String = "",
              baseUrl: String = DefaultBaseUrl,
              secret: Option[String] = None): DataFrame =
    fixedRead(spark, s"${baseUrl.stripSuffix("/")}/${userSegment(user)}/joinedTeams",
      "id STRING, displayName STRING, description STRING, visibility STRING, " +
        "webUrl STRING, isArchived BOOLEAN", secret)
      .select(col("id"), col("displayName").as("display_name"), col("description"),
        col("visibility"), col("webUrl").as("web_url"),
        col("isArchived").as("is_archived"))

  def teamChannels(spark: SparkSession, teamId: String,
                   baseUrl: String = DefaultBaseUrl,
                   secret: Option[String] = None): DataFrame =
    fixedRead(spark, s"${baseUrl.stripSuffix("/")}/teams/$teamId/channels",
      "id STRING, displayName STRING, description STRING, membershipType STRING, " +
        "createdDateTime STRING", secret)
      .select(col("id"), col("displayName").as("display_name"), col("description"),
        col("membershipType").as("membership_type"),
        col("createdDateTime").as("created_datetime"))

  /** `role` = first element of `roles`, default "member" (reference
    * `graph_teams_functions.cpp:266+`). */
  def teamMembers(spark: SparkSession, teamId: String,
                  baseUrl: String = DefaultBaseUrl,
                  secret: Option[String] = None): DataFrame =
    fixedRead(spark, s"${baseUrl.stripSuffix("/")}/teams/$teamId/members",
      "id STRING, userId STRING, displayName STRING, email STRING, roles ARRAY<STRING>",
      secret)
      .select(col("id"), col("userId").as("user_id"),
        col("displayName").as("display_name"), col("email"),
        coalesce(try_element_at(col("roles"), lit(1)), lit("member")).as("role"))

  def channelMessages(spark: SparkSession, teamId: String, channelId: String,
                      baseUrl: String = DefaultBaseUrl,
                      secret: Option[String] = None): DataFrame =
    fixedRead(spark,
      s"${baseUrl.stripSuffix("/")}/teams/$teamId/channels/$channelId/messages",
      "id STRING, createdDateTime STRING, " +
        "`from` STRUCT<user: STRUCT<displayName: STRING>>, " +
        "body STRUCT<content: STRING>, importance STRING, messageType STRING", secret)
      .select(col("id"), col("createdDateTime").as("created_datetime"),
        col("`from`.user.displayName").as("from_name"),
        col("body.content").as("body_content"), col("importance"),
        col("messageType").as("message_type"))

  // ---- Planner — graph_planner_functions.cpp / _client.cpp -----------------

  def plannerPlans(spark: SparkSession, groupId: String,
                   baseUrl: String = DefaultBaseUrl,
                   secret: Option[String] = None): DataFrame =
    fixedRead(spark, s"${baseUrl.stripSuffix("/")}/groups/$groupId/planner/plans",
      "id STRING, title STRING, owner STRING, createdDateTime STRING", secret)
      .select(col("id"), col("title"), col("owner").as("owner_group_id"),
        col("createdDateTime").as("created_at"))

  def plannerBuckets(spark: SparkSession, planId: String,
                     baseUrl: String = DefaultBaseUrl,
                     secret: Option[String] = None): DataFrame =
    fixedRead(spark, s"${baseUrl.stripSuffix("/")}/planner/plans/$planId/buckets",
      "id STRING, name STRING, planId STRING, orderHint STRING", secret)
      .select(col("id"), col("name"), col("planId").as("plan_id"),
        col("orderHint").as("order_hint"))

  def plannerTasks(spark: SparkSession, planId: String,
                   baseUrl: String = DefaultBaseUrl,
                   secret: Option[String] = None): DataFrame =
    fixedRead(spark, s"${baseUrl.stripSuffix("/")}/planner/plans/$planId/tasks",
      "id STRING, title STRING, bucketId STRING, planId STRING, " +
        "percentComplete INT, priority INT, dueDateTime STRING, " +
        "createdDateTime STRING, completedDateTime STRING", secret)
      .select(col("id"), col("title"), col("bucketId").as("bucket_id"),
        col("planId").as("plan_id"),
        col("percentComplete").as("percent_complete"), col("priority"),
        col("dueDateTime").as("due_date"),
        col("createdDateTime").as("created_at"),
        col("completedDateTime").as("completed_at"))

  /** Per-row task creation (reference `graph_planner_create_task`, a LATERAL
    * mutation returning (task_id, task_url)): the input carries `plan_id`,
    * `title` and optionally `bucket_id` / `due_date` columns. */
  def plannerCreateTasks(spark: SparkSession, df: DataFrame,
                         baseUrl: String = DefaultBaseUrl,
                         secret: Option[String] = None): DataFrame = {
    val url = s"${baseUrl.stripSuffix("/")}/planner/tasks"
    val a = auth(spark, url, secret)
    val hasBucket = df.schema.fieldNames.contains("bucket_id")
    val hasDue = df.schema.fieldNames.contains("due_date")
    RestWrites.mapHttp(df, "POST", _ => url, Some { r =>
      val parts = Seq.newBuilder[String]
      parts += s""""planId":"${r.getAs[String]("plan_id")}""""
      parts += s""""title":${graft.writes.JsonEncode.str(r.getAs[String]("title"))}"""
      if (hasBucket && r.getAs[String]("bucket_id") != null)
        parts += s""""bucketId":"${r.getAs[String]("bucket_id")}""""
      if (hasDue && r.getAs[String]("due_date") != null)
        parts += s""""dueDateTime":"${r.getAs[String]("due_date")}""""
      parts.result().mkString("{", ",", "}")
    }, a)
      .withColumn("task_id", get_json_object(col("response"), "$.id"))
      .withColumn("task_url",
        concat(lit("https://tasks.office.com/task/"), col("task_id")))
      .drop("response")
  }
}
