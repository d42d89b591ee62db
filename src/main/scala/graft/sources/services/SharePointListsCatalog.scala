package graft.sources.services

import java.util
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import graft.sources.http.{HttpAuth, HttpCore}
import graft.sources.odata.{ODataConf, ODataPages, ODataScanBuilder}
import scala.jdk.CollectionConverters._

/** A SharePoint site's lists as a read-WRITE Spark catalog — the port of the
  * reference's flagship `ATTACH (TYPE sharepoint_lists)` storage extension
  * (`graph_sharepoint_catalog.cpp`: lazy list loading, facet-typed columns,
  * `PlanInsert`/`PlanDelete`/`PlanUpdate` at `:791/:820/:844`, projection-only
  * pushdown at `:682`).
  *
  * {{{
  * spark.conf: spark.sql.catalog.sp      = graft.sources.services.SharePointListsCatalog
  *             spark.sql.catalog.sp.url  = <graph base, e.g. https://graph.microsoft.com/v1.0>
  *             spark.sql.catalog.sp.site = <site name | web URL | site id>
  * SELECT * FROM sp.main.`Budget List` WHERE Amount > 3;
  * INSERT INTO sp.main.Budget VALUES (...);   -- POST items {"fields": {...}}
  * UPDATE sp.main.Budget SET Amount = 9 WHERE id = '3';  -- PATCH items/3/fields
  * DELETE FROM sp.main.Budget WHERE id = '5';            -- DELETE items/5
  * }}}
  *
  * Reads run through the shared fixed-schema DSv2 scan (`fields` unwrap,
  * column pruning); filters stay residual because the Graph items endpoint
  * cannot evaluate field predicates — exactly the reference's projection-only
  * choice. Mutations are delta-based row-level operations keyed by the item
  * id, the 1:1 REST mapping.
  */
class SharePointListsCatalog extends TableCatalog with SupportsNamespaces {

  private var catalogName: String = _
  private var options: Map[String, String] = Map.empty
  private def graphBase: String = options.getOrElse("url", Graph.DefaultBaseUrl)
  private def auth: HttpAuth = HttpAuth(
    options.get("bearertoken"), options.get("user"), options.get("password"))
  private lazy val siteId: String = Graph.resolveSiteId(
    SparkSession.active,
    options.getOrElse("site",
      throw new IllegalArgumentException("sharepoint_lists catalog requires option 'site'")),
    graphBase, options.get("secret"))

  override def initialize(name: String, opts: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    options = opts.asScala.toMap.map { case (k, v) => k.toLowerCase -> v }
  }
  override def name(): String = catalogName

  override def listNamespaces(): Array[Array[String]] = Array(Array("main"))
  override def listNamespaces(namespace: Array[String]): Array[Array[String]] =
    if (namespace.isEmpty) listNamespaces() else Array.empty
  override def namespaceExists(namespace: Array[String]): Boolean =
    namespace.sameElements(Array("main"))
  override def loadNamespaceMetadata(namespace: Array[String]): util.Map[String, String] = {
    if (!namespaceExists(namespace))
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchNamespaceException(namespace)
    Map("site" -> siteId).asJava
  }
  override def createNamespace(namespace: Array[String], metadata: util.Map[String, String]): Unit =
    throw new UnsupportedOperationException("sharepoint namespaces are fixed")
  override def alterNamespace(namespace: Array[String], changes: NamespaceChange*): Unit =
    throw new UnsupportedOperationException("sharepoint namespaces are fixed")
  override def dropNamespace(namespace: Array[String], cascade: Boolean): Boolean =
    throw new UnsupportedOperationException("sharepoint namespaces are fixed")

  private def lists(): Seq[(String, String, String)] = // (id, name, displayName)
    ODataPages.walk(s"${graphBase.stripSuffix("/")}/sites/$siteId/lists", auth)
      .flatMap(_.rows).map { n =>
        def s(k: String) = Option(n.get(k)).filterNot(_.isNull).map(_.asText).getOrElse("")
        (s("id"), s("name"), s("displayName"))
      }.toSeq

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    if (!namespaceExists(namespace))
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchNamespaceException(namespace)
    lists().map(l => Identifier.of(Array("main"),
      if (l._3.nonEmpty) l._3 else l._2)).toArray
  }

  override def tableExists(ident: Identifier): Boolean =
    namespaceExists(ident.namespace) &&
      lists().exists(l => l._2 == ident.name || l._3 == ident.name)

  override def loadTable(ident: Identifier): Table = {
    val spark = SparkSession.active
    val lid = Graph.resolveListId(spark, siteId, ident.name, graphBase, options.get("secret"))
    val schema = Graph.listItemsSchema(spark, siteId, lid, graphBase, options.get("secret"))
    new SharePointListTable(graphBase.stripSuffix("/"), siteId, lid, ident.name,
      schema, auth)
  }

  override def createTable(ident: Identifier, schema: StructType,
                           partitions: Array[Transform],
                           properties: util.Map[String, String]): Table =
    throw new UnsupportedOperationException("create lists in SharePoint first")
  override def alterTable(ident: Identifier, changes: TableChange*): Table =
    throw new UnsupportedOperationException("sharepoint lists cannot be altered here")
  override def dropTable(ident: Identifier): Boolean =
    throw new UnsupportedOperationException("sharepoint lists cannot be dropped here")
  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit =
    throw new UnsupportedOperationException("sharepoint lists cannot be renamed here")
}

/** One list: facet-typed read scan + append + delta-based UPDATE/DELETE. */
class SharePointListTable(graphBase: String, siteId: String, listId: String,
                          listName: String, tableSchema: StructType, auth: HttpAuth)
  extends Table with SupportsRead
  with SupportsWrite
  with SupportsRowLevelOperations {

  private def itemsUrl = s"$graphBase/sites/$siteId/lists/$listId/items"

  private def scanConf = ODataConf(
    url = s"$itemsUrl?expand=fields",
    schemaDdl = Some(tableSchema.toDDL),
    unwrap = Some("fields"),
    filterPushdown = false, // reference: projection-only (`:682`)
    bearer = auth.bearer, user = auth.basicUser, password = auth.basicPassword)

  override def name(): String = s"sharepoint:$siteId/$listName"
  override def schema(): StructType = tableSchema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE)

  override def newScanBuilder(opts: CaseInsensitiveStringMap): ScanBuilder =
    new ODataScanBuilder(scanConf, tableSchema)

  /** INSERT INTO → POST one `{"fields": {...}}` per row (reference
    * PlanInsert, `graph_sharepoint_catalog.cpp:791`). */
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder {
      override def build(): Write = new Write {
        override def toBatch: BatchWrite = new BatchWrite {
          override def createBatchWriterFactory(p: PhysicalWriteInfo): DataWriterFactory =
            new SharePointItemsWriterFactory(itemsUrl, info.schema(), auth)
          override def commit(messages: Array[WriterCommitMessage]): Unit = ()
          override def abort(messages: Array[WriterCommitMessage]): Unit = ()
        }
      }
    }

  /** UPDATE/DELETE/MERGE keyed by the Graph item id (reference PlanUpdate /
    * PlanDelete, `:844/:820`). */
  override def newRowLevelOperationBuilder(info: RowLevelOperationInfo): RowLevelOperationBuilder =
    () => new RowLevelOperation with SupportsDelta {
      override def command(): RowLevelOperation.Command = info.command()
      override def rowId(): Array[org.apache.spark.sql.connector.expressions.NamedReference] =
        Array(org.apache.spark.sql.connector.expressions.Expressions.column("id"))
      override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
        new ODataScanBuilder(scanConf, tableSchema)
      override def newWriteBuilder(info2: LogicalWriteInfo): DeltaWriteBuilder =
        new DeltaWriteBuilder {
          override def build(): DeltaWrite = new DeltaWrite {
            override def toBatch: DeltaBatchWrite = new DeltaBatchWrite {
              override def createBatchWriterFactory(p: PhysicalWriteInfo): DeltaWriterFactory =
                new SharePointDeltaWriterFactory(itemsUrl, info2.schema(), auth)
              override def commit(messages: Array[WriterCommitMessage]): Unit = ()
              override def abort(messages: Array[WriterCommitMessage]): Unit = ()
            }
          }
        }
    }
}

private object SharePointJson {
  /** Field columns of a row as a JSON object, skipping the `id` system
    * column (item ids are server-assigned; PATCHing them is rejected). */
  def fieldsJson(row: InternalRow, schema: StructType): String = {
    import graft.writes.JsonEncode
    val fields = schema.fields.zipWithIndex.filterNot(_._1.name == "id")
    fields.map { case (f, i) =>
      s"${JsonEncode.str(f.name)}:${JsonEncode.value(row, i, f.dataType)}"
    }.mkString("{", ",", "}")
  }
}

class SharePointItemsWriterFactory(itemsUrl: String, schema: StructType, auth: HttpAuth)
  extends DataWriterFactory {
  private val (b, u, p) = (auth.bearer, auth.basicUser, auth.basicPassword)
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new DataWriter[InternalRow] {
      @transient private lazy val http = HttpCore.shared
      private val a = HttpAuth(b, u, p)
      private var n = 0L
      override def write(record: InternalRow): Unit = {
        val body = s"""{"fields":${SharePointJson.fieldsJson(record, schema)}}"""
        val resp = http.request("POST", itemsUrl, Some((body, "application/json")), auth = a)
        if (resp.status >= 300)
          throw new RuntimeException(s"POST $itemsUrl -> HTTP ${resp.status}: ${resp.text.take(200)}")
        n += 1
      }
      override def commit(): WriterCommitMessage = graft.writes.RestWriteCommit(n)
      override def abort(): Unit = ()
      override def close(): Unit = ()
    }
}

class SharePointDeltaWriterFactory(itemsUrl: String, rowSchema: StructType, auth: HttpAuth)
  extends DeltaWriterFactory {
  private val (b, u, p) = (auth.bearer, auth.basicUser, auth.basicPassword)
  override def createWriter(partitionId: Int, taskId: Long): DeltaWriter[InternalRow] =
    new DeltaWriter[InternalRow] {
      @transient private lazy val http = HttpCore.shared
      private val a = HttpAuth(b, u, p)
      private var n = 0L
      // the delta rowId projection is always the single `id` string column;
      // DELETE ships no data columns, so rowSchema cannot be consulted here
      private def itemId(id: InternalRow): String =
        id.getUTF8String(0).toString
      private def send(method: String, url: String, body: Option[String]): Unit = {
        val resp = http.request(method, url, body.map((_, "application/json")), auth = a)
        if (resp.status >= 300)
          throw new RuntimeException(s"$method $url -> HTTP ${resp.status}: ${resp.text.take(200)}")
        n += 1
      }
      override def update(metadata: InternalRow, id: InternalRow, row: InternalRow): Unit =
        send("PATCH", s"$itemsUrl/${itemId(id)}/fields",
          Some(SharePointJson.fieldsJson(row, rowSchema)))
      override def delete(metadata: InternalRow, id: InternalRow): Unit =
        send("DELETE", s"$itemsUrl/${itemId(id)}", None)
      override def insert(row: InternalRow): Unit =
        send("POST", itemsUrl,
          Some(s"""{"fields":${SharePointJson.fieldsJson(row, rowSchema)}}"""))
      override def commit(): WriterCommitMessage = graft.writes.RestWriteCommit(n)
      override def abort(): Unit = ()
      override def close(): Unit = ()
    }
}
