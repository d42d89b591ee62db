package graft.sources.services

import java.util
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types.{DataType, StringType, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import graft.sources.http.{HttpAuth, SecretRegistry}
import graft.sources.odata.{ODataConf, ODataPages, ODataScanBuilder}
import graft.writes.{DeltaShape, JsonEncode, RestBatchWrite, RestInsertWriterFactory, RestRowLevelOperation}
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
  /** Every request of this catalog — site, list and column resolution,
    * listing, reads and writes — carries these credentials. */
  private def auth: HttpAuth = SecretRegistry.authFrom(options, graphBase)
  private lazy val siteId: String = Graph.resolveSiteId(
    options.getOrElse("site",
      throw new IllegalArgumentException("sharepoint_lists catalog requires option 'site'")),
    graphBase, auth)

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

  /** List id and item schema per table name, resolved once per catalog like
    * [[siteId]]: a statement after the first sends no `/lists` walk and no
    * `/columns` GET. `REFRESH TABLE` ([[invalidateTable]]) resolves again. */
  private val resolved = new java.util.concurrent.ConcurrentHashMap[String, (String, StructType)]()

  override def loadTable(ident: Identifier): Table = {
    val a = auth
    val (lid, schema) = resolved.computeIfAbsent(ident.name, { name =>
      val lid = Graph.resolveListId(siteId, name, graphBase, a)
      (lid, Graph.listItemsSchema(siteId, lid, graphBase, a))
    })
    new SharePointListTable(graphBase.stripSuffix("/"), siteId, lid, ident.name, schema, a)
  }

  override def invalidateTable(ident: Identifier): Unit = resolved.remove(ident.name)

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
    new RestBatchWrite(new RestInsertWriterFactory(itemsUrl, info.schema(), auth, None,
      SharePointItems.insertBody))

  /** UPDATE/DELETE/MERGE keyed by the Graph item id (reference PlanUpdate /
    * PlanDelete, `:844/:820`). */
  override def newRowLevelOperationBuilder(info: RowLevelOperationInfo): RowLevelOperationBuilder =
    () => new RestRowLevelOperation(info.command(),
      () => new ODataScanBuilder(scanConf, tableSchema), itemsUrl, SharePointItems, auth, None)
}

/** List items keyed by the Graph item id: PATCH `/{id}/fields` with the
  * field columns, DELETE `/{id}`, POST `{"fields": {...}}`. */
object SharePointItems extends DeltaShape {
  // DELETE ships no data columns, so the id type cannot come from the rows
  override def key: String = "id"
  override def keyType: DataType = StringType
  override def literal(v: Any): String = v.toString
  override def entityPath(id: String): String = s"/$id"
  override def patchPath(id: String): String = s"/$id/fields"

  /** Field columns of a row as a JSON object, skipping the `id` system
    * column (item ids are server-assigned; PATCHing them is rejected). */
  override def body(row: InternalRow, schema: StructType): String =
    schema.fields.zipWithIndex.filterNot(_._1.name == "id").map { case (f, i) =>
      s"${JsonEncode.str(f.name)}:${JsonEncode.value(row, i, f.dataType)}"
    }.mkString("{", ",", "}")
  override def insertBody(row: InternalRow, schema: StructType): String =
    s"""{"fields":${body(row, schema)}}"""
}
