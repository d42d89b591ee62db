package graft.sources.services

import java.util
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types.{DataType, StringType, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import graft.sources.AttachedCatalog
import graft.sources.http.{HttpAuth, SecretRegistry}
import graft.sources.odata.{ODataConf, ODataJson, ODataPages, ODataScanBuilder}
import graft.writes.{DeltaShape, JsonEncode, RestBatchWrite, RestInsertWriterFactory, RestRowLevelOperation}

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
class SharePointListsCatalog extends AttachedCatalog("sharepoint_lists") {

  private def graphBase: String = options.getOrElse("url", Graph.DefaultBaseUrl)
  /** Every request of this catalog — site, list and column resolution,
    * listing, reads and writes — carries these credentials. */
  private def auth: HttpAuth = SecretRegistry.authFrom(options, graphBase)
  private lazy val siteId: String =
    Graph.resolveSiteId(required("site", "site name, web URL or site id"), graphBase, auth)

  override protected def namespaceMetadata: (String, String) = "site" -> siteId

  private def lists(): Seq[(String, String, String)] = // (id, name, displayName)
    ODataPages.walk(s"${graphBase.stripSuffix("/")}/sites/$siteId/lists", auth, ODataJson.tree)
      .flatMap(_.page.rows).map { n =>
        def s(k: String) = Option(n.get(k)).filterNot(_.isNull).map(_.asText).getOrElse("")
        (s("id"), s("name"), s("displayName"))
      }.toSeq

  /** Lists by display name, else by internal name. */
  override protected def tableNames: Seq[String] =
    lists().map { case (_, name, display) => if (display.nonEmpty) display else name }

  /** A list by display name, internal name or id, as the reference's
    * `ResolveListId` finds it: one `/lists` walk, then its item schema from
    * one `/columns` walk. */
  override protected def load(name: String): Table = {
    val a = auth
    val lid = lists().collectFirst { case (id, n, d) if Seq(id, n, d).contains(name) => id }
      .getOrElse(noSuchTable(name))
    new SharePointListTable(graphBase.stripSuffix("/"), siteId, lid, name,
      Graph.listItemsSchema(siteId, lid, graphBase, a), a)
  }
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
