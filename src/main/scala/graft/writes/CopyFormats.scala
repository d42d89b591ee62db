package graft.writes

import java.util
import org.apache.spark.sql.connector.catalog.{Table, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import graft.sources.http.SecretRegistry
import graft.sources.services.{Excel, ExcelRowsWriterFactory, Graph, SharePointItems}
import scala.jdk.CollectionConverters._

/** The reference's `COPY ... TO (FORMAT ...)` sinks as Spark write formats
  * (SURVEY.md §2.3; `graph_sharepoint_copy.cpp:169-175`,
  * `graph_excel_copy.cpp:209-215`):
  *
  * {{{
  * df.write.format("sharepoint-list")
  *   .option("site", "Marketing").option("list", "Budget")
  *   .mode("append").save()                    // POST {"fields": {...}} per row
  * df.write.format("graph-excel")
  *   .option("path", "Book.xlsx").option("table", "Sales")
  *   .mode("append").save()                    // chunked POST rows/add
  * }}}
  *
  * Site/list/workbook resolution happens once, driver-side, at write planning
  * (the reference's copy `bind` phase); executors then stream their
  * partitions through the same `DataWriterFactory`s the ATTACH catalogs use
  * (`SharePointListsCatalog` / `ExcelWorkbookCatalog`), so commit semantics
  * are identical: at-least-once per-row/per-chunk POSTs, no transaction —
  * exactly the reference's per-call Graph API behavior.
  */
abstract class RestCopySink extends TableProvider with DataSourceRegister {
  override def supportsExternalMetadata(): Boolean = true
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    new StructType() // write-only: schema comes from the DataFrame
}

final class SharePointListSink extends RestCopySink {
  override def shortName(): String = "sharepoint-list"
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table = {
    val opts = properties.asScala.toMap.map { case (k, v) => k.toLowerCase -> v }
    val base = opts.getOrElse("url", Graph.DefaultBaseUrl).stripSuffix("/")
    val site = opts.getOrElse("site",
      throw new IllegalArgumentException("sharepoint-list sink requires option 'site'"))
    val list = opts.getOrElse("list",
      throw new IllegalArgumentException("sharepoint-list sink requires option 'list'"))
    val auth = SecretRegistry.authFrom(opts, base)
    val sid = Graph.resolveSiteId(site, base, auth)
    val lid = Graph.resolveListId(sid, list, base, auth)
    new RestSinkTable(s"sharepoint-list($site/$list)", schema,
      info => new RestInsertWriterFactory(s"$base/sites/$sid/lists/$lid/items",
        info.schema(), auth, None, SharePointItems.insertBody))
  }
}

final class GraphExcelSink extends RestCopySink {
  override def shortName(): String = "graph-excel"
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table = {
    val opts = properties.asScala.toMap.map { case (k, v) => k.toLowerCase -> v }
    val base = opts.getOrElse("url", Graph.DefaultBaseUrl).stripSuffix("/")
    val table = opts.getOrElse("table",
      throw new IllegalArgumentException("graph-excel sink requires option 'table'"))
    // either a full workbook item URL, or a drive path (+ optional driveid)
    val itemUrl = opts.get("itemurl").getOrElse {
      val path = opts.getOrElse("path",
        throw new IllegalArgumentException("graph-excel sink requires option 'path' or 'itemurl'"))
      Excel.itemUrl(base, path, opts.get("driveid"))
    }
    val auth = SecretRegistry.authFrom(opts, base)
    new RestSinkTable(s"graph-excel($itemUrl/$table)", schema,
      info => new ExcelRowsWriterFactory(itemUrl, table, info.schema(), auth))
  }
}
