package graft.sources.services

import java.util
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String
import graft.sources.http.{HttpAuth, SecretRegistry}
import graft.sources.odata.ODataPages
import graft.writes.{RestBatchWrite, RestChanges}
import scala.jdk.CollectionConverters._

/** Excel workbook as a Spark catalog — the port of the reference's
  * `ATTACH (TYPE excel_workbook)` storage extension
  * (`graph_excel_catalog.cpp`): every named table of the workbook is a
  * catalog table; reads page `/rows` and flatten the values matrices;
  * `INSERT INTO` appends via `rows/add` (reference PlanInsert,
  * `graph_excel_catalog.cpp:511`); UPDATE/DELETE are unsupported exactly like
  * the reference (`:540-545`).
  *
  * {{{
  * spark.conf: spark.sql.catalog.wb     = graft.sources.services.ExcelWorkbookCatalog
  *             spark.sql.catalog.wb.url = <graph item url, e.g. .../me/drive/root:/Book.xlsx:>
  * SELECT * FROM wb.main.Sales;  INSERT INTO wb.main.Sales VALUES (...);
  * }}}
  */
class ExcelWorkbookCatalog extends TableCatalog with SupportsNamespaces {

  private var catalogName: String = _
  private var options: Map[String, String] = Map.empty
  private def itemUrl: String = options.getOrElse("url",
    throw new IllegalArgumentException("excel_workbook catalog requires option 'url'"))
  private def auth: HttpAuth = SecretRegistry.authFrom(options, itemUrl)

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
    Map("workbook" -> itemUrl).asJava
  }
  override def createNamespace(namespace: Array[String], metadata: util.Map[String, String]): Unit =
    throw new UnsupportedOperationException("excel workbook namespaces are fixed")
  override def alterNamespace(namespace: Array[String], changes: NamespaceChange*): Unit =
    throw new UnsupportedOperationException("excel workbook namespaces are fixed")
  override def dropNamespace(namespace: Array[String], cascade: Boolean): Boolean =
    throw new UnsupportedOperationException("excel workbook namespaces are fixed")

  private def tableNames: Seq[String] =
    ODataPages.walk(s"$itemUrl/workbook/tables", auth).flatMap(_.rows)
      .flatMap(n => Option(n.get("name")).map(_.asText)).toSeq

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    if (!namespaceExists(namespace))
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchNamespaceException(namespace)
    tableNames.map(t => Identifier.of(Array("main"), t)).toArray
  }

  override def tableExists(ident: Identifier): Boolean =
    namespaceExists(ident.namespace) && tableNames.contains(ident.name)

  override def loadTable(ident: Identifier): Table = {
    if (!tableExists(ident))
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchTableException(ident)
    val cols = Excel.tableColumnNames(itemUrl, ident.name, auth)
    new ExcelNamedTable(itemUrl, ident.name,
      StructType(cols.map(StructField(_, StringType))), auth)
  }

  override def createTable(ident: Identifier, schema: StructType,
                           partitions: Array[Transform],
                           properties: util.Map[String, String]): Table =
    throw new UnsupportedOperationException("create a table in Excel first")
  override def alterTable(ident: Identifier, changes: TableChange*): Table =
    throw new UnsupportedOperationException("excel tables cannot be altered here")
  override def dropTable(ident: Identifier): Boolean =
    throw new UnsupportedOperationException("excel tables cannot be dropped here")
  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit =
    throw new UnsupportedOperationException("excel tables cannot be renamed here")
}

/** One named table: readable (paged rows flattened to strings) + appendable. */
class ExcelNamedTable(itemUrl: String, table: String, tableSchema: StructType,
                      auth: HttpAuth)
  extends Table with SupportsRead with SupportsWrite {

  override def name(): String = s"$itemUrl#$table"
  override def schema(): StructType = tableSchema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE)

  override def newScanBuilder(opts: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder with SupportsPushDownRequiredColumns {
      private var required = tableSchema
      override def pruneColumns(requiredSchema: StructType): Unit =
        required = requiredSchema
      override def build(): Scan = new ExcelRowsScan(
        s"$itemUrl/workbook/tables/$table/rows", tableSchema, required, auth)
    }

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new RestBatchWrite(new ExcelRowsWriterFactory(itemUrl, table, info.schema(), auth))
}

final case class ExcelRowsPartition(url: String) extends InputPartition

/** Single-partition paged scan of `/rows`, projecting the requested columns
  * out of each values matrix (a workbook table is interactive-scale data —
  * the paging, not partitioning, is what matters). */
class ExcelRowsScan(rowsUrl: String, fullSchema: StructType,
                    required: StructType, auth: HttpAuth)
  extends Scan with Batch {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String = s"excel rows $rowsUrl"
  override def planInputPartitions(): Array[InputPartition] =
    Array(ExcelRowsPartition(rowsUrl))
  override def createReaderFactory(): PartitionReaderFactory = {
    val indexes = required.fieldNames.map(fullSchema.fieldIndex)
    val (b, u, p) = (auth.bearer, auth.basicUser, auth.basicPassword)
    new PartitionReaderFactory {
      override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
        new PartitionReader[InternalRow] {
          private val rows = ODataPages.walk(
            partition.asInstanceOf[ExcelRowsPartition].url, HttpAuth(b, u, p))
            .flatMap(_.rows).map { item =>
              val vals = item.get("values")
              val row = if (vals != null && vals.isArray && vals.size() > 0) vals.get(0) else null
              InternalRow.fromSeq(indexes.toSeq.map { i =>
                if (row == null || i >= row.size() || row.get(i).isNull) null
                else UTF8String.fromString(row.get(i).asText)
              })
            }
          private var current: InternalRow = _
          override def next(): Boolean =
            if (rows.hasNext) { current = rows.next(); true } else false
          override def get(): InternalRow = current
          override def close(): Unit = ()
        }
    }
  }
}

/** Appends rows through `rows/add`, one POST per 100 buffered rows (the
  * Graph API takes many rows per call; reference PlanInsert is per-row,
  * batching exceeds it). */
class ExcelRowsWriterFactory(itemUrl: String, table: String,
                             schema: StructType, auth: HttpAuth)
  extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new RestChanges(s"$itemUrl/workbook/tables/$table/rows", auth) with DataWriter[InternalRow] {
      private val buf = scala.collection.mutable.ArrayBuffer[Seq[String]]()
      override def write(record: InternalRow): Unit = {
        buf += schema.fields.indices.map { i =>
          if (record.isNullAt(i)) null
          else record.get(i, schema.fields(i).dataType).toString
        }
        if (buf.size == 100) flushRows()
      }
      private def flushRows(): Unit = if (buf.nonEmpty) {
        send("POST", "/add", Some(Excel.valuesBody(buf.toSeq)))
        buf.clear()
      }
      override def commit(): WriterCommitMessage = {
        flushRows()
        super.commit()
      }
    }
}
