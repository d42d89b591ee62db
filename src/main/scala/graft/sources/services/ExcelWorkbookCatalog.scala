package graft.sources.services

import java.util
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String
import graft.sources.AttachedCatalog
import graft.sources.http.{HttpAuth, SecretRegistry}
import graft.sources.odata.{ODataJson, ODataPages}
import graft.writes.{RestBatchWrite, RestChanges}

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
class ExcelWorkbookCatalog extends AttachedCatalog("excel_workbook") {

  private def itemUrl: String = required("url", "Graph drive item URL of the workbook")
  private def auth: HttpAuth = SecretRegistry.authFrom(options, itemUrl)

  override protected def namespaceMetadata: (String, String) = "workbook" -> itemUrl

  override protected def tableNames: Seq[String] =
    ODataPages.walk(s"$itemUrl/workbook/tables", auth, ODataJson.tree).flatMap(_.page.rows)
      .flatMap(n => Option(n.get("name")).map(_.asText)).toSeq

  override protected def load(name: String): Table = {
    if (!tableNames.contains(name)) noSuchTable(name)
    val cols = Excel.tableColumnNames(itemUrl, name, auth)
    new ExcelNamedTable(itemUrl, name, StructType(cols.map(StructField(_, StringType))), auth)
  }
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
    // locals only: the factory must not capture the scan
    val (indexes, a) = (required.fieldNames.map(fullSchema.fieldIndex), auth)
    new PartitionReaderFactory {
      override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
        new PartitionReader[InternalRow] {
          private val rows = ODataPages.walk(
            partition.asInstanceOf[ExcelRowsPartition].url, a, ODataJson.tree)
            .flatMap(_.page.rows).map { item =>
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
