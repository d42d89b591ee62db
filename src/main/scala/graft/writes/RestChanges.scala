package graft.writes

import java.util
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsWrite, Table, TableCapability}
import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference}
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.types.{DataType, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import graft.sources.http.{HttpAuth, HttpCore}
import graft.sources.odata.ODataBatchTarget
import scala.collection.mutable

/** One task's changes to one REST collection — the single place a sink write
  * is sent and its answer checked (the reference sends each Graph/OData call
  * on its own from one write plan, `graph_sharepoint_catalog.cpp:791-851`).
  *
  * A change is `method` on `setUrl + path` with an optional JSON body.
  *
  * Status rule: every answer must be 2xx; anything else throws
  * [[graft.sources.http.HttpStatusError]] `<METHOD> <url> -> HTTP <status>:
  * <first 300 chars>` ([[HttpCore.checked]]).
  *
  * With a `batch` target the changes are buffered as sub-requests on
  * `batch.setPath + path` and sent through [[ODataJsonBatch.send]]:
  *  - when `batch.size` changes are buffered;
  *  - before a change whose `key` is already buffered, because one batch may
  *    run its sub-requests in any order;
  *  - at `commit()`.
  * `abort()` drops the buffer unsent.
  *
  * At-least-once: no change is transactional, so a failed task may leave
  * some of its changes applied and Spark's retry sends them again. Use an
  * idempotent key where the service offers one. */
class RestChanges(setUrl: String, auth: HttpAuth, batch: Option[ODataBatchTarget] = None) {
  private val buf = mutable.ArrayBuffer[ODataJsonBatch.SubRequest]()
  private val bufKeys = mutable.HashSet[String]()
  private var n = 0L

  /** Sends one change, or buffers it with a batch target. `key` (None: not
    * tracked) names the entity it changes. */
  def send(method: String, path: String, body: Option[String],
           key: Option[String] = None): Unit = {
    batch match {
      case Some(b) =>
        if (key.exists(bufKeys.contains)) flush()
        bufKeys ++= key
        buf += ((method, b.setPath + path, body))
        if (buf.size >= b.size) flush()
      case None =>
        HttpCore.shared.call(method, setUrl + path, body.map((_, "application/json")), auth = auth)
    }
    n += 1
  }

  private def flush(): Unit = if (buf.nonEmpty) {
    ODataJsonBatch.send(batch.get.url, buf.toSeq, auth)
    buf.clear()
    bufKeys.clear()
  }

  def commit(): WriterCommitMessage = { flush(); RestWriteCommit(n) }
  def abort(): Unit = { buf.clear(); bufKeys.clear() }
  def close(): Unit = ()
}

/** A task's count of sent changes. */
final case class RestWriteCommit(changes: Long) extends WriterCommitMessage

/** The one `WriteBuilder → Write → BatchWrite` shell: hands out `factory`.
  * Each change stands alone, so the job commits and aborts nothing. */
final class RestBatchWrite(factory: => DataWriterFactory)
  extends WriteBuilder with Write with BatchWrite {
  override def build(): Write = this
  override def toBatch: BatchWrite = this
  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory = factory
  override def commit(messages: Array[WriterCommitMessage]): Unit = ()
  override def abort(messages: Array[WriterCommitMessage]): Unit = ()
}

/** [[RestBatchWrite]] for delta writes (UPDATE, DELETE, MERGE). */
final class RestDeltaBatchWrite(factory: => DeltaWriterFactory)
  extends DeltaWriteBuilder with DeltaWrite with DeltaBatchWrite {
  override def build(): DeltaWrite = this
  override def toBatch: DeltaBatchWrite = this
  override def createBatchWriterFactory(info: PhysicalWriteInfo): DeltaWriterFactory = factory
  override def commit(messages: Array[WriterCommitMessage]): Unit = ()
  override def abort(messages: Array[WriterCommitMessage]): Unit = ()
}

/** The one write-only table: the `df.write.format(...)` sinks. */
final class RestSinkTable(tableName: String, tableSchema: StructType,
                          factory: LogicalWriteInfo => DataWriterFactory)
  extends Table with SupportsWrite {
  override def name(): String = tableName
  override def schema(): StructType = tableSchema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_WRITE, TableCapability.TRUNCATE)
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new RestBatchWrite(factory(info))
}

/** INSERT and append: one POST of `body(row, schema)` to `url` per row. */
final class RestInsertWriterFactory(url: String, schema: StructType, auth: HttpAuth,
                                    batch: Option[ODataBatchTarget],
                                    body: (InternalRow, StructType) => String)
  extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new RestChanges(url, auth, batch) with DataWriter[InternalRow] {
      override def write(row: InternalRow): Unit = send("POST", "", Some(body(row, schema)))
    }
}

/** One service's delta writes, keyed by the row id column `key` of type
  * `keyType`. Paths are appended to the collection URL. */
trait DeltaShape extends Serializable {
  def key: String
  def keyType: DataType
  /** A key value as it appears in a path. */
  def literal(v: Any): String
  /** The entity of a key literal: the DELETE path. */
  def entityPath(lit: String): String
  def patchPath(lit: String): String = entityPath(lit)
  def body(row: InternalRow, schema: StructType): String
  def insertBody(row: InternalRow, schema: StructType): String = body(row, schema)
}

/** UPDATE, DELETE and MERGE: PATCH, DELETE or POST one change per changed
  * row, keyed by its id literal. */
final class RestDeltaWriterFactory(setUrl: String, shape: DeltaShape, rowSchema: StructType,
                                   auth: HttpAuth, batch: Option[ODataBatchTarget])
  extends DeltaWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DeltaWriter[InternalRow] =
    new RestChanges(setUrl, auth, batch) with DeltaWriter[InternalRow] {
      private def lit(row: InternalRow, i: Int): Option[String] =
        Option(row.get(i, shape.keyType)).map(shape.literal)
      // the id row carries exactly the rowId projection (one column)
      override def update(metadata: InternalRow, id: InternalRow, row: InternalRow): Unit = {
        val l = lit(id, 0).get
        send("PATCH", shape.patchPath(l), Some(shape.body(row, rowSchema)), Some(l))
      }
      override def delete(metadata: InternalRow, id: InternalRow): Unit = {
        val l = lit(id, 0).get
        send("DELETE", shape.entityPath(l), None, Some(l))
      }
      // a null key leaves the key to the server and is not tracked
      override def insert(row: InternalRow): Unit =
        send("POST", "", Some(shape.insertBody(row, rowSchema)),
          lit(row, rowSchema.fieldIndex(shape.key)))
    }
}

/** A delta-based row-level operation keyed by `shape.key`: Spark scans the
  * current rows with `scan`, computes the delta, and
  * [[RestDeltaWriterFactory]] sends it. */
final class RestRowLevelOperation(cmd: RowLevelOperation.Command, scan: () => ScanBuilder,
                                  setUrl: String, shape: DeltaShape, auth: HttpAuth,
                                  batch: Option[ODataBatchTarget])
  extends SupportsDelta {
  override def command(): RowLevelOperation.Command = cmd
  override def rowId(): Array[NamedReference] = Array(Expressions.column(shape.key))
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = scan()
  override def newWriteBuilder(info: LogicalWriteInfo): DeltaWriteBuilder =
    new RestDeltaBatchWrite(
      new RestDeltaWriterFactory(setUrl, shape, info.schema(), auth, batch))
}
