package graft.writes

import java.util
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.connector.catalog.{SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.{StringType, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import graft.sources.http.{HttpAuth, HttpCore}
import scala.jdk.CollectionConverters._

/** REST sinks — the port of the reference's write paths (SURVEY.md §2.3):
  * `COPY TO (FORMAT graph_excel_table / graph_sharepoint_list)` and catalog
  * `INSERT INTO` both reduce to "POST one JSON object per row to an items
  * endpoint" (`graph_excel_copy.cpp:209-215`,
  * `graph_sharepoint_catalog.cpp:791`). Spark-first shape: a DSv2
  * `SupportsWrite` table with a `DataWriterFactory` — executors each hold
  * one HTTP client and stream their partition's rows as POSTs.
  *
  * {{{
  * df.write.format("rest-items").option("url", itemsEndpoint).mode("append").save()
  * }}}
  *
  * Commit semantics: per-row POSTs are not transactional (neither are the
  * reference's — each Graph API call stands alone); a failed task may leave
  * partial rows, and Spark's retry re-POSTs them — document as at-least-once,
  * use an idempotency key column when the service supports one.
  */
class RestItemsSink extends TableProvider with DataSourceRegister {
  override def shortName(): String = "rest-items"
  override def supportsExternalMetadata(): Boolean = true
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    new StructType() // write-only: schema comes from the DataFrame
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table =
    new RestItemsTable(schema, properties.asScala.toMap)
}

class RestItemsTable(schema: StructType, options: Map[String, String])
  extends Table with SupportsWrite {
  override def name(): String = s"rest-items(${options.getOrElse("url", "?")})"
  override def schema(): StructType = schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_WRITE, TableCapability.TRUNCATE)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder {
      override def build(): Write = new Write {
        override def toBatch: BatchWrite = new RestItemsBatchWrite(
          info.schema(), options)
      }
    }
}

class RestItemsBatchWrite(schema: StructType, options: Map[String, String])
  extends BatchWrite {
  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory = {
    val o = options.map { case (k, v) => k.toLowerCase -> v }
    new RestItemsWriterFactory(schema,
      o.getOrElse("url", throw new IllegalArgumentException("rest-items needs option url")),
      o.get("bearertoken"), o.get("user"), o.get("password"),
      o.get("batchurl"), o.getOrElse("batchsize", "1").toInt,
      o.get("batchsuburl"))
  }
  override def commit(messages: Array[WriterCommitMessage]): Unit = ()
  override def abort(messages: Array[WriterCommitMessage]): Unit = ()
}

final case class RestWriteCommit(rows: Long) extends WriterCommitMessage

class RestItemsWriterFactory(schema: StructType, url: String,
                             bearer: Option[String], user: Option[String],
                             password: Option[String],
                             batchUrl: Option[String] = None,
                             batchSize: Int = 1,
                             batchSubUrl: Option[String] = None) extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new DataWriter[InternalRow] {
      // one client per task, rebuilt executor-side (never serialized)
      @transient private lazy val http = HttpCore.shared
      private val auth = HttpAuth(bearer, user, password)
      private var n = 0L
      private val batched = batchSize > 1 && batchUrl.isDefined
      private val buf = scala.collection.mutable.ArrayBuffer[String]()

      override def write(record: InternalRow): Unit = {
        val json = RestWrites.rowToJson(record, schema)
        if (batched) {
          buf += json
          if (buf.size >= batchSize) flush()
        } else {
          val resp = http.request("POST", url, Some((json, "application/json")), auth = auth)
          if (resp.status >= 300)
            throw new RuntimeException(s"POST $url -> HTTP ${resp.status}: ${resp.text.take(200)}")
        }
        n += 1
      }

      /** One `$batch` round-trip for the buffered rows, validated by
        * [[ODataJsonBatch.send]] (at-least-once on task retry, same as the
        * per-row path). Sub-requests target batchSubUrl when given (the
        * service-root-relative form Microsoft Graph requires), else the
        * absolute url. */
      private def flush(): Unit = if (buf.nonEmpty) {
        val target = batchSubUrl.getOrElse(url)
        ODataJsonBatch.send(http, batchUrl.get,
          buf.toSeq.map(json => ("POST", target, Some(json))), auth)
        buf.clear()
      }

      override def commit(): WriterCommitMessage = {
        if (batched) flush()
        RestWriteCommit(n)
      }
      override def abort(): Unit = ()
      override def close(): Unit = ()
    }
}

object RestWrites {

  /** InternalRow → flat JSON object ([[JsonEncode]]: full string escaping,
    * ISO temporals). */
  def rowToJson(row: InternalRow, schema: StructType): String =
    schema.fields.zipWithIndex.map { case (f, i) =>
      s"${JsonEncode.str(f.name)}:${JsonEncode.value(row, i, f.dataType)}"
    }.mkString("{", ",", "}")

  /** Per-row mutation table function (the reference's LATERAL pattern,
    * `graph_sharepoint_functions.cpp:843-925`, `graph_planner_functions.cpp`):
    * POST/PATCH/DELETE one call per input row against a templated URL and
    * return a result row per input — executor-side via mapPartitions with one
    * client per partition.
    *
    * `urlFor` builds the endpoint from the row; `bodyFor` (None for DELETE)
    * the payload. Output: input columns + (status int, response string).
    */
  def mapHttp(df: DataFrame, method: String,
              urlFor: Row => String, bodyFor: Option[Row => String],
              auth: HttpAuth = HttpAuth()): DataFrame = {
    val schema = df.schema
      .add("status", org.apache.spark.sql.types.IntegerType)
      .add("response", StringType)
    val enc = org.apache.spark.sql.Encoders.row(schema)
    df.mapPartitions { rows =>
      val http = HttpCore.shared // per-partition client
      rows.map { r =>
        val resp = http.request(method, urlFor(r),
          bodyFor.map(b => (b(r), "application/json")), auth = auth)
        Row.fromSeq(r.toSeq :+ resp.status :+ resp.text)
      }
    }(enc)
  }
}
