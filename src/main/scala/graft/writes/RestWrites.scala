package graft.writes

import java.util
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.connector.catalog.Table
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types.{StringType, StructType}
import graft.sources.http.{HttpAuth, HttpCore}
import graft.sources.odata.ODataBatchTarget
import scala.jdk.CollectionConverters._

/** REST sinks — the port of the reference's write paths (SURVEY.md §2.3):
  * `COPY TO (FORMAT graph_excel_table / graph_sharepoint_list)` and catalog
  * `INSERT INTO` both reduce to "POST one JSON object per row to an items
  * endpoint" (`graph_excel_copy.cpp:209-215`,
  * `graph_sharepoint_catalog.cpp:791`). Spark-first shape: a write-only DSv2
  * table ([[RestSinkTable]]) whose executors stream their partition's rows
  * as POSTs through [[RestChanges]]; `batchUrl` + `batchSize` (> 1) send
  * them as JSON `$batch`es of up to `batchSize` sub-requests instead.
  *
  * {{{
  * df.write.format("rest-items").option("url", itemsEndpoint).mode("append").save()
  * }}}
  *
  * Commit semantics: at-least-once, see [[RestChanges]].
  */
class RestItemsSink extends RestCopySink {
  override def shortName(): String = "rest-items"
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table = {
    val o = properties.asScala.toMap.map { case (k, v) => k.toLowerCase -> v }
    val url = o.getOrElse("url", throw new IllegalArgumentException("rest-items needs option url"))
    val auth = HttpAuth(o.get("bearertoken"), o.get("user"), o.get("password"))
    val batch = o.get("batchurl").map(ODataBatchTarget(o.getOrElse("batchsize", "1").toInt, _, url))
      .filter(_.size > 1)
    new RestSinkTable(s"rest-items($url)", schema,
      info => new RestInsertWriterFactory(url, info.schema(), auth, batch, RestWrites.rowToJson))
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
