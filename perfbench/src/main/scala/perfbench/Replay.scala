package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.types.StructType
import scala.jdk.CollectionConverters._
import graft.sources.odata.ODataJson
import graft.writes.RestWrites

/** Outside-in probes of single layers: replays of captured inputs through
  * one library function, timed in a loop after a warm-up. */
object Replay {
  private def nsPerItem(items: Long)(f: => Unit): Double = {
    if (items == 0) return 0.0
    f // warm-up
    var n = 0L
    val t0 = System.nanoTime()
    while (System.nanoTime() - t0 < 300000000L) { f; n += items }
    (System.nanoTime() - t0).toDouble / n
  }

  /** `ODataJson.parse` -> `extractPage` -> `decodeRow` over the full-row
    * page bodies the fixture captured during the traced phase. */
  def decodeNsPerRow(spark: SparkSession, fx: Fixture, root: String): Double = {
    val bodies = fx.capturedPages.asScala.toSeq.map { case (set, b) => (set, new String(b, UTF_8)) }
    val schemas: Map[String, StructType] = bodies.map(_._1).distinct
      .map(s => s -> spark.read.format("odata").option("url", s"$root/$s").load().schema).toMap
    val rows = bodies.map { case (_, b) => ODataJson.extractPage(ODataJson.parse(b)).rows.size.toLong }.sum
    nsPerItem(rows) {
      bodies.foreach { case (set, b) =>
        val schema = schemas(set)
        ODataJson.extractPage(ODataJson.parse(b)).rows.foreach(n => ODataJson.decodeRow(n, schema))
      }
    }
  }

  /** `RestWrites.rowToJson` over rows shaped like the written items. */
  def encodeNsPerRow(spark: SparkSession, schema: StructType, rows: Seq[org.apache.spark.sql.Row]): Double = {
    val conv = CatalystTypeConverters.createToCatalystConverter(schema)
    val internal = rows.map(r => conv(r).asInstanceOf[InternalRow])
    nsPerItem(internal.size.toLong)(internal.foreach(r => RestWrites.rowToJson(r, schema)))
  }
}
