package graft.streaming

import java.util
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import graft.sources.http.HttpAuth
import graft.sources.odata.{ODataJson, ODataMeta}

/** ODP CDC as an idiomatic Structured Streaming source (SURVEY.md §2.6 tier
  * 2): `spark.readStream.format("odp").option("url", ...).load()`.
  *
  * Offset = (batch counter, delta token). Each trigger's `latestOffset()`
  * walks the server's page chain ONCE, spilling each raw page body to the
  * state store (checkpoint-adjacent, cluster-reachable) — the driver holds
  * one page at a time, never the batch (round 2 buffered whole batches in
  * memory; scale-killer). `planInputPartitions` hands executors one
  * partition per spilled page; they decode. `commit` deletes consumed
  * batches' pages. The delta token is ALSO persisted in the [[OdpStateStore]]
  * so a restarted query resumes the server-side subscription; delivery is
  * at-least-once (whatever the server resends), like the reference.
  */
class OdpStreamSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "odp"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val url = options.get("url")
    val serviceRoot = url.substring(0, url.lastIndexOf('/'))
    val setName = url.substring(url.lastIndexOf('/') + 1)
    val auth = HttpAuth(Option(options.get("bearertoken")),
      Option(options.get("user")), Option(options.get("password")))
    ODataMeta.modelAt(serviceRoot, auth).schemaOfSet(setName)
  }

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table = {
    import scala.jdk.CollectionConverters._
    new OdpStreamTable(schema, properties.asScala.toMap)
  }
}

class OdpStreamTable(schema: StructType, options: Map[String, String])
  extends Table with SupportsRead {
  override def name(): String = s"odp(${options("url")})"
  override def schema(): StructType = schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(opts: CaseInsensitiveStringMap): ScanBuilder =
    () => new Scan {
      override def readSchema(): StructType = schema
      override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
        new OdpMicroBatchStream(schema, options, checkpointLocation)
    }
}

final case class OdpOffset(batch: Long, token: Option[String]) extends Offset {
  override def json(): String =
    s"""{"batch":$batch,"token":${token.map("\"" + _ + "\"").getOrElse("null")}}"""
}
object OdpOffset {
  def fromJson(s: String): OdpOffset = {
    val n = ODataJson.parse(s)
    OdpOffset(n.get("batch").asLong,
      Option(n.get("token")).filter(!_.isNull).map(_.asText))
  }
}

class OdpMicroBatchStream(schema: StructType, options: Map[String, String],
                          checkpointLocation: String,
                          clientFor: (HttpAuth, Option[Int]) => PagedDeltaClient =
                            (a, m) => new OdpClient(a, m))
  extends MicroBatchStream {

  private val url = options("url")
  private val stateDir = options.getOrElse("statedir",
    checkpointLocation.stripSuffix("/") + "/odp-state")
  private val auth = HttpAuth(options.get("bearertoken"),
    options.get("user"), options.get("password"))
  private val maxPageSize = options.get("pagesize").map(_.toInt)

  private val store = new OdpStateStore(stateDir)
  private val subId = java.util.UUID.nameUUIDFromBytes(
    url.getBytes("UTF-8")).toString
  private val client: PagedDeltaClient = clientFor(auth, maxPageSize)

  // page-file URIs per batch fetched by THIS instance (restart replans from
  // the spill dir listing instead)
  private val batchPages = new java.util.concurrent.ConcurrentHashMap[Long, Seq[String]]()

  override def initialOffset(): Offset = OdpOffset(-1L, None)
  override def deserializeOffset(json: String): Offset = OdpOffset.fromJson(json)

  override def latestOffset(): Offset = {
    val prior = store.load(subId)
    val token = prior.flatMap(_.deltaToken)
    val batch = prior.map(_.batch).getOrElse(-1L)
    val t0 = System.currentTimeMillis()
    val next = batch + 1
    store.deletePages(subId, next) // re-trigger hygiene
    val res = client.fetchPaged(url, token, store, subId, next)
    if (res.rowCount == 0 && res.newToken.forall(t => token.contains(t)) && batch >= 0) {
      // no progress: stay at current offset
      OdpOffset(batch, token)
    } else {
      batchPages.put(next, res.pageFiles)
      store.save(OdpSubscription(subId, res.newToken.orElse(token),
        if (token.isDefined || batch >= 0) "DELTA_FETCH" else "INITIAL_LOAD",
        res.preferenceApplied, next))
      store.audit(subId, res.httpStatus, res.rowCount, token,
        res.newToken.orElse(token), System.currentTimeMillis() - t0)
      OdpOffset(next, res.newToken.orElse(token))
    }
  }

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[OdpOffset]
    val e = end.asInstanceOf[OdpOffset]
    (s.batch + 1 to e.batch).flatMap { b =>
      Option(batchPages.get(b)).getOrElse(store.listPages(subId, b))
    }.map(uri => OdpPagePartition(uri)).toArray
  }

  override def createReaderFactory(): PartitionReaderFactory = {
    val s = schema
    // SharePoint list-item CDC: typed columns live under `fields`;
    // unwrapping is tombstone-safe (no `fields` child -> the item decodes
    // as it is, so `@removed` rewrites decode at the top level)
    val unwrap = options.get("unwrap")
    (partition: InputPartition) => {
      val uri = partition.asInstanceOf[OdpPagePartition].uri
      new PartitionReader[InternalRow] {
        private lazy val rows: Iterator[InternalRow] =
          new ODataJson.RowDecoder(s, unwrap)(OdpPages.readBody(uri)).iterator
        private var current: InternalRow = _
        override def next(): Boolean =
          if (rows.hasNext) { current = rows.next(); true } else false
        override def get(): InternalRow = current
        override def close(): Unit = ()
      }
    }
  }

  override def commit(end: Offset): Unit = {
    import scala.jdk.CollectionConverters._
    val e = end.asInstanceOf[OdpOffset]
    batchPages.keySet().asScala.filter(_ <= e.batch).foreach { b =>
      store.deletePages(subId, b)
      batchPages.remove(b)
    }
  }

  override def stop(): Unit = ()
}

final case class OdpPagePartition(uri: String) extends InputPartition
