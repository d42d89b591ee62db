package graft.sources.services

import java.util
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import graft.sources.http.{HttpAuth, SecretRegistry}
import graft.sources.odata.{ODataConf, ODataMeta, ODataTable}
import scala.jdk.CollectionConverters._

/** SAP Analytics Cloud tenant as a Spark catalog — the analog of the
  * reference's `ATTACH (TYPE sac)` storage extension (`sac_catalog.cpp`).
  *
  * The reference's model DISCOVERY is an explicit stub — `ListModels()`
  * returns empty with a `[STUB]` trace (`sac_catalog.cpp:37-60`), so its
  * attached catalog lists zero tables. Rather than fabricate a discovery
  * API, the table list here is configuration: the user names the models to
  * expose, each scanned through the shared pushdown OData provider at the
  * reference's URL shape `/api/v1/odata/{kind}/{model}`
  * (`sac_url_builder.cpp:18`). Read-only, like every SAC surface.
  *
  * {{{
  * spark.conf: spark.sql.catalog.sac        = graft.sources.services.SacCatalog
  *             spark.sql.catalog.sac.url    = https://tenant.sapanalytics.cloud
  *             spark.sql.catalog.sac.models = SalesPlan, analytical:Costs
  * SELECT * FROM sac.main.SalesPlan WHERE Region = 'EMEA'
  * }}}
  *
  * Each `models` entry is `model` or `kind:model`; the default kind comes
  * from option `kind` (default `planning`, the reference's primary read,
  * `sac_read_functions.cpp`).
  */
class SacCatalog extends TableCatalog with SupportsNamespaces {

  private var catalogName: String = _
  private var options: Map[String, String] = Map.empty

  private def tenant: String = options.getOrElse("url",
    throw new IllegalArgumentException("sac catalog requires option 'url' (tenant base)"))
    .stripSuffix("/")
  private def defaultKind: String = options.getOrElse("kind", "planning")

  /** model name -> kind, in configuration order */
  private lazy val models: Seq[(String, String)] =
    options.getOrElse("models",
      throw new IllegalArgumentException(
        "sac catalog requires option 'models' (comma-separated model ids; " +
          "SAC model discovery is a stub in the reference, sac_catalog.cpp:37-60)"))
      .split(',').map(_.trim).filter(_.nonEmpty).toSeq
      .map { entry =>
        entry.split(':') match {
          case Array(kind, model) => model.trim -> kind.trim
          case _                  => entry -> defaultKind
        }
      }

  private def auth: HttpAuth = SecretRegistry.authFrom(options, tenant)

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
    Map("tenant" -> tenant).asJava
  }
  override def createNamespace(namespace: Array[String], metadata: util.Map[String, String]): Unit =
    throw new UnsupportedOperationException("sac storage is read-only")
  override def alterNamespace(namespace: Array[String], changes: NamespaceChange*): Unit =
    throw new UnsupportedOperationException("sac storage is read-only")
  override def dropNamespace(namespace: Array[String], cascade: Boolean): Boolean =
    throw new UnsupportedOperationException("sac storage is read-only")

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    if (!namespaceExists(namespace))
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchNamespaceException(namespace)
    models.map { case (m, _) => Identifier.of(Array("main"), m) }.toArray
  }

  override def tableExists(ident: Identifier): Boolean =
    namespaceExists(ident.namespace) && models.exists(_._1 == ident.name)

  /** One `$metadata` round trip per model per catalog instance — Spark may
    * call `loadTable` several times while planning a single statement. */
  private val schemaCache =
    new java.util.concurrent.ConcurrentHashMap[String, StructType]()

  override def loadTable(ident: Identifier): Table = {
    val kind = models.collectFirst {
      case (m, k) if m == ident.name && namespaceExists(ident.namespace) => k
    }.getOrElse(throw new org.apache.spark.sql.catalyst.analysis.NoSuchTableException(ident))
    val a = auth
    val conf = ODataConf(
      url = s"$tenant/api/v1/odata/$kind/${ident.name}",
      bearer = a.bearer, user = a.basicUser, password = a.basicPassword)
    val schema = schemaCache.computeIfAbsent(ident.name,
      _ => ODataMeta.resolve(conf).sparkSchema)
    val inner = new ODataTable(conf, schema)
    // read-only wrapper: the generic entity-set table is writable; SAC is not
    new Table with SupportsRead {
      override def name(): String = s"sac:$kind/${ident.name}"
      override def schema(): StructType = inner.schema()
      override def capabilities(): util.Set[TableCapability] =
        util.EnumSet.of(TableCapability.BATCH_READ)
      override def newScanBuilder(opts: CaseInsensitiveStringMap): org.apache.spark.sql.connector.read.ScanBuilder =
        inner.newScanBuilder(opts)
    }
  }

  override def createTable(ident: Identifier, schema: StructType,
                           partitions: Array[Transform],
                           properties: util.Map[String, String]): Table =
    throw new UnsupportedOperationException("sac storage is read-only")
  override def alterTable(ident: Identifier, changes: TableChange*): Table =
    throw new UnsupportedOperationException("sac storage is read-only")
  override def dropTable(ident: Identifier): Boolean =
    throw new UnsupportedOperationException("sac storage is read-only")
  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit =
    throw new UnsupportedOperationException("sac storage is read-only")
}
