package graft.sources.services

import java.util
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import graft.sources.http.{HttpAuth, HttpCore, SecretRegistry}
import graft.sources.odata.{EdmModel, EdmxParser, ODataConf, ODataJson, ODataTable}
import scala.jdk.CollectionConverters._

/** Business Central environment as a Spark catalog — the port of the
  * reference's `ATTACH (TYPE business_central)` storage extension
  * (`business_central_storage.cpp:84-129`: COMPANY option resolved to an id
  * against the companies endpoint, entity URLs `companies({id})/{entity}`,
  * one metadata document at the API root; read-only, `:92-94`).
  *
  * {{{
  * spark.conf: spark.sql.catalog.bc         = graft.sources.services.BusinessCentralCatalog
  *             spark.sql.catalog.bc.url     = <environment base, .../v2.0/{tenant}/{env}>
  *             spark.sql.catalog.bc.company = <company display name or id>
  * SELECT No, Name FROM bc.main.Customers WHERE Balance > 0
  * }}}
  *
  * Tables scan through the shared pushdown DSv2 provider, so `$filter`,
  * `$select`, `$top/$skip` all reach BC (the reference's BcTableEntry wires
  * the same predicate-pushdown OData scan, `business_central_catalog.cpp:22-49`).
  */
class BusinessCentralCatalog extends TableCatalog with SupportsNamespaces {

  private var catalogName: String = _
  private var options: Map[String, String] = Map.empty
  private def apiRoot: String = options.getOrElse("url",
    throw new IllegalArgumentException("business_central catalog requires option 'url'"))
    .stripSuffix("/") + "/api/v2.0"
  private def auth: HttpAuth = SecretRegistry.authFrom(options, apiRoot)

  /** COMPANY resolution (reference `ResolveCompanyId`): a display name is
    * looked up in the companies entity set; anything that matches no row is
    * taken verbatim as the id. Resolved once per catalog instance. */
  private lazy val companyId: String = {
    val company = options.getOrElse("company",
      throw new IllegalArgumentException(
        "business_central catalog requires option 'company' (name or id)"))
    val resp = HttpCore.shared.get(s"$apiRoot/companies", auth = auth, useCache = false)
    val resolved =
      if (resp.status != 200) None
      else {
        val page = ODataJson.extractPage(ODataJson.parse(resp.text))
        page.rows.collectFirst {
          case n if Seq("name", "displayName").exists(k =>
            Option(n.get(k)).exists(_.asText("").equalsIgnoreCase(company))) =>
            n.get("id").asText
        }
      }
    resolved.getOrElse(company)
  }

  private lazy val model: EdmModel = {
    val resp = HttpCore.shared.get(s"$apiRoot/$$metadata", auth = auth)
    if (resp.status != 200)
      throw new RuntimeException(s"GET $apiRoot/$$metadata -> HTTP ${resp.status}")
    EdmxParser.parse(resp.text)
  }

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
    Map("company" -> companyId).asJava
  }
  override def createNamespace(namespace: Array[String], metadata: util.Map[String, String]): Unit =
    throw new UnsupportedOperationException("business_central storage is read-only")
  override def alterNamespace(namespace: Array[String], changes: NamespaceChange*): Unit =
    throw new UnsupportedOperationException("business_central storage is read-only")
  override def dropNamespace(namespace: Array[String], cascade: Boolean): Boolean =
    throw new UnsupportedOperationException("business_central storage is read-only")

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    if (!namespaceExists(namespace))
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchNamespaceException(namespace)
    model.entitySets.filterNot(_.name == "companies")
      .map(es => Identifier.of(Array("main"), es.name)).toArray
  }

  override def tableExists(ident: Identifier): Boolean =
    namespaceExists(ident.namespace) && model.entitySets.exists(_.name == ident.name)

  override def loadTable(ident: Identifier): Table = {
    if (!tableExists(ident))
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchTableException(ident)
    val schema = model.schemaOfSet(ident.name)
    val a = auth
    // schemaDdl pins the schema we already resolved from the root metadata —
    // the company-scoped entity URL serves no $metadata of its own
    val conf = ODataConf(
      url = s"$apiRoot/companies($companyId)/${ident.name}",
      version = "4", schemaDdl = Some(schema.toDDL),
      bearer = a.bearer, user = a.basicUser, password = a.basicPassword)
    // read-only wrapper: the generic odata entity-set table is writable, BC
    // storage rejects non-read access modes (`business_central_storage.cpp:92-94`)
    val inner = new ODataTable(conf, schema)
    new Table with SupportsRead {
      override def name(): String = s"bc:$companyId/${ident.name}"
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
    throw new UnsupportedOperationException("business_central storage is read-only")
  override def alterTable(ident: Identifier, changes: TableChange*): Table =
    throw new UnsupportedOperationException("business_central storage is read-only")
  override def dropTable(ident: Identifier): Boolean =
    throw new UnsupportedOperationException("business_central storage is read-only")
  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit =
    throw new UnsupportedOperationException("business_central storage is read-only")
}
