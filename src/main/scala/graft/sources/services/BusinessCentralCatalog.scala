package graft.sources.services

import org.apache.spark.sql.connector.catalog.Table
import graft.sources.{AttachedCatalog, ReadOnlyTable}
import graft.sources.http.{HttpAuth, SecretRegistry}
import graft.sources.odata.{ODataConf, ODataJson, ODataMeta, ODataPages, ODataTable}

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
class BusinessCentralCatalog extends AttachedCatalog("business_central") {

  private def apiRoot: String =
    required("url", "environment base, .../v2.0/{tenant}/{env}").stripSuffix("/") + "/api/v2.0"
  private def auth: HttpAuth = SecretRegistry.authFrom(options, apiRoot)

  /** COMPANY resolution (reference `ResolveCompanyId`): the value is looked
    * up in the companies entity set, every page of it, by name or display
    * name (ignoring case), then by id. A value that matches no row is taken
    * verbatim only when it is a GUID; any other value fails the catalog,
    * naming it. The reference takes every unmatched value verbatim, so a
    * mistyped name only failed later, as an invalid URI on each scan. A
    * failing companies request fails the catalog. Resolved once per catalog
    * instance. */
  private lazy val companyId: String = {
    val company = required("company", "company display name or id")
    val rows = ODataPages.walk(s"$apiRoot/companies", auth, ODataJson.tree)
      .flatMap(_.page.rows).toSeq
    def text(n: com.fasterxml.jackson.databind.JsonNode, k: String): Option[String] =
      Option(n.get(k)).filterNot(_.isNull).map(_.asText)
    rows.find(n => Seq("name", "displayName").exists(k => text(n, k).exists(_.equalsIgnoreCase(company))))
      .orElse(rows.find(n => text(n, "id").contains(company)))
      .flatMap(text(_, "id"))
      .orElse(Some(company).filter(BusinessCentralCatalog.Guid.matches))
      .getOrElse(throw new IllegalArgumentException(
        s"business_central: COMPANY '$company' matches no company name or id at $apiRoot/companies"))
  }

  override protected def namespaceMetadata: (String, String) = "company" -> companyId

  private def model = ODataMeta.modelAt(apiRoot, auth)

  /** The entity sets of the API root's `$metadata`, but `companies`, which
    * scopes the others. */
  override protected def tableNames: Seq[String] =
    model.entitySets.map(_.name).filterNot(_ == "companies")

  override protected def load(name: String): Table = {
    if (!tableNames.contains(name)) noSuchTable(name)
    val schema = model.schemaOfSet(name)
    val a = auth
    // schemaDdl pins the schema we already resolved from the root metadata —
    // the company-scoped entity URL serves no $metadata of its own
    val conf = ODataConf(
      url = s"$apiRoot/companies(${BusinessCentralCatalog.encode(companyId)})/$name",
      version = "4", schemaDdl = Some(schema.toDDL),
      bearer = a.bearer, user = a.basicUser, password = a.basicPassword)
    new ReadOnlyTable(new ODataTable(conf, schema), s"bc:$companyId/$name")
  }
}

object BusinessCentralCatalog {
  private[services] val Guid = "[0-9a-fA-F]{8}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{12}".r

  /** The company key as a URL path literal: percent-encoded, so a space or
    * a slash in it stays one segment. */
  private[services] def encode(id: String): String =
    java.net.URLEncoder.encode(id, java.nio.charset.StandardCharsets.UTF_8).replace("+", "%20")
}
