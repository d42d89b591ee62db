package graft.sources.odata

import org.apache.spark.sql.connector.catalog.Table
import graft.sources.AttachedCatalog

/** OData service as a Spark catalog — the port of the reference's
  * `ATTACH '<url>' AS db (TYPE odata)` storage extension
  * (`src/odata_storage.cpp:51`, `src/odata_catalog.cpp:127-208`; lifecycle
  * SURVEY.md §3.2).
  *
  * {{{
  * spark.conf: spark.sql.catalog.nw = graft.sources.odata.ODataCatalog
  *             spark.sql.catalog.nw.url = http://host/service.svc
  * SELECT * FROM nw.main.Customers WHERE Country = 'Germany'
  * }}}
  *
  * Like the reference, one `main` namespace; the tables are the entity sets
  * of one cached `$metadata` fetch. Each table is the same DSv2 table (all
  * pushdowns) the `odata` format reads, and it takes INSERT, UPDATE, MERGE
  * and DELETE ([[ODataTable]]) — beyond the reference, whose OData catalog
  * rejects writes (`odata_catalog.cpp:214-215`).
  */
class ODataCatalog extends AttachedCatalog("odata") {

  private lazy val conf: ODataConf = ODataConf.fromOptions(options)
  private lazy val meta: EdmModel = ODataMeta.resolve(conf).model
  private lazy val serviceRoot: String = ODataUrl.parse(conf.url).base.stripSuffix("/")

  override protected def namespaceMetadata: (String, String) = "service" -> conf.url

  override protected def tableNames: Seq[String] = meta.entitySets.map(_.name)

  override protected def load(name: String): Table = {
    if (!tableNames.contains(name)) noSuchTable(name)
    val tableConf = conf.copy(url = s"$serviceRoot/$name")
    new ODataTable(tableConf, ODataMeta.resolve(tableConf).sparkSchema)
  }
}
