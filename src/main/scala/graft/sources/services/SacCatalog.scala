package graft.sources.services

import org.apache.spark.sql.connector.catalog.Table
import graft.sources.{AttachedCatalog, ReadOnlyTable}
import graft.sources.http.SecretRegistry
import graft.sources.odata.{ODataConf, ODataMeta, ODataTable}

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
class SacCatalog extends AttachedCatalog("sac") {

  private def tenant: String = required("url", "tenant base").stripSuffix("/")
  private def defaultKind: String = options.getOrElse("kind", "planning")

  /** model name -> kind, in configuration order */
  private lazy val models: Seq[(String, String)] =
    required("models", "comma-separated model ids; " +
      "SAC model discovery is a stub in the reference, sac_catalog.cpp:37-60")
      .split(',').map(_.trim).filter(_.nonEmpty).toSeq
      .map { entry =>
        entry.split(':') match {
          case Array(kind, model) => model.trim -> kind.trim
          case _                  => entry -> defaultKind
        }
      }

  override protected def namespaceMetadata: (String, String) = "tenant" -> tenant

  override protected def tableNames: Seq[String] = models.map(_._1)

  override protected def load(name: String): Table = {
    val kind = models.collectFirst { case (`name`, k) => k }.getOrElse(noSuchTable(name))
    val a = SecretRegistry.authFrom(options, tenant)
    val conf = ODataConf(
      url = s"$tenant/api/v1/odata/$kind/$name",
      bearer = a.bearer, user = a.basicUser, password = a.basicPassword)
    new ReadOnlyTable(new ODataTable(conf, ODataMeta.resolve(conf).sparkSchema), s"sac:$kind/$name")
  }
}
