package graft.sources.services

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._
import graft.sources.http.{HttpAuth, HttpCore, HttpStatusError, SecretRegistry}
import graft.sources.odata.ODataJson
import scala.jdk.CollectionConverters._

/** SAP Datasphere discovery — the port of `datasphere_catalog.cpp`
  * (1,683 LoC): `show_spaces`, `show_assets` (per-space and tenant-wide),
  * `describe_space`, and `describe_asset` with the reference's full 15-column
  * AssetEntityV1 schema including the nested `relational_schema` /
  * `analytical_schema` structs.
  *
  * Two API tiers, like the reference:
  *  - DWAAS core (`{tenant}/dwaas-core/api/v1/spaces[/{id}/{objectType}]`) —
  *    space + object listings and CSN definitions;
  *  - catalog OData (`{tenant}/api/v1/dwc/catalog/...`) — labels and asset
  *    consumption URLs, merged in unless the endpoint answers 404.
  *
  * A 404 is an absent endpoint or asset; any other failed answer throws
  * its `HttpStatusError`.
  *
  * Reads themselves ([[Services.datasphereRelational]] /
  * [[Services.datasphereAnalytical]]) stay on the pushdown OData scan.
  */
object Datasphere {

  /** `https://{tenant}.{dataCenter}.hcs.cloud.sap` (reference
    * `datasphere_client.cpp:79-90`). */
  def tenantUrl(tenant: String, dataCenter: String): String =
    s"https://$tenant.$dataCenter.hcs.cloud.sap"

  /** DWAAS object-type endpoints → user-facing type label (reference
    * `datasphere_catalog.cpp:756-763`, fetch order `:1419-1440`). */
  val ObjectTypes: Seq[(String, String)] = Seq(
    "localtables" -> "LocalTable",
    "remotetables" -> "RemoteTable",
    "views" -> "View",
    "factmodels" -> "Analytic Model (Cube)",
    "analyticmodels" -> "Analytic Model (Cube)",
    "ermodels" -> "ERModel")

  private val AnalyticalTypes = Set("factmodels", "analyticmodels", "analyticalmodels")

  private def auth(spark: SparkSession, url: String, secret: Option[String]): HttpAuth =
    SecretRegistry.authFor(spark, url, secret)

  /** The JSON at `url`, or None when the endpoint answers 404 (a tenant
    * without that object type or asset). Every other failed answer throws
    * its [[HttpStatusError]]. */
  private def getOpt(url: String, a: HttpAuth): Option[JsonNode] =
    try Some(ODataJson.parse(HttpCore.shared.call("GET", url, auth = a).text))
    catch { case e: HttpStatusError if e.status == 404 => None }

  private def text(n: JsonNode, k: String, default: String = ""): String = {
    val v = if (n == null) null else n.get(k)
    if (v == null || v.isNull) default else v.asText
  }

  // ---- show_spaces ----------------------------------------------------------

  /** Space names from the DWAAS core API (reference `datasphere_show_spaces`:
    * one `name` column; the payload is a JSON array of space ids). */
  def showSpaces(spark: SparkSession, baseUrl: String,
                 secret: Option[String] = None): DataFrame = {
    import spark.implicits._
    spaceNames(spark, baseUrl, secret).toDF("name")
  }

  private def spaceNames(spark: SparkSession, baseUrl: String,
                         secret: Option[String]): Seq[String] = {
    val url = s"${baseUrl.stripSuffix("/")}/dwaas-core/api/v1/spaces"
    val root = getOpt(url, auth(spark, url, secret)).getOrElse(
      throw new RuntimeException(s"failed to fetch spaces from $url"))
    if (root.isArray) root.elements.asScala.toSeq.map(n =>
      if (n.isTextual) n.asText else text(n, "name"))
    else Seq.empty
  }

  // ---- show_assets ----------------------------------------------------------

  /** One DWAAS listing item: accepts both bare-string and object payloads. */
  private def assetItem(n: JsonNode, label: String): (String, String, String) = {
    if (n.isTextual) (n.asText, label, n.asText)
    else {
      val tech = Seq("technicalName", "name").map(text(n, _)).find(_.nonEmpty).getOrElse("")
      val name = Seq("@EndUserText.label", "label", "businessName")
        .map(text(n, _)).find(_.nonEmpty).getOrElse(tech)
      (name, label, tech)
    }
  }

  /** Assets of one space: DWAAS object listings merged with the catalog
    * `/assets` endpoint, deduplicated by technical name (reference
    * `datasphere_show_assets`, `:1342-1450`).
    * Output: (name, object_type, technical_name). */
  def showAssets(spark: SparkSession, baseUrl: String, spaceId: String,
                 secret: Option[String] = None): DataFrame = {
    import spark.implicits._
    assetRows(spark, baseUrl, spaceId, secret)
      .toDF("name", "object_type", "technical_name")
  }

  private def assetRows(spark: SparkSession, baseUrl: String, spaceId: String,
                        secret: Option[String]): Seq[(String, String, String)] = {
    val base = baseUrl.stripSuffix("/")
    val a = auth(spark, base, secret)
    val seen = scala.collection.mutable.Set[String]()
    val out = Seq.newBuilder[(String, String, String)]
    ObjectTypes.foreach { case (endpoint, label) =>
      getOpt(s"$base/dwaas-core/api/v1/spaces/$spaceId/$endpoint", a).foreach { root =>
        if (root.isArray) root.elements.asScala.foreach { n =>
          val item = assetItem(n, label)
          if (item._3.nonEmpty && seen.add(item._3)) out += item
        }
      }
    }
    // catalog /assets merge (labels for assets DWAAS missed)
    val filter = java.net.URLEncoder.encode(s"spaceName eq '$spaceId'", "UTF-8")
      .replace("+", "%20")
    getOpt(s"$base/api/v1/dwc/catalog/assets?$$filter=$filter" +
      "&$select=name,technicalName,assetAnalyticalMetadataUrl,assetRelationalMetadataUrl", a)
      .foreach { root =>
        ODataJson.extractPage(root).rows.foreach { n =>
          val tech = text(n, "technicalName")
          val isCube = text(n, "assetAnalyticalMetadataUrl").nonEmpty
          if (tech.nonEmpty && seen.add(tech))
            out += ((text(n, "name", tech),
              if (isCube) "Analytic Model (Cube)" else "View", tech))
        }
      }
    out.result()
  }

  /** Tenant-wide asset listing: every accessible space (reference's second
    * `datasphere_show_assets` overload, `:1484-1616`).
    * Output: (name, object_type, technical_name, space_name). */
  def showAllAssets(spark: SparkSession, baseUrl: String,
                    secret: Option[String] = None): DataFrame = {
    import spark.implicits._
    spaceNames(spark, baseUrl, secret).flatMap { s =>
      assetRows(spark, baseUrl, s, secret).map(t => (t._1, t._2, t._3, s))
    }.toDF("name", "object_type", "technical_name", "space_name")
  }

  // ---- describe_space -------------------------------------------------------

  /** (name, label) of one space via the catalog spaces endpoint (reference
    * `datasphere_describe_space`, `:1030-1070`). */
  def describeSpace(spark: SparkSession, baseUrl: String, spaceId: String,
                    secret: Option[String] = None): DataFrame = {
    import spark.implicits._
    val base = baseUrl.stripSuffix("/")
    val filter = java.net.URLEncoder.encode(s"name eq '$spaceId'", "UTF-8")
      .replace("+", "%20")
    val rows = getOpt(s"$base/api/v1/dwc/catalog/spaces?$$filter=$filter",
      auth(spark, base, secret))
      .map(r => ODataJson.extractPage(r).rows).getOrElse(Seq.empty)
      .map(n => (text(n, "name", spaceId), text(n, "label", spaceId)))
    (if (rows.nonEmpty) rows else Seq((spaceId, spaceId))).toDF("name", "label")
  }

  // ---- describe_asset -------------------------------------------------------

  private val SchemaFieldType = StructType(Seq(
    StructField("name", StringType), StructField("type", StringType),
    StructField("edm_type", StringType)))
  private val RelationalColumnType = StructType(Seq(
    StructField("name", StringType), StructField("technical_name", StringType),
    StructField("type", StringType), StructField("length", StringType)))

  /** The reference's 15-column AssetEntityV1 row (names + struct shapes from
    * `datasphere_catalog.cpp:1096-1100, 114-141`). */
  val DescribeAssetSchema: StructType = StructType(Seq(
    StructField("name", StringType),
    StructField("space_name", StringType),
    StructField("label", StringType),
    StructField("asset_relational_metadata_url", StringType),
    StructField("asset_relational_data_url", StringType),
    StructField("asset_analytical_metadata_url", StringType),
    StructField("asset_analytical_data_url", StringType),
    StructField("supports_analytical_queries", StringType),
    StructField("odata_context", StringType),
    StructField("relational_schema", StructType(Seq(
      StructField("columns", ArrayType(RelationalColumnType))))),
    StructField("analytical_schema", StructType(Seq(
      StructField("measures", ArrayType(SchemaFieldType)),
      StructField("dimensions", ArrayType(SchemaFieldType)),
      StructField("variables", ArrayType(SchemaFieldType))))),
    StructField("has_relational_access", StringType),
    StructField("has_analytical_access", StringType),
    StructField("asset_type", StringType),
    StructField("odata_metadata_etag", StringType)))

  /** Measure heuristic for CSN fields without explicit annotations (reference
    * `LooksLikeDwaasMeasure`, `datasphere_catalog.cpp:245-251`). */
  def looksLikeMeasure(fieldName: String): Boolean =
    fieldName.contains("count") || fieldName.contains("Count") ||
      fieldName.contains("revenue") || fieldName.contains("amount") ||
      fieldName.contains("sum")

  /** `definitions` → first definition → `elements` (reference
    * `FirstDefinitionElements`, `:234-243`). */
  private def definitionElements(root: JsonNode): Seq[(String, JsonNode)] = {
    val defs = root.get("definitions")
    if (defs == null || !defs.isObject) return Seq.empty
    defs.properties().asScala.headOption.map(_.getValue) match {
      case Some(d) if d.isObject =>
        val elements = d.get("elements")
        if (elements != null && elements.isObject)
          elements.properties().asScala.toSeq.map(e => e.getKey -> e.getValue)
        else Seq.empty
      case _ => Seq.empty
    }
  }

  /** Full 15-column asset description: probes the DWAAS object endpoints in
    * reference order to find the asset's type, parses its CSN definition into
    * `relational_schema` (tables/views) or `analytical_schema` (cubes), and
    * builds the consumption URLs (reference `datasphere_describe_asset` +
    * ParseDwaasRelationalSchema/ParseDwaasAnalyticalSchema). */
  def describeAsset(spark: SparkSession, baseUrl: String, spaceId: String,
                    assetId: String, secret: Option[String] = None): DataFrame = {
    val base = baseUrl.stripSuffix("/")
    val a = auth(spark, base, secret)

    val found = ObjectTypes.view.flatMap { case (endpoint, label) =>
      getOpt(s"$base/dwaas-core/api/v1/spaces/$spaceId/$endpoint/$assetId", a)
        .map(root => (endpoint, label, root))
    }.headOption

    val (objType, typeLabel, definition) = found.getOrElse(
      throw new IllegalArgumentException(
        s"asset '$assetId' not found in space '$spaceId'"))
    val analytical = AnalyticalTypes.contains(objType)
    val elements = definitionElements(definition)

    val relationalSchema: Row =
      if (analytical) Row(Seq.empty[Row])
      else Row(elements.map { case (colName, colDef) =>
        Row(text(colDef, "@EndUserText.label", colName), colName,
          text(colDef, "type", "Unknown"),
          Option(colDef.get("length")).map(_.asText).getOrElse(""))
      })
    val analyticalSchema: Row =
      if (!analytical) Row(Seq.empty[Row], Seq.empty[Row], Seq.empty[Row])
      else {
        val (measures, dims) = elements.partition { case (n, _) => looksLikeMeasure(n) }
        Row(
          measures.map { case (n, d) =>
            Row(text(d, "@EndUserText.label", n), "FactSourceMeasure", "Edm.String") },
          dims.map { case (n, d) =>
            Row(text(d, "@EndUserText.label", n), "FactSourceAttribute", "Edm.String") },
          Seq.empty[Row])
      }

    val label = Option(definition.get("definitions"))
      .flatMap(d => d.properties().asScala.headOption.map(_.getValue))
      .map(text(_, "@EndUserText.label", assetId)).getOrElse(assetId)
    val rel = s"$base/api/v1/dwc/consumption/relational/$spaceId/$assetId"
    val ana = s"$base/api/v1/dwc/consumption/analytical/$spaceId/$assetId"
    val row = Row(
      assetId, spaceId, label,
      s"$rel/$$metadata", rel,
      if (analytical) s"$ana/$$metadata" else "",
      if (analytical) ana else "",
      if (analytical) "true" else "false",
      "",
      relationalSchema, analyticalSchema,
      if (analytical) "false" else "true",
      if (analytical) "true" else "false",
      typeLabel, "")
    spark.createDataFrame(Seq(row).asJava, DescribeAssetSchema)
  }
}
