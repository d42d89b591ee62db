package graft.sources.services

import org.apache.spark.sql.{DataFrame, DataFrameReader, SparkSession}
import graft.sources.http.SecretRegistry
import graft.sources.odata.{EdmEntityType, ODataMeta, ODataConf, ODataUrl}
import graft.sources.http.HttpCore

/** Service-specific connectors (SURVEY.md §2.1 bottom half): SAP Datasphere,
  * SAP Analytics Cloud, Business Central, Dataverse, Microsoft Graph — all
  * thin URL-builders + auth presets over the same `odata` DataSource
  * (exactly the reference's architecture: each service module is
  * configuration over the OData/Graph stack, not its own engine).
  *
  * Auth comes from [[SecretRegistry]] — a named secret or the longest
  * URL-scope match — matching the reference's secret resolution order.
  */
object Services {

  private def reader(spark: SparkSession, url: String, secret: Option[String]): DataFrameReader = {
    val auth = SecretRegistry.authFor(spark, url, secret)
    var r = spark.read.format("odata").option("url", url)
    auth.bearer.foreach(t => r = r.option("bearerToken", t))
    auth.basicUser.foreach(u => r = r.option("user", u))
    auth.basicPassword.foreach(p => r = r.option("password", p))
    r
  }

  // ---- generic OData helpers (odata_describe / odata_attach) --------------

  /** Schema document of a service: one row per (entity_set, property)
    * (reference `odata_describe_functions.cpp:182-467`). Metadata fetch is
    * authenticated — secured services 401 anonymous probes (VERDICT r1 #1). */
  def odataDescribe(spark: SparkSession, serviceUrl: String,
                    secret: Option[String] = None): DataFrame = {
    import spark.implicits._
    val auth = SecretRegistry.authFor(spark, serviceUrl, secret)
    val model = ODataMeta.modelAt(serviceUrl, auth)
    val rows = for {
      set <- model.entitySets
      et = model.entityTypeOf(set.name)
      p <- et.properties
    } yield (set.name, set.entityTypeName, model.version, p.name, p.edmType,
      p.nullable, et.keys.contains(p.name))
    rows.toDF("entity_set", "entity_type", "odata_version", "property",
      "edm_type", "nullable", "is_key")
  }

  /** The reference's full nested `odata_describe` shape
    * (`odata_describe_functions.cpp:182-467`): ONE row per call with LIST-of-
    * STRUCT columns for properties, navigation properties and entity sets
    * (functions stay empty — the EDMX parser does not model function imports,
    * like most real services' metadata). `spark_type` stands in for the
    * reference's `duckdb_type` column. */
  def odataDescribeStructured(spark: SparkSession, serviceUrl: String,
                              secret: Option[String] = None): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    import scala.jdk.CollectionConverters._
    val auth = SecretRegistry.authFor(spark, serviceUrl, secret)
    val base = serviceUrl.stripSuffix("/")
    val model = ODataMeta.modelAt(base, auth)
    // entity-set URL → (resource_type=entity_set, that set); service root →
    // every set, no single entity type (reference probe, `:224-259`)
    val lastSeg = base.substring(base.lastIndexOf('/') + 1)
    val setOpt = model.entitySets.find(_.name == lastSeg)

    val propType = StructType(Seq(
      StructField("name", StringType), StructField("spark_type", StringType),
      StructField("edm_type", StringType), StructField("is_nullable", BooleanType),
      StructField("is_key", BooleanType)))
    val navType = StructType(Seq(
      StructField("name", StringType), StructField("target_entity", StringType),
      StructField("target_entity_type", StructType(Seq(
        StructField("name", StringType),
        StructField("property_count", LongType),
        StructField("nav_property_count", LongType)))),
      StructField("is_collection", BooleanType)))
    val setType = StructType(Seq(
      StructField("name", StringType), StructField("entity_type", StringType),
      StructField("url", StringType)))
    val funType = StructType(Seq(
      StructField("name", StringType), StructField("return_type", StringType)))
    val schema = StructType(Seq(
      StructField("url", StringType), StructField("resource_type", StringType),
      StructField("entity_set_name", StringType),
      StructField("entity_type_name", StringType),
      StructField("properties", ArrayType(propType)),
      StructField("navigation_properties", ArrayType(navType)),
      StructField("entity_sets", ArrayType(setType)),
      StructField("functions", ArrayType(funType))))

    def propsOf(et: EdmEntityType): Seq[Row] =
      et.properties.map(p => Row(p.name, model.resolveType(p.edmType).simpleString,
        p.edmType, p.nullable, et.keys.contains(p.name)))
    def navsOf(et: EdmEntityType): Seq[Row] =
      et.navProperties.map { n =>
        val target = model.entityTypes.get(n.targetType)
        Row(n.name, n.targetType,
          target.map(t => Row(t.name, t.properties.size.toLong,
            t.navProperties.size.toLong)).orNull,
          n.toMany)
      }
    val serviceRoot = setOpt.map(_ => base.substring(0, base.lastIndexOf('/'))).getOrElse(base)
    val setsRows = model.entitySets.map(es =>
      Row(es.name, es.entityTypeName, s"$serviceRoot/${es.name}"))
    val row = setOpt match {
      case Some(es) =>
        val et = model.entityTypeOf(es.name)
        Row(base, "entity_set", es.name, es.entityTypeName, propsOf(et), navsOf(et), setsRows,
          Seq.empty[Row])
      case None => Row(base, "service", null, null,
        Seq.empty[Row], Seq.empty[Row], setsRows, Seq.empty[Row])
    }
    spark.createDataFrame(Seq(row).asJava, schema)
  }

  /** Register a temp view per entity set (reference `odata_attach`,
    * `odata_attach_functions.cpp:138-175`). Returns the view names. For a
    * persistent catalog use `spark.sql.catalog.<name> = ODataCatalog`. */
  def odataAttach(spark: SparkSession, serviceUrl: String,
                  prefix: String = "", secret: Option[String] = None): Seq[String] = {
    val auth = SecretRegistry.authFor(spark, serviceUrl, secret)
    // shared per-JVM model cache: this fetch ALSO serves every per-set
    // service-root probe below, so an N-set attach is one metadata round-trip
    val model = ODataMeta.modelAt(serviceUrl.stripSuffix("/"), auth)
    model.entitySets.map { set =>
      val view = prefix + set.name
      reader(spark, serviceUrl.stripSuffix("/") + "/" + set.name, secret)
        .load().createOrReplaceTempView(view)
      view
    }
  }

  /** Sample every entity set of a service in ONE HTTP round-trip: a JSON
    * `$batch` of per-set `GET <Set>?$top=n` sub-requests (OData 4.01 §11.7 —
    * the READ side of the envelope `writes/ODataJsonBatch` already uses for
    * INSERT grouping; the reference has no batching at all). The service
    * answers N first pages in one exchange — the cheap "what does this
    * service contain, with data" probe that `odata_describe` callers
    * otherwise pay N round-trips for. Output: (entity_set, status, n_rows). */
  def odataPeek(spark: SparkSession, serviceUrl: String, top: Int = 3,
                secret: Option[String] = None): DataFrame = {
    import spark.implicits._
    val root = serviceUrl.stripSuffix("/")
    val auth = SecretRegistry.authFor(spark, root, secret)
    val model = ODataMeta.modelAt(root, auth)
    val sets = model.entitySets.map(_.name)
    val body = graft.writes.ODataJsonBatch.buildGetBatch(
      sets.map(s => s"$s?$$top=$top&$$format=json"))
    val resp = HttpCore.shared.call("POST", s"$root/$$batch",
      Some((body, "application/json")), auth = auth)
    val byId = graft.writes.ODataJsonBatch.getResponses(resp.text)
      .map(r => r._1 -> r).toMap
    sets.zipWithIndex.map { case (set, i) =>
      byId.get((i + 1).toString) match {
        case Some((_, status, bodyJson)) =>
          val n = try {
            val node = graft.sources.odata.ODataJson.parse(bodyJson)
            val v = if (node.has("value")) node.get("value")
              else if (node.has("d") && node.get("d").has("results")) node.get("d").get("results")
              else null
            if (v != null && v.isArray) v.size else 0
          } catch { case _: Exception => 0 }
          (set, status, n)
        case None => (set, 0, 0)
      }
    }.toDF("entity_set", "status", "n_rows")
  }

  /** SAP Gateway catalog listing (reference `odata_sap_show`): the catalog
    * service is itself OData — delegate to the provider. */
  def sapShow(spark: SparkSession, baseUrl: String, secret: Option[String] = None): DataFrame =
    reader(spark,
      baseUrl.stripSuffix("/") + "/sap/opu/odata/iwfnd/catalogservice;v=2/ServiceCollection",
      secret).load()

  /** ODP extractor listing (reference `odp_odata_show`,
    * `odata_odp_functions.cpp:324-398`): walk the Gateway catalog with
    * `$expand=EntitySets` and keep entity sets whose ID starts with the ODP
    * prefixes ENTITYOF / FACTSOF / ATTROF (case-insensitive). Output matches
    * the reference: (service_id, service_description, entity_set_id,
    * entity_set_description, entity_set_url, change_tracking). */
  def odpShow(spark: SparkSession, baseUrl: String,
              secret: Option[String] = None): DataFrame = {
    import spark.implicits._
    import scala.jdk.CollectionConverters._
    val url = baseUrl.stripSuffix("/") +
      "/sap/opu/odata/iwfnd/catalogservice;v=2/ServiceCollection?$expand=EntitySets&$format=json"
    val auth = SecretRegistry.authFor(spark, url, secret)
    def s(n: com.fasterxml.jackson.databind.JsonNode, k: String): String = {
      val v = n.get(k); if (v == null || v.isNull) "" else v.asText
    }
    val out = graft.sources.odata.ODataPages.walk(url, auth, graft.sources.odata.ODataJson.tree)
      .flatMap(_.page.rows).flatMap { svc =>
      val serviceId = s(svc, "ID")
      val serviceDesc = s(svc, "Description")
      val serviceUrl = s(svc, "ServiceUrl")
      val sets = Option(svc.get("EntitySets"))
        .map(es => if (es.has("results")) es.get("results") else es)
        .filter(_.isArray).map(_.elements.asScala.toSeq).getOrElse(Seq.empty)
      sets.flatMap { es =>
        val id = s(es, "ID")
        val upper = id.toUpperCase
        if (upper.startsWith("ENTITYOF") || upper.startsWith("FACTSOF") ||
          upper.startsWith("ATTROF")) {
          val desc = s(es, "Description")
          val setUrl = serviceUrl.stripSuffix("/") + "/" +
            (if (desc.nonEmpty) desc else id)
          Some((serviceId, serviceDesc, id, desc, setUrl, true))
        } else None
      }
    }.toSeq
    out.toDF("service_id", "service_description", "entity_set_id",
      "entity_set_description", "entity_set_url", "change_tracking")
  }

  // ---- SAP Datasphere ------------------------------------------------------

  /** Relational asset read (reference `datasphere_read_relational`,
    * `datasphere_read.cpp:105-158`): OData with pushdown; `params` compile
    * into the parameterized-view URL segment
    * (`AddInputParametersToUrl`). */
  def datasphereRelational(spark: SparkSession, baseUrl: String, spaceId: String,
                           assetId: String, params: Map[String, String] = Map.empty,
                           secret: Option[String] = None): DataFrame = {
    val paramSeg =
      if (params.isEmpty) ""
      else params.map { case (k, v) => s"$k='$v'" }.mkString("(", ",", ")/Set")
    val url = s"${baseUrl.stripSuffix("/")}/api/v1/dwc/consumption/relational/$spaceId/$assetId$paramSeg"
    reader(spark, url, secret).load()
  }

  /** Analytical asset read: metrics/dimensions become `$select`, so the
    * SERVER aggregates (reference `datasphere_read.cpp:289-312`) — no Spark
    * groupBy is added on top. */
  def datasphereAnalytical(spark: SparkSession, baseUrl: String, spaceId: String,
                           assetId: String, metrics: Seq[String], dimensions: Seq[String],
                           secret: Option[String] = None): DataFrame = {
    val url = s"${baseUrl.stripSuffix("/")}/api/v1/dwc/consumption/analytical/$spaceId/$assetId"
    val sel = (dimensions ++ metrics).mkString(",")
    val u = if (sel.isEmpty) url else ODataUrl.parse(url).withParam("$select", sel).render
    reader(spark, u, secret).load()
  }

  // ---- SAP Analytics Cloud -------------------------------------------------

  /** SAC reads go through `/api/v1/odata/` (reference `sac_url_builder.cpp:18`). */
  def sacRead(spark: SparkSession, tenantUrl: String, kind: String, modelId: String,
              secret: Option[String] = None): DataFrame =
    reader(spark, s"${tenantUrl.stripSuffix("/")}/api/v1/odata/$kind/$modelId", secret).load()

  private def emptyVarchar(spark: SparkSession, cols: String*): DataFrame = {
    import org.apache.spark.sql.types._
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(cols.map(StructField(_, StringType))))
  }

  /** SAC discovery functions, ported faithfully as what the reference ships:
    * honest stubs. `ListModels`/`ListStories` return empty with a `[STUB]`
    * trace (`sac_catalog.cpp:37-60`, README.md:566-570); only the declared
    * output schemas are real (`sac_catalog.cpp:309/382/466/552`). Kept so a
    * reference user's query text keeps running — same columns, same
    * (empty) result. */
  def sacShowModels(spark: SparkSession, tenantUrl: String,
                    secret: Option[String] = None): DataFrame =
    emptyVarchar(spark, "id", "name", "description", "type", "owner",
      "created_at", "last_modified_at")

  def sacShowStories(spark: SparkSession, tenantUrl: String,
                     secret: Option[String] = None): DataFrame =
    emptyVarchar(spark, "id", "name", "description", "owner",
      "created_at", "last_modified_at", "status")

  def sacGetModelInfo(spark: SparkSession, tenantUrl: String, modelId: String,
                      secret: Option[String] = None): DataFrame =
    emptyVarchar(spark, "id", "name", "description", "type", "dimensions",
      "created_at")

  def sacGetStoryInfo(spark: SparkSession, tenantUrl: String, storyId: String,
                      secret: Option[String] = None): DataFrame =
    emptyVarchar(spark, "id", "name", "description", "owner", "status",
      "created_at", "last_modified_at")

  // ---- Business Central ----------------------------------------------------

  def bcRead(spark: SparkSession, baseUrl: String, company: String, entity: String,
             secret: Option[String] = None): DataFrame =
    reader(spark,
      s"${baseUrl.stripSuffix("/")}/api/v2.0/companies($company)/$entity", secret).load()

  def bcShowEntities(spark: SparkSession, baseUrl: String,
                     secret: Option[String] = None): DataFrame =
    odataDescribe(spark, baseUrl.stripSuffix("/") + "/api/v2.0", secret)

  /** Companies of the environment (reference `bc_show_companies`): the
    * companies endpoint is itself a BC entity set — dynamic schema from the
    * service `$metadata`, same provider. */
  def bcShowCompanies(spark: SparkSession, baseUrl: String,
                      secret: Option[String] = None): DataFrame =
    reader(spark, s"${baseUrl.stripSuffix("/")}/api/v2.0/companies", secret).load()

  /** Per-entity property description (reference `bc_describe`,
    * `business_central_functions.cpp:225`): (property_name, property_type,
    * nullable, is_key) from the API `$metadata`. */
  def bcDescribe(spark: SparkSession, baseUrl: String, entity: String,
                 secret: Option[String] = None): DataFrame =
    describeEntity(spark, baseUrl.stripSuffix("/") + "/api/v2.0", entity, secret,
      "property_name", "property_type", "nullable", "is_key")

  // ---- Dataverse (Dynamics CRM) --------------------------------------------

  def crmRead(spark: SparkSession, orgUrl: String, entity: String,
              secret: Option[String] = None): DataFrame =
    reader(spark, s"${orgUrl.stripSuffix("/")}/api/data/v9.2/$entity", secret).load()

  /** Entity listing via the Web API EntityDefinitions endpoint (reference
    * `crm_show_entities`, `dataverse_functions.cpp:26-50`). Fixed projection
    * of the definition columns users join on. */
  def crmShowEntities(spark: SparkSession, orgUrl: String,
                      secret: Option[String] = None): DataFrame = {
    val url = s"${orgUrl.stripSuffix("/")}/api/data/v9.2/EntityDefinitions"
    Graph.fixedRead(spark, url,
      "LogicalName STRING, SchemaName STRING, EntitySetName STRING, " +
        "PrimaryIdAttribute STRING, IsCustomEntity BOOLEAN", secret)
      .select(org.apache.spark.sql.functions.col("LogicalName").as("logical_name"),
        org.apache.spark.sql.functions.col("SchemaName").as("schema_name"),
        org.apache.spark.sql.functions.col("EntitySetName").as("entity_set_name"),
        org.apache.spark.sql.functions.col("PrimaryIdAttribute").as("primary_id_attribute"),
        org.apache.spark.sql.functions.col("IsCustomEntity").as("is_custom_entity"))
  }

  /** Per-entity attribute description (reference `crm_describe`,
    * `dataverse_functions.cpp:176`): (attribute_name, attribute_type,
    * nullable, is_primary) from the Web API `$metadata`. */
  def crmDescribe(spark: SparkSession, orgUrl: String, entity: String,
                  secret: Option[String] = None): DataFrame =
    describeEntity(spark, orgUrl.stripSuffix("/") + "/api/data/v9.2", entity, secret,
      "attribute_name", "attribute_type", "nullable", "is_primary")

  private def describeEntity(spark: SparkSession, serviceRoot: String, entity: String,
                             secret: Option[String],
                             nameCol: String, typeCol: String,
                             nullCol: String, keyCol: String): DataFrame = {
    import spark.implicits._
    val auth = SecretRegistry.authFor(spark, serviceRoot, secret)
    val model = ODataMeta.modelAt(serviceRoot, auth)
    val set = model.entitySets.find(s => s.name.equalsIgnoreCase(entity))
      .getOrElse(throw new IllegalArgumentException(s"no entity set '$entity' at $serviceRoot"))
    val et = model.entityTypeOf(set.name)
    et.properties.map(p => (p.name, p.edmType, p.nullable, et.keys.contains(p.name)))
      .toDF(nameCol, typeCol, nullCol, keyCol)
  }

  // ---- Microsoft Graph -----------------------------------------------------

  /** Graph endpoints are OData v4 with `@odata.nextLink` pagination — the
    * same scan loop; fixed endpoint per function like the reference's
    * graph_users/groups/... (`graph_entra_functions.cpp:488-536`). */
  def graphRead(spark: SparkSession, resource: String,
                baseUrl: String = "https://graph.microsoft.com/v1.0",
                secret: Option[String] = None): DataFrame =
    reader(spark, s"${baseUrl.stripSuffix("/")}/$resource", secret).load()

  /** Excel workbook range/table read via the Graph workbook API (reference
    * `graph_excel_functions.cpp`: `graph_excel_range` / `graph_excel_table_data`).
    * The endpoint returns a values matrix `{"values": [[...], ...]}`; when
    * `headerRow`, the first row names the columns (reference behavior for
    * used-range reads). All cells arrive as strings — Excel's dynamic typing
    * maps to StringType, callers cast (same trade-off the reference makes by
    * landing VARIANT-ish cells as VARCHAR). */
  def excelRange(spark: SparkSession, rangeUrl: String,
                 headerRow: Boolean = true, secret: Option[String] = None): DataFrame = {
    import scala.jdk.CollectionConverters._
    val auth = SecretRegistry.authFor(spark, rangeUrl, secret)
    val resp = HttpCore.shared.call("GET", rangeUrl, auth = auth)
    val values = graft.sources.odata.ODataJson.parse(resp.text).get("values")
    val matrix: Seq[Seq[String]] =
      if (values == null || !values.isArray) Seq.empty
      else values.elements().asScala.toSeq.map(row =>
        row.elements().asScala.toSeq.map(c => if (c.isNull) null else c.asText))
    if (matrix.isEmpty)
      return spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType(Nil))
    val width = matrix.map(_.length).max
    val (names, data) =
      if (headerRow) (matrix.head.padTo(width, null).zipWithIndex
        .map { case (h, i) => if (h == null || h.isEmpty) s"c$i" else h }, matrix.tail)
      else ((0 until width).map(i => s"c$i"), matrix)
    val schema = org.apache.spark.sql.types.StructType(
      names.map(n => org.apache.spark.sql.types.StructField(n, org.apache.spark.sql.types.StringType)))
    val rows = data.map(r => org.apache.spark.sql.Row.fromSeq(r.padTo(width, null)))
    spark.createDataFrame(rows.asJava, schema)
  }
}
