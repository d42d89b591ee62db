package graft.sources.services

import graft.SparkSpecBase
import graft.sources.http.HttpStatusError
import graft.testkit.DatasphereStub
import org.apache.spark.sql.Row
import org.scalatest.BeforeAndAfterAll

/** Datasphere discovery e2e against the stubbed DWAAS-core + catalog APIs
  * (reference `datasphere_catalog.cpp`). */
class DatasphereSpec extends SparkSpecBase with BeforeAndAfterAll {

  private var stub: DatasphereStub = _
  private def base: String = stub.baseUrl

  override def beforeAll(): Unit = {
    super.beforeAll()
    stub = new DatasphereStub().start()
  }
  override def afterAll(): Unit = {
    if (stub != null) stub.stop()
    super.afterAll()
  }

  test("datasphere_show_spaces lists DWAAS space ids") {
    val s = Datasphere.showSpaces(spark, base).collect().map(_.getString(0)).toSet
    assert(s == Set("SPACE1", "SPACE2"))
  }

  test("datasphere_show_assets merges DWAAS object types with the catalog listing") {
    val a = Datasphere.showAssets(spark, base, "SPACE1").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2)))
    assert(a.contains(("Sales Table", "LocalTable", "SALES")))
    assert(a.contains(("V_ORDERS", "View", "V_ORDERS"))) // bare-string listing
    assert(a.contains(("Revenue Cube", "Analytic Model (Cube)", "REVCUBE")))
    assert(a.contains(("Catalog Only View", "View", "CAT_VIEW"))) // catalog merge
    assert(a.map(_._3).distinct.length == a.length) // deduped by technical name
  }

  test("datasphere_show_assets fails on a listing answered 401 or 500, naming its URL; only a 404 is an absent endpoint") {
    for ((path, status) <- Seq("/dwaas-core/api/v1/spaces/SPACE1/views" -> 401,
                               "/api/v1/dwc/catalog/assets" -> 500)) {
      stub.extraStatuses.synchronized { stub.extraStatuses(path) = status }
      try {
        val e = intercept[HttpStatusError](Datasphere.showAssets(spark, base, "SPACE1"))
        assert(e.status == status && e.url.startsWith(base + path), e.getMessage)
        assert(e.getMessage.startsWith(s"GET ${e.url} -> HTTP $status"), e.getMessage)
      } finally stub.extraStatuses.synchronized { stub.extraStatuses.remove(path) }
    }
  }

  test("datasphere_show_assets (all spaces) adds space_name") {
    val a = Datasphere.showAllAssets(spark, base).collect()
    assert(a.exists(r => r.getString(2) == "SALES" && r.getString(3) == "SPACE1"))
  }

  test("datasphere_describe_space returns catalog name+label") {
    val r = Datasphere.describeSpace(spark, base, "SPACE1").collect().head
    assert(r.getString(0) == "SPACE1" && r.getString(1) == "Space One")
  }

  test("datasphere_describe_asset: relational asset fills relational_schema struct") {
    val df = Datasphere.describeAsset(spark, base, "SPACE1", "SALES")
    assert(df.columns.length == 15)
    val r = df.collect().head
    assert(r.getAs[String]("asset_type") == "LocalTable")
    assert(r.getAs[String]("supports_analytical_queries") == "false")
    assert(r.getAs[String]("has_relational_access") == "true")
    assert(r.getAs[String]("label") == "Sales Table")
    assert(r.getAs[String]("asset_relational_data_url")
      .endsWith("/api/v1/dwc/consumption/relational/SPACE1/SALES"))
    val cols = r.getAs[Row]("relational_schema").getSeq[Row](0)
    assert(cols.length == 3)
    val byTech = cols.map(c => c.getString(1) -> c).toMap
    assert(byTech("CustomerName").getString(0) == "Customer Name") // label wins
    assert(byTech("ID").getString(2) == "cds.Integer")
    assert(byTech("ID").getString(3) == "10")
    assert(byTech("OrderDate").getString(3) == "") // no length
    // analytical struct empty
    val ana = r.getAs[Row]("analytical_schema")
    assert(ana.getSeq[Row](0).isEmpty && ana.getSeq[Row](1).isEmpty)
  }

  test("datasphere_describe_asset: cube fills analytical_schema via measure heuristic") {
    val r = Datasphere.describeAsset(spark, base, "SPACE1", "REVCUBE").collect().head
    assert(r.getAs[String]("asset_type") == "Analytic Model (Cube)")
    assert(r.getAs[String]("supports_analytical_queries") == "true")
    assert(r.getAs[String]("has_analytical_access") == "true")
    val ana = r.getAs[Row]("analytical_schema")
    val measures = ana.getSeq[Row](0).map(_.getString(0))
    val dims = ana.getSeq[Row](1).map(_.getString(0))
    assert(measures.toSet == Set("revenue_sum", "order_count"))
    assert(dims.toSet == Set("Region"))
    assert(ana.getSeq[Row](0).head.getString(1) == "FactSourceMeasure")
  }

  test("unknown asset raises a clear error") {
    val e = intercept[IllegalArgumentException] {
      Datasphere.describeAsset(spark, base, "SPACE1", "NOPE")
    }
    assert(e.getMessage.contains("NOPE"))
  }
}
