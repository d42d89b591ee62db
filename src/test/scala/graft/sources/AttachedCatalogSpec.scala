package graft.sources

import graft.SparkSpecBase
import graft.sources.services.Excel
import graft.testkit.{GraphStub, ODataStub}
import org.scalatest.BeforeAndAfterAll

/** The contract all five `ATTACH` catalogs share through [[AttachedCatalog]]:
  * one `main` namespace, no DDL, and read-only SAC and Business Central
  * tables. */
class AttachedCatalogSpec extends SparkSpecBase with BeforeAndAfterAll {

  private var odata: ODataStub = _
  private var graph: GraphStub = _

  override def beforeAll(): Unit = {
    super.beforeAll()
    odata = new ODataStub(v2 = false).start()
    graph = new GraphStub().start()
  }
  override def afterAll(): Unit = {
    if (odata != null) odata.stop()
    if (graph != null) graph.stop()
    super.afterAll()
  }

  /** (kind, catalog class, options, a table it lists) */
  private def catalogs: Seq[(String, String, Map[String, String], String)] = {
    val host = s"http://localhost:${odata.port}"
    Seq(
      ("odata", "graft.sources.odata.ODataCatalog", Map("url" -> odata.serviceUrl), "Customers"),
      ("sac", "graft.sources.services.SacCatalog",
        Map("url" -> host, "models" -> "Customers"), "Customers"),
      ("business_central", "graft.sources.services.BusinessCentralCatalog",
        Map("url" -> host, "company" -> "c1"), "Customers"),
      ("sharepoint_lists", "graft.sources.services.SharePointListsCatalog",
        Map("url" -> graph.baseUrl, "site" -> "Finance"), "Budget List"),
      ("excel_workbook", "graft.sources.services.ExcelWorkbookCatalog",
        Map("url" -> Excel.itemUrl(graph.baseUrl, "book.xlsx")), "Sales"))
  }

  test("every ATTACH catalog: only main exists, DDL names the kind, SAC and BC reject INSERT") {
    for ((kind, cls, opts, table) <- catalogs) {
      val cat = s"shell_$kind"
      spark.conf.set(s"spark.sql.catalog.$cat", cls)
      opts.foreach { case (k, v) => spark.conf.set(s"spark.sql.catalog.$cat.$k", v) }
      val tables = spark.sql(s"SHOW TABLES IN $cat.main").collect().map(_.getAs[String]("tableName"))
      assert(tables.contains(table), s"$kind: ${tables.mkString(", ")}")
      intercept[Exception](spark.sql(s"SHOW TABLES IN $cat.ghost").collect())
      intercept[Exception](spark.sql(s"SELECT * FROM $cat.ghost.T").collect())
      val ddl = intercept[UnsupportedOperationException](spark.sql(s"CREATE TABLE $cat.main.x (a INT)"))
      assert(ddl.getMessage.startsWith(s"$kind catalog does not support CREATE TABLE"), ddl.getMessage)
    }
    odata.postedItems.clear()
    odata.batchBodies.clear()
    for (cat <- Seq("shell_sac", "shell_business_central")) intercept[Exception] {
      spark.sql(s"INSERT INTO $cat.main.Customers VALUES " +
        "('X', 'Nope', 'DE', 1, TIMESTAMP '2024-01-01 00:00:00')")
    }
    // rejected at planning: nothing reached the service
    assert(odata.postedItems.isEmpty && odata.batchBodies.isEmpty)
  }
}
