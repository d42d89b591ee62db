package graft.writes

import graft.SparkSpecBase
import graft.sources.services.Excel
import graft.testkit.{GraphStub, ODataStub}

/** Every REST sink write goes through [[RestChanges]], so every writer
  * family fails a refused change the same way: `<METHOD> <full url> -> HTTP
  * <status>` somewhere in the failure's message chain. */
class RestChangesSpec extends SparkSpecBase {

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

  private def messages(t: Throwable): String =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
      .map(e => s"${e.getClass.getName}: ${e.getMessage}").mkString("\n")

  test("every writer family fails a refused change with <METHOD> <full url> -> HTTP 404") {
    import spark.implicits._
    val cat = s"wfail${odata.port}"
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.odata.ODataCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.url", odata.serviceUrl)
    val unknownList = "99999999-9999-9999-9999-999999999999"
    val cases: Seq[(String, () => Unit, String)] = Seq(
      ("rest-items POST to a missing path",
        () => Seq(("a", 1)).toDF("k", "v").write.format("rest-items")
          .option("url", s"${graph.baseUrl}/nowhere").mode("append").save(),
        s"POST ${graph.baseUrl}/nowhere -> HTTP 404"),
      ("unbatched catalog UPDATE of a failing key",
        () => spark.sql(s"UPDATE $cat.main.Customers SET CompanyName = 'x' WHERE CustomerID = 'C03'"),
        s"PATCH ${odata.serviceUrl}/Customers('C03') -> HTTP 404"),
      ("unbatched catalog DELETE of a failing key",
        () => spark.sql(s"DELETE FROM $cat.main.Customers WHERE CustomerID = 'C03'"),
        s"DELETE ${odata.serviceUrl}/Customers('C03') -> HTTP 404"),
      ("SharePoint INSERT into an unknown list",
        () => Seq(("t", 1.0)).toDF("Title", "Amount").write.format("sharepoint-list")
          .option("url", graph.baseUrl).option("site", graph.SiteId)
          .option("list", unknownList).mode("append").save(),
        s"POST ${graph.baseUrl}/sites/${graph.SiteId}/lists/$unknownList/items -> HTTP 404"),
      ("Excel deleteRows on a missing row",
        () => Excel.deleteRows(spark, "book.xlsx", "Sales", colIndex = 0, colValue = "North",
          baseUrl = graph.baseUrl),
        s"DELETE ${Excel.itemUrl(graph.baseUrl, "book.xlsx")}" +
          "/workbook/tables/Sales/rows/itemAt(index=2) -> HTTP 404"))
    odata.failKeys = Set("C03")
    graph.failRowDeletes = true
    try cases.foreach { case (name, run, expected) =>
      val err = intercept[Exception](run())
      assert(messages(err).contains(expected), s"$name:\n${messages(err)}")
    } finally {
      odata.failKeys = Set.empty
      graph.failRowDeletes = false
      spark.conf.unset(s"spark.sql.catalog.$cat.url")
      spark.conf.unset(s"spark.sql.catalog.$cat")
    }
  }
}
