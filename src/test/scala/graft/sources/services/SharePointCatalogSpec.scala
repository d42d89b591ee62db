package graft.sources.services

import graft.SparkSpecBase
import graft.testkit.GraphStub
import org.scalatest.BeforeAndAfterAll

/** The read-write `sharepoint_lists` ATTACH catalog end-to-end: SHOW TABLES,
  * typed SELECT (filters evaluated in Spark — projection-only pushdown like
  * the reference), INSERT (fields wrapper), UPDATE (PATCH items/{id}/fields),
  * DELETE (DELETE items/{id}), each sent with the catalog's credentials. */
class SharePointCatalogSpec extends SparkSpecBase with BeforeAndAfterAll {

  private var stub: GraphStub = _

  override def beforeAll(): Unit = {
    super.beforeAll()
    stub = new GraphStub().start()
    spark.conf.set("spark.sql.catalog.sp",
      "graft.sources.services.SharePointListsCatalog")
    spark.conf.set("spark.sql.catalog.sp.url", stub.baseUrl)
    spark.conf.set("spark.sql.catalog.sp.site", "Finance")
  }
  override def afterAll(): Unit = {
    spark.conf.unset("spark.sql.catalog.sp.site")
    spark.conf.unset("spark.sql.catalog.sp.url")
    spark.conf.unset("spark.sql.catalog.sp")
    if (stub != null) stub.stop()
    super.afterAll()
  }

  test("SHOW TABLES lists the site's lists by display name") {
    val tables = spark.sql("SHOW TABLES IN sp.main").collect()
    assert(tables.exists(_.getAs[String]("tableName") == "Budget List"))
  }

  test("SELECT reads facet-typed rows; WHERE stays residual (projection-only pushdown)") {
    stub.requests.clear()
    val rows = spark.sql(
      "SELECT id, Title, Amount FROM sp.main.`Budget List` WHERE Amount > 5.0").collect()
    assert(rows.map(_.getString(1)).sorted.toSeq == Seq("Item 4", "Item 5", "Item 6", "Item 7"))
    // the items endpoint must NOT have been sent a $filter
    assert(!stub.requests.exists(r => r.contains("/items") && r.contains("$filter")),
      stub.requests.filter(_.contains("/items")).toString)
    // projection reaches the wire as the Graph-API shape
    // $select=id&$expand=fields($select=...) — projected names are
    // fields-payload keys, and real Graph 400s them in a top-level $select
    // (the stub now emulates that rejection)
    val itemReqs = stub.requests.filter(r => r.contains("/items?"))
    assert(itemReqs.exists(r => r.contains("fields($select=")),
      s"expected narrowing inside expand in $itemReqs")
  }

  test("ORDER BY + LIMIT on a list stays Spark-side: no $orderby of fields keys") {
    stub.requests.clear()
    val rows = spark.sql(
      "SELECT Title, Amount FROM sp.main.`Budget List` ORDER BY Amount DESC LIMIT 2")
      .collect()
    assert(rows.map(_.getString(0)).toSeq == Seq("Item 7", "Item 6"))
    assert(!stub.requests.exists(r => r.contains("/items") && r.contains("$orderby")),
      stub.requests.filter(_.contains("/items")).toString)
  }

  test("empty projection (SELECT 1) never renders a malformed fields($select=)") {
    stub.requests.clear()
    val n = spark.sql("SELECT 1 FROM sp.main.`Budget List`").collect().length
    assert(n == 7)
    val bad = stub.requests.filter(_.contains("fields($select=)"))
    assert(bad.isEmpty, bad.toString)
  }

  test("INSERT INTO POSTs items with the fields wrapper") {
    stub.createdItems.clear()
    spark.sql(
      """INSERT INTO sp.main.`Budget List`
        |SELECT 'x' AS id, 'From SQL' AS Title, 42.0 AS Amount, true AS Approved,
        |       TIMESTAMP '2024-06-01 00:00:00' AS DueDate, 3.5 AS Cost""".stripMargin)
    assert(stub.createdItems.size == 1, stub.createdItems.toString)
    assert(stub.createdItems.head.startsWith("""{"fields":{"""))
    assert(stub.createdItems.head.contains(""""Title":"From SQL""""))
    assert(!stub.createdItems.head.contains(""""id":""")) // id never sent
  }

  test("SQL UPDATE PATCHes exactly the matching item fields") {
    stub.patchedItems.clear()
    spark.sql("UPDATE sp.main.`Budget List` SET Title = 'Renamed' WHERE id = '3'")
    assert(stub.patchedItems.map(_._1).toSeq == Seq("3"), stub.patchedItems.toString)
    assert(stub.patchedItems.head._2.contains(""""Title":"Renamed""""))
  }

  test("with bearertoken, every request of SHOW TABLES, SELECT, INSERT, UPDATE and DELETE carries it") {
    spark.conf.set("spark.sql.catalog.spb", "graft.sources.services.SharePointListsCatalog")
    spark.conf.set("spark.sql.catalog.spb.url", stub.baseUrl)
    spark.conf.set("spark.sql.catalog.spb.site", "Finance")
    spark.conf.set("spark.sql.catalog.spb.bearertoken", "sp-token")
    try {
      stub.requests.clear()
      stub.authorizations.clear()
      spark.sql("SHOW TABLES IN spb.main").collect()
      spark.sql("SELECT id, Title FROM spb.main.`Budget List`").collect()
      spark.sql(
        """INSERT INTO spb.main.`Budget List`
          |SELECT 'x' AS id, 'Bearer' AS Title, 1.0 AS Amount, true AS Approved,
          |       TIMESTAMP '2024-06-01 00:00:00' AS DueDate, 1.0 AS Cost""".stripMargin)
      spark.sql("UPDATE spb.main.`Budget List` SET Title = 'Bearer' WHERE id = '3'")
      spark.sql("DELETE FROM spb.main.`Budget List` WHERE id = '5'")
      assert(stub.requests.map(_.takeWhile(_ != ' ')).toSet ==
        Set("GET", "POST", "PATCH", "DELETE"), stub.requests.toString)
      assert(stub.authorizations.nonEmpty &&
        stub.authorizations.forall(_ == "Bearer sp-token"),
        stub.requests.zip(stub.authorizations).filterNot(_._2 == "Bearer sp-token").toString)
    } finally {
      Seq("bearertoken", "site", "url").foreach(k => spark.conf.unset(s"spark.sql.catalog.spb.$k"))
      spark.conf.unset("spark.sql.catalog.spb")
    }
  }

  test("SELECT, INSERT, UPDATE and DELETE of one list resolve it once; REFRESH TABLE resolves it again") {
    spark.conf.set("spark.sql.catalog.spr", "graft.sources.services.SharePointListsCatalog")
    spark.conf.set("spark.sql.catalog.spr.url", stub.baseUrl)
    spark.conf.set("spark.sql.catalog.spr.site", "Finance")
    try {
      stub.requests.clear()
      def resolutions(): (Int, Int) = {
        val gets = stub.requests.filter(_.startsWith("GET ")).map(_.takeWhile(_ != '?'))
        (gets.count(_.endsWith("/lists")), gets.count(_.endsWith("/columns")))
      }
      spark.sql("SELECT id, Title FROM spr.main.`Budget List`").collect()
      spark.sql(
        """INSERT INTO spr.main.`Budget List`
          |SELECT 'x' AS id, 'Once' AS Title, 1.0 AS Amount, true AS Approved,
          |       TIMESTAMP '2024-06-01 00:00:00' AS DueDate, 1.0 AS Cost""".stripMargin)
      spark.sql("UPDATE spr.main.`Budget List` SET Title = 'Once' WHERE id = '3'")
      spark.sql("DELETE FROM spr.main.`Budget List` WHERE id = '5'")
      assert(resolutions() == ((1, 1)), stub.requests.mkString("\n"))
      spark.sql("REFRESH TABLE spr.main.`Budget List`")
      spark.sql("SELECT id FROM spr.main.`Budget List`").collect()
      assert(resolutions() == ((2, 2)), stub.requests.mkString("\n"))
    } finally {
      Seq("site", "url").foreach(k => spark.conf.unset(s"spark.sql.catalog.spr.$k"))
      spark.conf.unset("spark.sql.catalog.spr")
    }
  }

  test("SQL DELETE removes exactly the matching items") {
    stub.deletedItems.clear()
    spark.sql("DELETE FROM sp.main.`Budget List` WHERE Amount < 3.0")
    // items 1 (1.5) and 2 (3.0 -> no) ... Amount = i*1.5: item1=1.5, item2=3.0
    assert(stub.deletedItems.sorted.toSeq == Seq("1"), stub.deletedItems.toString)
  }
}
