package graft.sources.services

import graft.SparkSpecBase
import graft.testkit.GraphStub
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll

/** Excel workbook surface e2e (reference `graph_excel_functions.cpp` +
  * `graph_excel_catalog.cpp`): listing, worksheets, tables, table data,
  * delete-by-value, and the writable ATTACH catalog. */
class ExcelSpec extends SparkSpecBase with BeforeAndAfterAll {

  private var stub: GraphStub = _
  private def base: String = stub.baseUrl

  override def beforeAll(): Unit = {
    super.beforeAll()
    stub = new GraphStub().start()
  }
  override def afterAll(): Unit = {
    if (stub != null) stub.stop()
    super.afterAll()
  }

  test("graph_list_files: files and folders with mime/is_folder") {
    val f = Excel.listFiles(spark, base).orderBy("id").collect()
    assert(f.length == 2)
    assert(f.head.getAs[String]("name") == "book.xlsx")
    assert(f.head.getAs[String]("mime_type").contains("spreadsheetml"))
    assert(!f.head.getAs[Boolean]("is_folder"))
    assert(f(1).getAs[Boolean]("is_folder"))
    assert(f(1).getAs[String]("mime_type") == null)
  }

  test("graph_excel_worksheets and graph_excel_tables") {
    val ws = Excel.worksheets(spark, "book.xlsx", base).orderBy("position").collect()
    assert(ws.map(_.getAs[String]("name")).toSeq == Seq("Sheet1", "Data"))
    val t = Excel.tables(spark, "book.xlsx", base).collect()
    assert(t.head.getAs[String]("name") == "Sales")
    assert(t.head.getAs[Boolean]("show_headers"))
  }

  test("graph_excel_table_data: columns from the columns endpoint, rows flattened") {
    val df = Excel.tableData(spark, "book.xlsx", "Sales", base)
    assert(df.columns.toSeq == Seq("Region", "Qty", "Price"))
    val rows = df.orderBy("Region", "Qty").collect()
    assert(rows.length == 3)
    assert(rows.map(_.getString(0)).toSeq == Seq("North", "North", "South"))
    assert(rows.map(_.getString(1)).toSeq == Seq("2", "3", "5"))
  }

  test("graph_excel_delete_rows deletes matches highest-index-first") {
    stub.deletedRowIndexes.clear()
    val out = Excel.deleteRows(spark, "book.xlsx", "Sales",
      colIndex = 0, colValue = "North", baseUrl = base).collect()
    assert(out.head.getAs[Long]("rows_deleted") == 2L)
    assert(stub.deletedRowIndexes.toSeq == Seq(2, 0)) // descending
  }

  test("excel_workbook ATTACH catalog: list, read, INSERT appends via rows/add") {
    stub.appendedRows.clear()
    val item = Excel.itemUrl(base, "book.xlsx")
    spark.conf.set("spark.sql.catalog.wb",
      "graft.sources.services.ExcelWorkbookCatalog")
    spark.conf.set("spark.sql.catalog.wb.url", item)
    try {
      val tables = spark.sql("SHOW TABLES IN wb.main").collect()
      assert(tables.exists(_.getAs[String]("tableName") == "Sales"))
      val df = spark.sql("SELECT Region, Qty FROM wb.main.Sales WHERE Region = 'South'")
      val rows = df.collect()
      assert(rows.length == 1 && rows.head.getString(1) == "5")
      spark.sql("INSERT INTO wb.main.Sales VALUES ('East', '7', '9.99')")
      assert(stub.appendedRows.nonEmpty)
      assert(stub.appendedRows.head.contains("""["East","7","9.99"]"""))
    } finally {
      spark.conf.unset("spark.sql.catalog.wb.url")
      spark.conf.unset("spark.sql.catalog.wb")
    }
  }

  test("sheetData reads the used range through the values-matrix decoder") {
    val df = Excel.sheetData(spark, "book.xlsx", "Sheet1", baseUrl = base)
    assert(df.columns.toSeq == Seq("Name", "Qty"))
    assert(df.count() == 2)
    assert(stub.requests.exists(_.contains(":/workbook/worksheets/Sheet1/usedRange")))
  }

  test("excel_workbook catalog resolves a table once; REFRESH TABLE resolves it again") {
    spark.conf.set("spark.sql.catalog.wbr", "graft.sources.services.ExcelWorkbookCatalog")
    spark.conf.set("spark.sql.catalog.wbr.url", Excel.itemUrl(base, "book.xlsx"))
    try {
      stub.requests.clear()
      def resolutions(): (Int, Int) = {
        val gets = stub.requests.filter(_.startsWith("GET ")).map(_.takeWhile(_ != '?'))
        (gets.count(_.endsWith("/workbook/tables")), gets.count(_.endsWith("/columns")))
      }
      spark.sql("SELECT Region FROM wbr.main.Sales").collect()
      spark.sql("INSERT INTO wbr.main.Sales VALUES ('West', '1', '1.00')")
      assert(resolutions() == ((1, 1)), stub.requests.mkString("\n"))
      spark.sql("REFRESH TABLE wbr.main.Sales")
      spark.sql("SELECT Region FROM wbr.main.Sales").collect()
      assert(resolutions() == ((2, 2)), stub.requests.mkString("\n"))
    } finally {
      spark.conf.unset("spark.sql.catalog.wbr.url")
      spark.conf.unset("spark.sql.catalog.wbr")
    }
  }
}
