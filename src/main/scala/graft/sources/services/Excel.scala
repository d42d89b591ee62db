package graft.sources.services

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.http.{HttpAuth, HttpCore, SecretRegistry}
import graft.sources.odata.{ODataJson, ODataPages}

/** OneDrive/SharePoint Excel workbook surface via the Graph workbook API —
  * the port of `graph_excel_functions.cpp` (1,112 LoC): file listing,
  * worksheets, named tables, table data, range reads, delete-by-value, and
  * (in [[ExcelWorkbookCatalog]]) the writable ATTACH catalog.
  *
  * Workbook item addressing follows the reference's URL builder
  * (`graph_excel_client.cpp:17-100`): a drive path `Book.xlsx` becomes
  * `/me/drive/root:/Book.xlsx:` (or `/drives/{id}/root:/...:`), and every
  * workbook endpoint hangs off `{item}/workbook`.
  *
  * Table data flattens the Graph rows shape (`{"values": [[...]]}` per row
  * item) into one string column per table column — Excel cells are
  * dynamically typed, so everything lands as StringType and callers cast
  * (the same trade-off the reference makes landing cells as VARCHAR).
  */
object Excel {

  /** Workbook item URL for a drive path (reference BuildDriveItemByPathUrl /
    * BuildDriveItemByPathWithDriveUrl). */
  def itemUrl(baseUrl: String, filePath: String, driveId: Option[String] = None): String = {
    val base = baseUrl.stripSuffix("/")
    val clean = filePath.stripPrefix("/")
    driveId match {
      case Some(d) => s"$base/drives/$d/root:/$clean:"
      case None    => s"$base/me/drive/root:/$clean:"
    }
  }

  private def auth(spark: SparkSession, url: String, secret: Option[String]): HttpAuth =
    SecretRegistry.authFor(spark, url, secret)

  /** Drive file listing (reference `graph_list_files`). */
  def listFiles(spark: SparkSession, baseUrl: String = Graph.DefaultBaseUrl,
                driveId: Option[String] = None,
                secret: Option[String] = None): DataFrame = {
    val base = baseUrl.stripSuffix("/")
    val url = driveId.map(d => s"$base/drives/$d/root/children")
      .getOrElse(s"$base/me/drive/root/children")
    Graph.fixedRead(spark, url,
      "id STRING, name STRING, webUrl STRING, size BIGINT, " +
        "createdDateTime STRING, lastModifiedDateTime STRING, " +
        "file STRUCT<mimeType: STRING>, folder STRUCT<childCount: INT>", secret)
      .select(col("id"), col("name"), col("webUrl").as("web_url"), col("size"),
        col("createdDateTime").as("created_at"),
        col("lastModifiedDateTime").as("modified_at"),
        col("file.mimeType").as("mime_type"),
        col("folder").isNotNull.as("is_folder"))
  }

  /** Worksheet listing (reference `graph_excel_worksheets`). */
  def worksheets(spark: SparkSession, filePath: String,
                 baseUrl: String = Graph.DefaultBaseUrl,
                 driveId: Option[String] = None,
                 secret: Option[String] = None): DataFrame =
    Graph.fixedRead(spark, s"${itemUrl(baseUrl, filePath, driveId)}/workbook/worksheets",
      "name STRING, id STRING, position INT, visibility STRING", secret)

  /** Named-table listing (reference `graph_excel_tables`). */
  def tables(spark: SparkSession, filePath: String,
             baseUrl: String = Graph.DefaultBaseUrl,
             driveId: Option[String] = None,
             secret: Option[String] = None): DataFrame =
    Graph.fixedRead(spark, s"${itemUrl(baseUrl, filePath, driveId)}/workbook/tables",
      "name STRING, id STRING, showHeaders BOOLEAN, showTotals BOOLEAN", secret)
      .select(col("name"), col("id"), col("showHeaders").as("show_headers"),
        col("showTotals").as("show_totals"))

  /** Column names of a named table, in sheet order (driver-side — bounded by
    * the table's width). */
  def tableColumnNames(itemUrl: String, table: String, a: HttpAuth): Seq[String] = {
    val url = s"$itemUrl/workbook/tables/$table/columns?$$select=id,index,name"
    ODataPages.walk(url, a, ODataJson.tree).flatMap(_.page.rows).map { c =>
      (Option(c.get("index")).map(_.asInt).getOrElse(0),
        Option(c.get("name")).map(_.asText).getOrElse(""))
    }.toSeq.sortBy(_._1).map(_._2)
  }

  /** Typed read of a named table (reference `graph_excel_table_data`): column
    * names from the columns endpoint, rows from the paged `/rows` scan —
    * still the DSv2 reader (row items decode as `values ARRAY<ARRAY<STRING>>`
    * and flatten in Catalyst projections). */
  def tableData(spark: SparkSession, filePath: String, table: String,
                baseUrl: String = Graph.DefaultBaseUrl,
                driveId: Option[String] = None,
                secret: Option[String] = None): DataFrame = {
    val item = itemUrl(baseUrl, filePath, driveId)
    val names = tableColumnNames(item, table, auth(spark, item, secret))
    val raw = Graph.fixedRead(spark, s"$item/workbook/tables/$table/rows",
      "index INT, `values` ARRAY<ARRAY<STRING>>", secret)
    val row = element_at(col("values"), 1)
    raw.select(names.zipWithIndex.map { case (n, i) =>
      try_element_at(row, lit(i + 1)).as(n)
    }: _*)
  }

  /** Used-range worksheet read (reference `graph_excel_sheet` family) through
    * the existing values-matrix decoder. */
  def sheetData(spark: SparkSession, filePath: String, sheet: String,
                range: Option[String] = None,
                baseUrl: String = Graph.DefaultBaseUrl,
                driveId: Option[String] = None,
                secret: Option[String] = None): DataFrame = {
    val item = itemUrl(baseUrl, filePath, driveId)
    val url = range match {
      case Some(r) => s"$item/workbook/worksheets/$sheet/range(address='$r')"
      case None    => s"$item/workbook/worksheets/$sheet/usedRange"
    }
    Services.excelRange(spark, url, headerRow = true, secret)
  }

  /** Delete-by-column-value (reference `graph_excel_delete_rows`,
    * README.md:928): find matching row indexes, DELETE
    * `rows/itemAt(index=N)` highest-first (deletes shift subsequent
    * indexes), return one row `(rows_deleted)`. */
  def deleteRows(spark: SparkSession, filePath: String, table: String,
                 colIndex: Int, colValue: String,
                 baseUrl: String = Graph.DefaultBaseUrl,
                 driveId: Option[String] = None,
                 secret: Option[String] = None): DataFrame = {
    import spark.implicits._
    val item = itemUrl(baseUrl, filePath, driveId)
    val a = auth(spark, item, secret)
    val rowsUrl = s"$item/workbook/tables/$table/rows"
    val matches = ODataPages.walk(rowsUrl, a, ODataJson.tree).flatMap(_.page.rows).filter { r =>
      val values = r.get("values")
      val cell =
        if (values != null && values.isArray && values.size() > 0 &&
          values.get(0).size() > colIndex) values.get(0).get(colIndex).asText
        else null
      cell == colValue
    }.map(r => Option(r.get("index")).map(_.asInt).getOrElse(-1)).toSeq
    val toDelete = matches.sorted.reverse
    toDelete.foreach(i => HttpCore.shared.call("DELETE", s"$rowsUrl/itemAt(index=$i)", auth = a))
    Seq(toDelete.size.toLong).toDF("rows_deleted")
  }

  /** The `rows/add` body of `rows`: `{"values": [[...], ...]}`. */
  private[services] def valuesBody(rows: Seq[Seq[String]]): String =
    rows.map(_.map {
      case null => "null"
      case s => graft.writes.JsonEncode.str(s)
    }.mkString("[", ",", "]")).mkString("""{"values":[""", ",", "]}")
}
