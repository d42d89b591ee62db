package graft.sources

import graft.SparkSpecBase
import graft.testkit.ODataStub
import graft.sources.deltashare.{DeltaShare, DeltaShareClient, DeltaShareProfile}
import graft.sources.http.{Charsets, HttpFunctions, HttpStatusError}
import graft.writes.RestWrites
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll

/** Delta Sharing, http_* functions, REST writes, charset conversion —
  * against the in-process stub. */
class MiscSourcesSpec extends SparkSpecBase with BeforeAndAfterAll {

  var stub: ODataStub = _
  override def beforeAll(): Unit = {
    stub = new ODataStub(v2 = false).start()
    super.beforeAll()
  }
  override def afterAll(): Unit = { if (stub != null) stub.stop(); super.afterAll() }

  private def profile = DeltaShareProfile(s"http://localhost:${stub.port}", Some("tok"))

  test("delta sharing: discovery listings") {
    assert(DeltaShare.showShares(spark, profile).collect().map(_.getString(0)).toSeq == Seq("sales"))
    assert(DeltaShare.showSchemas(spark, profile, "sales").collect()
      .map(r => (r.getString(0), r.getString(1))).toSeq == Seq(("sales", "core")))
    assert(DeltaShare.showTables(spark, profile, "sales", "core").collect()
      .map(_.getString(2)).toSeq == Seq("tx"))
  }

  test("delta sharing: a queryTable answered 403 fails with HttpStatusError carrying the URL") {
    val path = "/shares/sales/schemas/core/tables/tx/query"
    stub.extraStatuses.synchronized { stub.extraStatuses(path) = (403, Map.empty) }
    try {
      val e = intercept[HttpStatusError](
        new DeltaShareClient(profile).queryTable("sales", "core", "tx"))
      assert(e.status == 403 && e.url == profile.endpoint + path, e.getMessage)
      assert(e.getMessage.startsWith(s"POST ${profile.endpoint}$path -> HTTP 403"), e.getMessage)
    } finally stub.extraStatuses.synchronized { stub.extraStatuses.remove(path) }
  }

  test("delta sharing: query + parallel presigned download + parquet read") {
    import spark.implicits._
    // build two deterministic parquet files to share
    val dir = java.nio.file.Files.createTempDirectory("share-src")
    val df = (0 until 100).map(i => (i.toLong, s"item$i", i * 1.5)).toDF("id", "name", "v")
    df.repartition(2).write.parquet(dir.toString + "/tx")
    val files = java.nio.file.Files.list(java.nio.file.Paths.get(dir.toString + "/tx"))
      .toArray.map(_.asInstanceOf[java.nio.file.Path])
      .filter(_.toString.endsWith(".parquet")).toSeq
    stub.shareFiles = files
    stub.shareSchemaJson = df.schema.json

    val out = DeltaShare.read(spark, profile, "sales", "core", "tx")
    assert(out.count() == 100)
    assert(out.schema.fieldNames.toSeq == Seq("id", "name", "v"))
    assert(out.agg(sum("id")).head().getLong(0) == 4950L)
  }

  test("delta sharing: presigned file GETs send no Authorization, only the share's own calls do") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("share-auth")
    val df = (0 until 10).map(i => (i.toLong, s"item$i", i * 1.5)).toDF("id", "name", "v")
    df.coalesce(1).write.parquet(dir.toString + "/tx")
    stub.shareFiles = java.nio.file.Files.list(java.nio.file.Paths.get(dir.toString + "/tx"))
      .toArray.map(_.asInstanceOf[java.nio.file.Path]).filter(_.toString.endsWith(".parquet")).toSeq
    stub.shareSchemaJson = df.schema.json
    stub.fileAuth.synchronized { stub.fileAuth.clear() }
    stub.requests.synchronized { stub.requests.clear() }
    assert(DeltaShare.read(spark, profile, "sales", "core", "tx").count() == 10)
    assert(stub.fileAuth.synchronized { stub.fileAuth.toList } == List(None))
    // the sharing server itself was queried (with the profile's token)
    assert(stub.requests.synchronized { stub.requests.exists(_.endsWith("/tx/query")) })
  }

  test("delta sharing: attach registers SQL views for every shared table") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("share-att")
    val df = (0 until 40).map(i => (i.toLong, s"a$i")).toDF("id", "name")
    df.coalesce(1).write.parquet(dir.toString + "/tx")
    stub.shareFiles = java.nio.file.Files.list(java.nio.file.Paths.get(dir.toString + "/tx"))
      .toArray.map(_.asInstanceOf[java.nio.file.Path])
      .filter(_.toString.endsWith(".parquet")).toSeq
    stub.shareSchemaJson = df.schema.json
    val views = DeltaShare.attach(spark, profile, prefix = "ds_")
    assert(views == Seq("ds_sales_core_tx"))
    assert(spark.sql("SELECT count(*) FROM ds_sales_core_tx").head().getLong(0) == 40L)
  }

  test("delta sharing: profile loads through Hadoop FS (plain path, file:// URI) and http") {
    val json =
      s"""{"shareCredentialsVersion":1,"endpoint":"http://localhost:${stub.port}","bearerToken":"tok"}"""
    val f = java.nio.file.Files.createTempFile("ds-profile", ".share")
    java.nio.file.Files.writeString(f, json)
    // plain local path and an explicit file:// URI both resolve via Hadoop FS
    // (the same resolver the presigned data files use) — the reference loads
    // the profile through its engine FS too (delta_share_scan.cpp:33)
    for (path <- Seq(f.toString, f.toUri.toString)) {
      val p = DeltaShareProfile.fromFile(path,
        spark.sparkContext.hadoopConfiguration)
      assert(p.endpoint == s"http://localhost:${stub.port}")
      assert(p.bearerToken.contains("tok"))
      assert(DeltaShare.showShares(spark, p).collect().map(_.getString(0)).toSeq == Seq("sales"))
    }
    // http(s) profile URL fetched via HttpCore
    stub.extraBodies(("GET", "/profile.share")) = json
    val ph = DeltaShareProfile.fromFile(s"http://localhost:${stub.port}/profile.share")
    assert(ph.endpoint == s"http://localhost:${stub.port}")
    // missing profile fails with the path in the error, not a silent default
    val missing = intercept[Exception] {
      DeltaShareProfile.fromFile("/nonexistent/graft-profile.share")
    }
    assert(missing.getMessage.contains("graft-profile"))
  }

  test("http_get returns the reference response shape (headers as map)") {
    val df = HttpFunctions.httpGet(spark, stub.serviceUrl + "/Customers?$top=1")
    val r = df.head()
    assert(r.getAs[String]("method") == "GET")
    assert(r.getAs[Short]("status") == 200)
    assert(r.getAs[Map[String, String]]("headers").contains("content-type"))
    assert(r.getAs[String]("content").contains("CustomerID"))
    assert(df.schema("headers").dataType.typeName == "map")
  }

  test("http_post round-trips a body") {
    val df = HttpFunctions.httpPost(spark, s"http://localhost:${stub.port}/items",
      """{"hello":"world"}""")
    assert(df.head().getAs[Short]("status") == 201)
    assert(stub.postedItems.exists(_.contains("hello")))
  }

  test("df.write.format(rest-items) POSTs one JSON object per row") {
    import spark.implicits._
    stub.postedItems.clear()
    val df = Seq(("a", 1L), ("b", 2L), ("O'\"quote", 3L)).toDF("name", "qty")
    df.write.format("rest-items")
      .option("url", s"http://localhost:${stub.port}/items")
      .mode("append").save()
    assert(stub.postedItems.size == 3)
    assert(stub.postedItems.exists(_.contains(""""name":"a"""")))
    assert(stub.postedItems.exists(_.contains(""""qty":2""")))
    assert(stub.postedItems.exists(_.contains("""O'\"quote""")))
  }

  test("rest-items with batchSize sends $batch round-trips instead of per-row POSTs") {
    import spark.implicits._
    stub.postedItems.clear()
    stub.batchBodies.clear()
    val df = (1 to 10).map(i => (s"n$i", i.toLong)).toDF("name", "qty").repartition(1)
    df.write.format("rest-items")
      .option("url", s"http://localhost:${stub.port}/items")
      .option("batchUrl", s"http://localhost:${stub.port}/svc/$$batch")
      .option("batchSize", "4")
      .mode("append").save()
    assert(stub.postedItems.size == 10)
    assert((1 to 10).forall(i => stub.postedItems.exists(_.contains(s""""name":"n$i""""))))
    // one partition, 10 rows, size 4 -> exactly 3 round-trips (4+4+2)
    assert(stub.batchBodies.size == 3, stub.batchBodies.map(_.take(60)).toString)
  }

  test("mapHttp per-row mutation returns status + response per input row") {
    import spark.implicits._
    stub.postedItems.clear()
    val df = Seq(("x", 10), ("y", 20)).toDF("k", "v")
    val itemsUrl = s"http://localhost:${stub.port}/items" // local: lambdas must not capture the suite
    val out = RestWrites.mapHttp(df, "POST",
      _ => itemsUrl,
      Some((r: Row) => s"""{"k":"${r.getString(0)}"}"""))
    val rows = out.collect()
    assert(rows.length == 2 && rows.forall(_.getAs[Int]("status") == 201))
    assert(stub.postedItems.size == 2)
  }

  test("charset conversion honors Content-Type (ISO-8859-1, windows-1252)") {
    val eurocents = Array[Byte](0x80.toByte) // € in windows-1252
    assert(Charsets.toUtf8(eurocents, "text/plain; charset=windows-1252") == "€")
    val latin = Array[Byte](0xE9.toByte) // é in ISO-8859-1
    assert(Charsets.toUtf8(latin, "text/plain; charset=ISO-8859-1") == "é")
    assert(Charsets.toUtf8("ok".getBytes, "application/json") == "ok")
  }
}
