package graft.sources.http

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** `http_get/head/post/put/patch/delete` as one-row DataFrames — the port of
  * the reference's web table functions (`src/web_functions.cpp:250-345`).
  * Output schema matches `HttpResponse::GetResultNames/Types`
  * (`src/include/web_functions.hpp:17-32`): method, status, url, headers
  * (the HTTP_HEADER logical type = map<string,string>,
  * `src/erpl_web_extension.cpp:256`), content_type, content.
  *
  * A single HTTP call is driver-side work — wrapping it in a DSv2 scan would
  * buy nothing; the DataFrame result composes with joins/LATERAL-style use
  * downstream. For bulk per-row calls see [[HttpMutations.mapHttp]].
  */
object HttpFunctions {

  val responseSchema: StructType = StructType(Seq(
    StructField("method", StringType),
    StructField("status", ShortType),
    StructField("url", StringType),
    StructField("headers", MapType(StringType, StringType)),
    StructField("content_type", StringType),
    StructField("content", StringType)))

  private def toDf(spark: SparkSession, method: String, r: HttpResult): DataFrame = {
    val row = Row(method, r.status.toShort, r.url, r.headers, r.contentType, r.text)
    spark.createDataFrame(java.util.List.of(row), responseSchema)
  }

  def httpGet(spark: SparkSession, url: String,
              headers: Map[String, String] = Map.empty,
              auth: HttpAuth = HttpAuth()): DataFrame =
    toDf(spark, "GET", HttpCore.shared.get(url, headers, auth))

  def httpHead(spark: SparkSession, url: String,
               headers: Map[String, String] = Map.empty,
               auth: HttpAuth = HttpAuth()): DataFrame =
    toDf(spark, "HEAD", HttpCore.shared.request("HEAD", url, None, headers, auth))

  def httpPost(spark: SparkSession, url: String, body: String,
               contentType: String = "application/json",
               headers: Map[String, String] = Map.empty,
               auth: HttpAuth = HttpAuth()): DataFrame =
    toDf(spark, "POST", HttpCore.shared.request("POST", url, Some((body, contentType)), headers, auth))

  def httpPut(spark: SparkSession, url: String, body: String,
              contentType: String = "application/json",
              headers: Map[String, String] = Map.empty,
              auth: HttpAuth = HttpAuth()): DataFrame =
    toDf(spark, "PUT", HttpCore.shared.request("PUT", url, Some((body, contentType)), headers, auth))

  def httpPatch(spark: SparkSession, url: String, body: String,
                contentType: String = "application/json",
                headers: Map[String, String] = Map.empty,
                auth: HttpAuth = HttpAuth()): DataFrame =
    toDf(spark, "PATCH", HttpCore.shared.request("PATCH", url, Some((body, contentType)), headers, auth))

  def httpDelete(spark: SparkSession, url: String,
                 headers: Map[String, String] = Map.empty,
                 auth: HttpAuth = HttpAuth()): DataFrame =
    toDf(spark, "DELETE", HttpCore.shared.request("DELETE", url, None, headers, auth))
}
