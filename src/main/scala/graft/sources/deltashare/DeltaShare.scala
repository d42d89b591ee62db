package graft.sources.deltashare

import java.nio.file.Files
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{DataType, StructType}
import graft.sources.http.{HttpAuth, HttpCore}
import graft.sources.odata.ODataJson
import scala.jdk.CollectionConverters._

/** Delta Sharing client — the port of the reference's delta-share scan
  * (`src/delta_share_scan.cpp`, 293 LoC + client 851 LoC; SURVEY.md §3.3):
  * profile JSON → REST discovery → `queryTable` POST returning NDJSON
  * (protocol / metaData / file lines with presigned URLs) → parallel Parquet
  * read.
  *
  * Where the reference hand-rolls a lock-free work queue claiming one file
  * per thread (`delta_share_scan.cpp:203-265`), Spark's Parquet source
  * already parallelizes per file and row-group — `spark.read.parquet(urls)`
  * IS the scan. Presigned-URL expiry forces eager listing, same as the
  * reference's InitGlobal.
  *
  * Presigned `https://` URLs are not a Hadoop filesystem; [[read]] fetches
  * them executor-side in parallel into `downloadDir` (shared storage on a
  * real cluster) and reads the local copies. `file://` URLs are read
  * directly.
  */
final case class DeltaShareProfile(endpoint: String, bearerToken: Option[String]) {
  def auth: HttpAuth = HttpAuth(bearer = bearerToken)
}

object DeltaShareProfile {
  /** Profile file: {"shareCredentialsVersion":1,"endpoint":...,"bearerToken":...}
    *
    * Resolved the same way the reference resolves it — through the engine's
    * pluggable filesystem (`delta_share_scan.cpp:33` loads the profile via
    * DuckDB's FileSystem, which covers S3/Azure/http) — here that is Hadoop's
    * FileSystem: plain and `file:` paths hit the local FS, and any deployed
    * scheme (`s3a://`, `abfss://`, `hdfs://`) works unchanged. `http(s)://`
    * profiles are fetched via [[HttpCore]] (Hadoop has no http FS by
    * default). Pass the session's `hadoopConfiguration` so `fs.*` settings
    * (credentials, endpoints) apply; the no-arg overload uses a fresh
    * default Configuration — fine for local paths. */
  def fromFile(path: String): DeltaShareProfile =
    fromFile(path, new org.apache.hadoop.conf.Configuration())
  def fromFile(path: String, hadoopConf: org.apache.hadoop.conf.Configuration): DeltaShareProfile =
    if (path.startsWith("http://") || path.startsWith("https://")) {
      fromJson(HttpCore.shared.call("GET", path).text)
    } else {
      val p = new org.apache.hadoop.fs.Path(path)
      val fs = p.getFileSystem(hadoopConf)
      val in = fs.open(p)
      try fromJson(new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8))
      finally in.close()
    }
  def fromJson(json: String): DeltaShareProfile = {
    val n = ODataJson.parse(json)
    DeltaShareProfile(
      n.get("endpoint").asText.stripSuffix("/"),
      Option(n.get("bearerToken")).map(_.asText))
  }
}

final case class DeltaShareFile(url: String, id: String, size: Long)
final case class DeltaShareTableMeta(schema: StructType, partitionColumns: Seq[String])

class DeltaShareClient(profile: DeltaShareProfile, http: HttpCore = HttpCore.shared) {

  private def getJson(path: String): Seq[com.fasterxml.jackson.databind.JsonNode] = {
    val root = ODataJson.parse(http.call("GET", profile.endpoint + path, auth = profile.auth).text)
    Option(root.get("items")).map(it =>
      it.elements().asScala.toSeq).getOrElse(Seq.empty)
  }

  def listShares(): Seq[String] = getJson("/shares").map(_.get("name").asText)
  def listSchemas(share: String): Seq[String] =
    getJson(s"/shares/$share/schemas").map(_.get("name").asText)
  def listTables(share: String, schema: String): Seq[String] =
    getJson(s"/shares/$share/schemas/$schema/tables").map(_.get("name").asText)

  /** NDJSON protocol+metaData lines (reference `delta_share_scan.cpp:54-122`). */
  def tableMetadata(share: String, schema: String, table: String): DeltaShareTableMeta = {
    parseMetadata(http.call("GET",
      s"${profile.endpoint}/shares/$share/schemas/$schema/tables/$table/metadata",
      auth = profile.auth).text)
  }

  private def parseMetadata(ndjson: String): DeltaShareTableMeta = {
    val lines = ndjson.linesIterator.filter(_.nonEmpty).map(ODataJson.parse).toSeq
    val meta = lines.flatMap(l => Option(l.get("metaData"))).headOption
      .getOrElse(throw new RuntimeException("no metaData line in response"))
    val schemaString = meta.get("schemaString").asText
    val schema = DataType.fromJson(schemaString).asInstanceOf[StructType]
    val parts = Option(meta.get("partitionColumns"))
      .map(_.elements().asScala.toSeq.map(_.asText)).getOrElse(Seq.empty)
    DeltaShareTableMeta(schema, parts)
  }

  /** POST query → NDJSON list of presigned file URLs
    * (`delta_share_client.cpp:31,55-56`). */
  def queryTable(share: String, schema: String, table: String,
                 limitHint: Option[Long] = None): (DeltaShareTableMeta, Seq[DeltaShareFile]) = {
    val body = limitHint.map(l => s"""{"limitHint":$l}""").getOrElse("{}")
    val r = http.call("POST",
      s"${profile.endpoint}/shares/$share/schemas/$schema/tables/$table/query",
      Some((body, "application/json")), auth = profile.auth)
    val lines = r.text.linesIterator.filter(_.nonEmpty).map(ODataJson.parse).toSeq
    val meta = parseMetadata(r.text)
    val files = lines.flatMap(l => Option(l.get("file"))).map { f =>
      DeltaShareFile(f.get("url").asText,
        Option(f.get("id")).map(_.asText).getOrElse(""),
        Option(f.get("size")).map(_.asLong).getOrElse(0L))
    }
    (meta, files)
  }
}

object DeltaShare {

  /** Discovery listings as DataFrames (reference `delta_share_show_*`). */
  def showShares(spark: SparkSession, profile: DeltaShareProfile): DataFrame = {
    import spark.implicits._
    new DeltaShareClient(profile).listShares().toDF("share")
  }
  def showSchemas(spark: SparkSession, profile: DeltaShareProfile, share: String): DataFrame = {
    import spark.implicits._
    new DeltaShareClient(profile).listSchemas(share).map((share, _)).toDF("share", "schema")
  }
  def showTables(spark: SparkSession, profile: DeltaShareProfile, share: String, schema: String): DataFrame = {
    import spark.implicits._
    new DeltaShareClient(profile).listTables(share, schema)
      .map((share, schema, _)).toDF("share", "schema", "table")
  }

  /** ATTACH analog (the reference registers a `delta_share` storage type but
    * never implemented it — README.md:166; we deliver the queryable-name
    * semantics it planned): registers one temp view per shared table,
    * named `<prefix><share>_<schema>_<table>`. Returns the view names.
    * EAGER, like the reference scan's InitGlobal: each table's file list is
    * claimed (and presigned https files fetched) at attach time — presigned
    * URLs expire, so deferring the claim to first query would hand the view
    * dead links. Attach selectively (or use [[read]] directly) when a share
    * holds many large tables. */
  def attach(spark: SparkSession, profile: DeltaShareProfile,
             prefix: String = ""): Seq[String] = {
    val client = new DeltaShareClient(profile)
    for {
      share <- client.listShares()
      schema <- client.listSchemas(share)
      table <- client.listTables(share, schema)
    } yield {
      val view = s"$prefix${share}_${schema}_$table"
      read(spark, profile, share, schema, table).createOrReplaceTempView(view)
      view
    }
  }

  /** Read a shared table. `file://` URLs go straight to the Parquet source;
    * presigned http(s) URLs are downloaded executor-side in parallel (one
    * task per file — the distributed analog of the reference's thread-per-
    * file claim loop) into `downloadDir`, then read from there.
    *
    * `downloadDir` is resolved through Hadoop's FileSystem, so on a real
    * cluster it MUST be shared storage every node can reach (`s3a://`,
    * `hdfs://`, a mounted NFS path); a driver-local temp default would be
    * invisible to executors, so it is only applied under `local[*]` masters
    * and any other deployment without an explicit dir fails fast.
    *
    * A presigned URL carries its own authorization, and it points at a
    * storage host, not the sharing server: its GET sends no `Authorization`
    * header, so the share's bearer token never leaves for that host (and
    * storage services that reject a second credential still answer). */
  def read(spark: SparkSession, profile: DeltaShareProfile,
           share: String, schema: String, table: String,
           downloadDir: Option[String] = None): DataFrame = {
    val client = new DeltaShareClient(profile)
    val (meta, files) = client.queryTable(share, schema, table)
    if (files.isEmpty)
      return spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], meta.schema)
    val paths: Seq[String] =
      if (files.forall(_.url.startsWith("file:"))) files.map(_.url)
      else {
        val dir = downloadDir.getOrElse {
          require(spark.sparkContext.isLocal,
            "delta-share presigned files need downloadDir on SHARED storage " +
              "(s3a://, hdfs://, mounted path) when not running a local master " +
              "— a driver-local temp dir is invisible to executors")
          Files.createTempDirectory("delta-share").toUri.toString
        }
        spark.sparkContext.parallelize(files.map(f => (f.url, f.id)), files.size)
          .map { case (url, id) =>
            // executor-side: rebuild the client (never serialized), stream to
            // the shared download dir via Hadoop FS; id-keyed name dedupes
            val target = new org.apache.hadoop.fs.Path(dir, s"$id.parquet")
            val fs = target.getFileSystem(new org.apache.hadoop.conf.Configuration())
            if (!fs.exists(target)) {
              val resp = HttpCore.shared.call("GET", url)
              val out = fs.create(target, true)
              try out.write(resp.body) finally out.close()
            }
            target.toString
          }.collect().toSeq
      }
    spark.read.schema(meta.schema).parquet(paths: _*)
  }
}
