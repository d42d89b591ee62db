package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Pins the one session config every entry point shares, and keeps it the
  * only one: a second session builder or another dev `main` under `src/`
  * fails here, and so does a hand-written nextLink loop outside
  * `ODataPages`, a JSON-to-row decoder outside `ODataJson`, a
  * hand-written status check outside `HttpCore`, a second write shell, a
  * second JDK HTTP client builder, a blocking pool or sleep in the
  * connector, or a scan that fetches row pages in a `$batch`. */
class GraftSessionSpec extends SparkSpecBase {

  test("GraftSession.local: extensions, UTC, nanosAsLong, partitions = cpus, no UI") {
    val s = GraftSession.local(cpus = 4)
    val conf = s.conf
    assert(conf.get("spark.sql.extensions") == "graft.GraftExtensions")
    assert(s.catalog.functionExists("vec_dot"))
    assert(conf.get("spark.sql.session.timeZone") == "UTC")
    assert(conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
    assert(s.sparkContext.master == "local[4]")
    assert(conf.get("spark.sql.shuffle.partitions") == "4")
    assert(s.sparkContext.getConf.get("spark.ui.enabled") == "false")
    assert(s.sparkContext.uiWebUrl.isEmpty)
  }

  private lazy val sources: Seq[(String, String)] = {
    val root = Paths.get("src")
    assert(Files.isDirectory(root), s"run from the repo root: ${root.toAbsolutePath}")
    val walk = Files.walk(root)
    try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      .map((p: Path) => root.relativize(p).toString -> Files.readString(p))
    finally walk.close()
  }
  // split literals so this file does not count itself
  private def filesWith(needle: String): Set[String] =
    sources.collect { case (p, text) if text.contains(needle) => p }.toSet

  test("src/ has one session builder and only the Bench, Verify and Probe mains") {
    assert(filesWith("SparkSession" + ".builder") ==
      Set("main/scala/graft/GraftSession.scala"))
    assert(filesWith("def " + "main(") == Set(
      "main/scala/graft/Bench.scala",
      "main/scala/graft/Verify.scala",
      "test/scala/graft/testkit/Probe.scala"))
  }

  test("src/main pages through nextLinks only in ODataPages: no hand-written page loop") {
    def mainFilesWith(needle: String): Set[String] =
      filesWith(needle).filter(_.startsWith("main/"))
    // `@odata.nextLink` in payload keys and docs is not a read of the field
    val reads = sources.collect { case (p, text) if p.startsWith("main/") &&
      text.replace("@odata" + ".nextLink", "").contains("." + "nextLink") => p }.toSet
    assert(reads == Set("main/scala/graft/sources/odata/ODataPages.scala"))
    assert(mainFilesWith("nextLink" + ": Option[String]") ==
      Set("main/scala/graft/sources/odata/ODataJson.scala"))
    assert(mainFilesWith("var next" + ": Option[String]").isEmpty)
    assert(mainFilesWith("var next" + "Url") == Set("main/scala/graft/sources/odata/ODataPages.scala"))
  }

  test("src/main decodes JSON into rows only in ODataJson: one schema-compiled decoder, no per-cell match") {
    def mainFilesWith(needle: String): Set[String] =
      filesWith(needle).filter(_.startsWith("main/"))
    // a type match that reads Jackson values is a row decoder
    val decoders = sources.collect { case (p, text) if p.startsWith("main/") &&
      text.contains("Timestamp" + "Type =>") &&
      Seq("Json" + "Node", "Json" + "Parser", ".as" + "Text").exists(text.contains) => p }.toSet
    assert(decoders == Set("main/scala/graft/sources/odata/ODataJson.scala"))
    assert(mainFilesWith("decode" + "Value(").isEmpty)
    assert(mainFilesWith("unwrap" + "Node(").isEmpty)
    // every row reader decodes its pages through the compiled decoder
    assert(mainFilesWith("new ODataJson." + "RowDecoder(") == Set(
      "main/scala/graft/sources/odata/ODataSource.scala",
      "main/scala/graft/streaming/Odp.scala",
      "main/scala/graft/streaming/OdpStream.scala"))
  }

  test("src/main judges an answer's status only in HttpCore: one success rule, one error type, one write shell") {
    def mainFilesWith(needle: String): Set[String] =
      filesWith(needle).filter(_.startsWith("main/"))
    val core = Set("main/scala/graft/sources/http/HttpCore.scala")
    // any construction, qualified or not
    assert(mainFilesWith("HttpStatus" + "Error(") == core)
    for (cmp <- Seq("status /" + " 100", "status !" + "= 200", "status =" + "= 200", "status >" + "= 300"))
      assert(mainFilesWith(cmp).subsetOf(core), cmp)
    assert(mainFilesWith("createBatch" + "WriterFactory") == Set("main/scala/graft/writes/RestChanges.scala"))
  }

  test("a JDK HttpClient is built only in HttpCore, and graft/sources holds no ThreadPoolExecutor and no sleep") {
    val core = Set("main/scala/graft/sources/http/HttpCore.scala")
    assert(filesWith("java.net" + ".http") == core)
    assert(filesWith("HttpClient" + ".new") == core)
    val connector = sources.collect { case (p, text) if p.startsWith("main/scala/graft/sources/") => p -> text }
    assert(connector.nonEmpty)
    assert(connector.collect { case (p, text) if text.contains("ThreadPool" + "Executor") ||
      text.contains("Thread" + ".sleep") => p }.isEmpty)
  }

  test("a $batch of GETs is built only by odataPeek: no scan plan fetches row pages in a $batch") {
    assert(filesWith("ODataJsonBatch" + ".buildGetBatch(") ==
      Set("main/scala/graft/sources/services/Services.scala"))
  }

  test("src/main implements SupportsNamespaces only in AttachedCatalog and parses $metadata only in ODataSource") {
    def mainFilesWith(needle: String): Set[String] =
      filesWith(needle).filter(_.startsWith("main/"))
    assert(mainFilesWith("Supports" + "Namespaces") ==
      Set("main/scala/graft/sources/AttachedCatalog.scala"))
    assert(mainFilesWith("EdmxParser" + ".parse(") ==
      Set("main/scala/graft/sources/odata/ODataSource.scala"))
  }

  test("src/main counts rows and plans keyset windows only in ODataScan and KeysetWindows: pushdown and the $apply scan send no planning $count or sweep") {
    // the top-level class, object or trait each call sits in
    val topLevel = "(?m)^(?:(?:private\\[\\w+\\]|final|case|abstract|sealed) )*(?:class|object|trait) (\\w+)".r
    val callers = sources.filter(_._1.startsWith("main/")).flatMap { case (p, text) =>
      val defs = topLevel.findAllMatchIn(text).map(m => m.start -> m.group(1)).toSeq
      Seq("countRows" + "(", "planWindows" + "(").flatMap { needle =>
        Iterator.iterate(text.indexOf(needle))(i => text.indexOf(needle, i + 1)).takeWhile(_ >= 0)
          .map(i => p -> defs.takeWhile(_._1 < i).lastOption.map(_._2).getOrElse("-"))
      }
    }.toSet
    val odata = "main/scala/graft/sources/odata/ODataSource.scala"
    assert(callers == Set(odata -> "ODataScan", odata -> "KeysetWindows"))
  }
}
