package graft.sources.http

import graft.SparkSpecBase
import graft.testkit.ODataStub

class TraceSpec extends SparkSpecBase {

  private def withTraceConf(pairs: (String, String)*)(body: => Unit): Unit = {
    try { pairs.foreach { case (k, v) => spark.conf.set(s"spark.graft.trace.$k", v) }; body }
    finally pairs.foreach { case (k, _) => spark.conf.unset(s"spark.graft.trace.$k") }
  }

  test("tracing is off by default; status reflects live conf like a pragma") {
    assert(!Trace.enabled)
    val row = Trace.status(spark).head()
    assert(!row.getBoolean(0) && row.getString(1) == "INFO" &&
      row.getString(2) == "console")
    withTraceConf("enabled" -> "true", "level" -> "DEBUG", "output" -> "file",
      "dir" -> "/tmp/trc") {
      val r2 = Trace.status(spark).head()
      assert(r2.getBoolean(0) && r2.getString(1) == "DEBUG" &&
        r2.getString(2) == "file" && r2.getString(3) == "/tmp/trc")
    }
    assert(!Trace.enabled) // unset restores the default
  }

  test("file output: HTTP requests land in the trace file at DEBUG, filtered by level") {
    val dir = java.nio.file.Files.createTempDirectory("trc").toString
    val stub = new ODataStub(v2 = false).start()
    try {
      val url = s"http://localhost:${stub.port}/svc/Customers?$$top=1"
      withTraceConf("enabled" -> "true", "level" -> "DEBUG",
        "output" -> "file", "dir" -> dir) {
        HttpCore.shared.get(url)
      }
      // at INFO the DEBUG request line is suppressed
      withTraceConf("enabled" -> "true", "level" -> "INFO",
        "output" -> "file", "dir" -> dir) {
        HttpCore.shared.get(url)
      }
      val f = java.nio.file.Paths.get(dir, "graft_trace.log")
      val lines = java.nio.file.Files.readAllLines(f)
      assert(lines.size == 1, s"expected exactly the DEBUG-level request line, got: $lines")
      assert(lines.get(0).contains("[DEBUG] [http] GET ") &&
        lines.get(0).contains("-> 200"))
    } finally stub.stop()
  }

  test("rotation: the file is shelved once it crosses maxFileSize") {
    val dir = java.nio.file.Files.createTempDirectory("trcrot").toString
    withTraceConf("enabled" -> "true", "level" -> "INFO", "output" -> "file",
      "dir" -> dir, "maxFileSize" -> "200") {
      (1 to 20).foreach(i => Trace.info("test", s"line $i " + "x" * 40))
    }
    val files = java.nio.file.Files.list(java.nio.file.Paths.get(dir))
      .iterator()
    val names = scala.jdk.CollectionConverters.IteratorHasAsScala(files)
      .asScala.map(_.getFileName.toString).toList
    assert(names.contains("graft_trace.log"))
    assert(names.exists(_.matches("graft_trace\\.\\d+\\.log")),
      s"expected a rotated generation, got: $names")
  }
}
