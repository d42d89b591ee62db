package graft.streaming

import graft.SparkSpecBase
import graft.testkit.ODataStub
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.BeforeAndAfterAll
import java.nio.file.Files

/** ODP incremental/CDC against the stub's delta endpoint: the batch parity
  * tier (OdpReader) and the Structured Streaming tier (format "odp"),
  * including token persistence across a query restart. */
class OdpSpec extends SparkSpecBase with BeforeAndAfterAll {

  var stub: ODataStub = _
  override def beforeAll(): Unit = {
    stub = new ODataStub(v2 = false).start()
    super.beforeAll()
  }
  override def afterAll(): Unit = { if (stub != null) stub.stop(); super.afterAll() }

  private def delta(i: Int): Map[String, Any] = Map(
    "CustomerID" -> s"D$i", "CompanyName" -> s"Delta $i",
    "Country" -> "Spain", "Revenue" -> (999L * i),
    "Founded" -> 946684800000L)

  test("batch tier: initial load then delta fetch, token + audit persisted") {
    val dir = Files.createTempDirectory("odp-batch").toString
    val reader = new OdpReader(spark, stub.serviceUrl + "/OdpCustomers", dir)

    val first = reader.read()
    assert(first.count() == 20) // snapshot
    val sub1 = reader.listSubscriptions().head
    assert(sub1.deltaToken.contains("T0"))
    assert(sub1.preferenceApplied) // Prefer: odata.track-changes acknowledged

    stub.pushDelta(Seq(delta(1), delta(2)))
    val second = reader.read()
    assert(second.count() == 2) // only the delta
    assert(second.collect().map(_.getString(0)).toSet == Set("D1", "D2"))
    assert(reader.listSubscriptions().head.deltaToken.contains("T1"))
    assert(reader.listSubscriptions().head.status == "DELTA_FETCH")
    // spilled pages older than the PREVIOUS batch are cleaned once a new
    // fetch persists (without this, repeated delta fetches grow the state
    // dir unboundedly); the previous batch itself is retained so the last
    // read()'s lazy DataFrame stays readable
    assert(reader.store.listPages(reader.subscriptionId, 0).nonEmpty,
      "previous batch must be retained for its still-live DataFrame")

    // empty delta: zero rows, token stays
    val third = reader.read()
    assert(third.count() == 0)
    // ...and NOW batch 0 is two fetches old -> GC'd
    assert(reader.store.listPages(reader.subscriptionId, 0).isEmpty,
      "stale batch-0 pages were not cleaned")

    // forceFullLoad resubscribes from scratch
    val full = reader.read(forceFullLoad = true)
    assert(full.count() == 20)

    // audit: one immutable file per fetch (O(1) append, crash-safe)
    val audit = reader.store.auditLines()
    assert(audit.size == 4)
    assert(audit.exists(_.contains("\"rows_fetched\":2")))
  }

  test("multi-page initial load spills pages; driver never materializes rows") {
    val dir = Files.createTempDirectory("odp-pages").toString
    // pageSize 5 in the stub -> 20-row snapshot pages as 4 spilled files...
    // except the ODP endpoint returns the snapshot in one response; the
    // guarantee under test is structural: rows reach the DataFrame through
    // spilled page files decoded in mapPartitions, never a driver-side
    // Vector[Row] + parallelize
    val reader = new OdpReader(spark, stub.serviceUrl + "/OdpCustomers", dir)
    val df = reader.read(forceFullLoad = true)
    // the plan is a deserialization over the page-file dataset, not a
    // parallelized LocalRDD of pre-collected rows
    val plan = df.queryExecution.optimizedPlan.toString
    assert(plan.contains("MapPartitions") || plan.contains("SerializeFromObject"),
      s"expected executor-side page decode in plan:\n$plan")
    assert(df.count() == 20)
    val pages = reader.store.listPages(reader.subscriptionId,
      reader.listSubscriptions().head.batch)
    assert(pages.nonEmpty, "expected spilled page files")
    assert(pages.forall(_.contains("/pages/")))
  }

  test("v2 dialect: __delta link + d.results envelope carry the token") {
    val v2stub = new ODataStub(v2 = true).start()
    try {
      val dir = Files.createTempDirectory("odp-v2").toString
      val reader = new OdpReader(spark, v2stub.serviceUrl + "/OdpCustomers", dir)
      assert(reader.read().count() == 20)
      assert(reader.listSubscriptions().head.deltaToken.contains("T0"))
      v2stub.pushDelta(Seq(delta(3)))
      val d2 = reader.read()
      assert(d2.count() == 1 && d2.head().getString(0) == "D3")
      assert(reader.listSubscriptions().head.deltaToken.contains("T1"))
    } finally v2stub.stop()
  }

  test("streaming tier: micro-batches deliver deltas; restart resumes from token") {
    stub.deltas.clear()
    // checkpoint as a file:/// URI — exactly what Spark hands
    // toMicroBatchStream on a cluster (hdfs://, s3a://). The state dir is
    // NOT set, so it derives from the checkpoint URI; a literal-path bug
    // would recreate the old `file:/tmp/...` junk tree in the CWD.
    val ckpt = Files.createTempDirectory("odp-ckpt").toUri.toString
    val out = Files.createTempDirectory("odp-out").toString
    def runOnce(): Unit = {
      val df = spark.readStream.format("odp")
        .option("url", stub.serviceUrl + "/OdpCustomers")
        .load()
      // file sink: supports exactly-once recovery from the checkpoint
      // (memory sink does not support restart)
      val q = df.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination(60000)
    }

    runOnce() // initial load
    val afterFirst = spark.read.parquet(out).count()
    assert(afterFirst == 20, s"initial load, got $afterFirst")

    stub.pushDelta(Seq(delta(7)))
    runOnce() // restart from checkpoint: should fetch ONLY the delta
    val all = spark.read.parquet(out)
    assert(all.count() == 21, s"expected 21 rows after delta, got ${all.count()}")
    assert(all.filter("CustomerID = 'D7'").count() == 1)

    // regression (VERDICT r1 #3): the URI must resolve via Hadoop FS — no
    // literal `file:` directory may appear in the working directory, and the
    // token state must live under the checkpoint itself
    assert(!Files.exists(java.nio.file.Paths.get("file:")),
      "state dir treated checkpoint URI as a literal relative path")
    val stateUnderCkpt = java.nio.file.Paths.get(new java.net.URI(ckpt))
      .resolve("sources/0/odp-state")
    assert(Files.exists(stateUnderCkpt), s"expected odp-state under $stateUnderCkpt")
    assert(Files.list(stateUnderCkpt).toArray.nonEmpty)
  }

  test("a failing $metadata fails the read with its URL and status") {
    val s = new ODataStub(v2 = false).start()
    try {
      s.extraStatuses.synchronized { s.extraStatuses("/svc/$metadata") = (401, Map.empty) }
      val dir = Files.createTempDirectory("odp-401").toString
      val reader = new OdpReader(spark, s.serviceUrl + "/OdpCustomers", dir)
      val e = intercept[Exception](reader.read())
      assert(e.getMessage.contains(s"GET ${s.serviceUrl}/$$metadata -> HTTP 401"), e.toString)
    } finally s.stop()
  }
}
