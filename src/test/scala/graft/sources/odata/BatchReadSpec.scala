package graft.sources.odata

import graft.SparkSpecBase
import graft.sources.services.Services
import graft.testkit.ODataStub

/** Read-side `$batch` + metadata round-trip economy:
  *  - attaching an N-set service costs ONE `$metadata` fetch (the shared
  *    per-JVM model cache serves the attach listing AND every per-set
  *    service-root probe);
  *  - `odataPeek` samples every entity set of a service in ONE HTTP
  *    round-trip (JSON `$batch` of GET sub-requests);
  *  - a scan fetches no rows in a `$batch`: each keyset window pages
  *    itself with plain GETs. */
class BatchReadSpec extends SparkSpecBase {

  test("odataAttach of a multi-set service fetches $metadata once") {
    val stub = new ODataStub(v2 = false).start()
    try {
      val views = Services.odataAttach(spark, stub.serviceUrl, prefix = "bt_")
      assert(views.size >= 3, s"expected >=3 sets, got $views") // Customers, OdpCustomers, companies
      // force schema resolution of every view (what a user's first query does)
      views.foreach(v => spark.table(v).schema)
      val metaFetches = stub.requests.count(_.contains("$metadata"))
      assert(metaFetches <= 2,
        s"attach of ${views.size} sets cost $metaFetches $$metadata round-trips:\n" +
          stub.requests.mkString("\n"))
    } finally stub.stop()
  }

  test("keyset windows follow their nextLinks with plain GETs and send no $batch") {
    // `Prefer: odata.maxpagesize=2` pages every 5-row keyset window in 3:
    // its first GET and two nextLink continuations, all from its task
    val stub = new ODataStub(v2 = false).start()
    stub.skipStatus = 501 // force the keyset-window path
    try {
      val df = spark.read.format("odata")
        .option("url", stub.serviceUrl + "/Customers")
        .option("parallelism", "4").option("partitionRows", "5")
        .option("pagesize", "2")
        .load()
      val ids = df.collect().map(_.getString(0)).toSeq
      assert(ids.length == 20 && ids.distinct.length == 20,
        s"keyset union wrong under paged windows: $ids")
      assert(stub.batchBodies.isEmpty && !stub.requests.exists(_.contains("$batch")),
        s"a scan sent a $$batch POST:\n${stub.requests.mkString("\n")}")
      // window GETs carry the window filter; the keys-only sweep carries $select
      val windowGets = stub.requests.toSeq.filter(r =>
        r.startsWith("/svc/Customers?") && r.contains("$filter=") && !r.contains("$select="))
      val byWindow = windowGets.groupBy(_.replaceAll("&__page=\\d+", ""))
      assert(byWindow.size == 4 && byWindow.values.forall(gets =>
        gets.size == 3 && gets.count(_.contains("__page=")) == 2),
        s"every window must send its first GET and two continuation GETs:\n${windowGets.mkString("\n")}")
    } finally stub.stop()
  }

  test("odataPeek samples every entity set in one $batch round-trip") {
    val stub = new ODataStub(v2 = false).start()
    try {
      val out = Services.odataPeek(spark, stub.serviceUrl, top = 3).collect()
        .map(r => r.getString(0) -> ((r.getInt(1), r.getInt(2)))).toMap
      assert(out.keySet == Set("Customers", "OdpCustomers", "companies"))
      assert(out("Customers") == ((200, 3)), s"got ${out("Customers")}")
      // exactly ONE $batch POST carried all three sub-requests
      assert(stub.batchBodies.size == 1, s"batch bodies: ${stub.batchBodies.size}")
      assert(stub.batchBodies.head.contains("\"method\":\"GET\""))
      val dataRequests = stub.requests.filterNot(r =>
        r.contains("$metadata") || r.contains("$batch") || r.startsWith("batch:"))
      assert(dataRequests.isEmpty,
        s"per-set GETs escaped the batch:\n${dataRequests.mkString("\n")}")
    } finally stub.stop()
  }
}
