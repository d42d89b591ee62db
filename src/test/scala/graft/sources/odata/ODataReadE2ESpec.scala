package graft.sources.odata

import graft.SparkSpecBase
import graft.sources.http.{HttpPolicy, HttpStatusError}
import graft.testkit.ODataStub
import org.apache.spark.sql.functions._
import org.scalatest.{BeforeAndAfterAll, BeforeAndAfterEach}
import org.scalatest.concurrent.{Signaler, ThreadSignaler, TimeLimits}
import org.scalatest.time.{Seconds, Span}

/** End-to-end: Spark DataFrame reads against the in-process OData stub —
  * the port's equivalent of the reference's sqllogictests against live
  * Northwind (SURVEY.md §5), asserting both results AND what reached the
  * server (pushdown observability, §7.2's success criteria). */
class ODataReadE2ESpec extends SparkSpecBase with BeforeAndAfterAll with BeforeAndAfterEach
  with TimeLimits {

  implicit val signaler: Signaler = ThreadSignaler

  var v4: ODataStub = _
  var v2: ODataStub = _

  override def beforeAll(): Unit = {
    v4 = new ODataStub(v2 = false).start()
    v2 = new ODataStub(v2 = true).start()
    super.beforeAll()
  }
  // the stubs keep their port across tests that switch what they accept,
  // so no test inherits a capability an earlier one saw
  override def beforeEach(): Unit = {
    ODataMeta.forgetCapabilities()
    super.beforeEach()
  }
  override def afterAll(): Unit = {
    if (v4 != null) v4.stop()
    if (v2 != null) v2.stop()
    super.afterAll()
  }

  private def read(stub: ODataStub, extra: (String, String)*) = {
    var r = spark.read.format("odata")
      .option("url", stub.serviceUrl + "/Customers")
    extra.foreach { case (k, v) => r = r.option(k, v) }
    r.load()
  }

  test("v4: schema inferred from $metadata; full scan pages via nextLink") {
    val df = read(v4)
    assert(df.schema.fieldNames.toSeq ==
      Seq("CustomerID", "CompanyName", "Country", "Revenue", "Founded"))
    assert(df.schema("Revenue").dataType.typeName == "long")
    assert(df.schema("Founded").dataType.typeName == "timestamp")
    assert(df.collect().length == 20) // collect: count() would push to /$count
    // pagination: 20 rows / pageSize 5 -> at least 4 data requests
    assert(v4.requests.count(_.contains("__page=")) >= 3)
  }

  test("v4: filter/select/limit pushed down to the server") {
    v4.requests.clear()
    val df = read(v4)
      .filter(col("Country") === "Germany")
      .select("CustomerID", "Revenue")
      .limit(3)
    val rows = df.collect()
    assert(rows.length == 3)
    assert(rows.forall(_.getString(0).startsWith("C")))
    val dataReqs = v4.requests.filter(r => r.contains("/Customers?"))
    assert(dataReqs.exists(_.contains("Country eq 'Germany'")),
      s"no \\$$filter in: $dataReqs")
    assert(dataReqs.exists(_.contains("$select=CustomerID,Revenue")),
      s"no \\$$select in: $dataReqs")
    assert(dataReqs.exists(_.contains("$top=3")), s"no \\$$top in: $dataReqs")
  }

  test("v4: numeric comparison filter pushed; residual filters still correct") {
    v4.requests.clear()
    val df = read(v4).filter(col("Revenue") > 15000L)
    assert(df.collect().length == 5) // revenues 16000..20000
    assert(v4.requests.exists(_.contains("Revenue gt 15000")))
  }

  test("v4: offset pushes $skip") {
    v4.requests.clear()
    val df = read(v4).orderBy("CustomerID").offset(15)
    // offset pushdown only fires when Spark plans it against the source;
    // validate rows either way
    assert(df.collect().length == 5)
  }

  test("v2: d.results envelope, string Int64, /Date()/ timestamps decode") {
    val df = read(v2)
    val rows = df.orderBy("CustomerID").collect()
    assert(rows.length == 20)
    assert(rows(0).getAs[Long]("Revenue") == 1000L) // "1000" string -> long
    val ts = rows(0).getAs[java.sql.Timestamp]("Founded")
    assert(ts.toInstant.toString.startsWith("2000-01-01")) // /Date(946684800000)/
  }

  test("v2: $format=json forced and filter pushed with v2 dialect") {
    v2.requests.clear()
    val df = read(v2).filter(col("Country") === "France")
    assert(df.collect().length == 7)
    val dataReqs = v2.requests.filter(_.contains("/Customers?"))
    assert(dataReqs.exists(_.contains("$format=json")), s"no format in $dataReqs")
    assert(dataReqs.exists(_.contains("Country eq 'France'")))
  }

  test("parallel scan: $count probe + $skip/$top range partitions") {
    v4.requests.clear()
    val df = read(v4, "parallelism" -> "4", "partitionRows" -> "5")
    assert(df.collect().length == 20)
    assert(v4.requests.exists(_.contains("/Customers/$count")),
      s"no count probe in ${v4.requests}")
    val ranged = v4.requests.filter(r => r.contains("$skip=") && r.contains("$top="))
    assert(ranged.size >= 2, s"expected ranged partitions, got: ${v4.requests}")
  }

  test("a parallel scan plans its partitions once: one $count, one key sweep, one $skip probe") {
    v4.requests.clear()
    assert(read(v4, "parallelism" -> "4", "partitionRows" -> "5").collect().length == 20)
    assert(v4.requests.count(_.contains("/Customers/$count")) == 1, v4.requests.toString)
    ODataMeta.forgetCapabilities()
    v4.skipStatus = 501
    try {
      v4.requests.clear()
      assert(read(v4, "parallelism" -> "4", "partitionRows" -> "5").collect().length == 20)
      assert(v4.requests.count(_.contains("/Customers/$count")) == 1, v4.requests.toString)
      // 20 keys swept 5 at a time: three boundaries, three GETs
      val sweeps = v4.requests.filter(r =>
        r.contains("$select=CustomerID") && r.contains("$orderby=CustomerID"))
      assert(sweeps.size == 3, sweeps.toString)
      // the refused probe is an answer, not a failure to retry
      assert(v4.requests.count(_.contains("$top=1&$skip=1")) == 1, v4.requests.toString)
    } finally v4.skipStatus = 200
  }

  test("parallel scan: server rejecting $skip falls back to keyset windows") {
    v4.skipStatus = 501
    try {
      v4.requests.clear()
      val df = read(v4, "parallelism" -> "4", "partitionRows" -> "5")
      val ids = df.collect().map(_.getString(0)).toSeq
      assert(ids.length == 20 && ids.distinct.length == 20,
        s"keyset union wrong: $ids") // disjoint + complete windows
      // boundary sweep: keys-only ordered pages
      val sweeps = v4.requests.filter(r =>
        r.contains("$select=CustomerID") && r.contains("$orderby=CustomerID"))
      assert(sweeps.nonEmpty, s"no boundary sweep in ${v4.requests}")
      // 4 partition windows over boundaries C04/C09/C14
      val windows = v4.requests.filter(r =>
        r.contains("/Customers?") && r.contains("$filter=") &&
          !r.contains("$orderby") && (r.contains(" gt ") || r.contains(" le ")))
      assert(windows.exists(_.contains("CustomerID le 'C04'")), s"got $windows")
      assert(windows.exists(r => r.contains("CustomerID gt 'C04'") &&
        r.contains("CustomerID le 'C09'")), s"got $windows")
      assert(windows.exists(_.contains("CustomerID gt 'C14'")), s"got $windows")
      // no $skip-paged data was served
      assert(!v4.requests.exists(r => r.contains("$skip=") && r.contains("$top=5")),
        s"offset ranges used despite 501: ${v4.requests}")
    } finally v4.skipStatus = 200
  }

  test("parallel scan: composite-key keyset windows use row-value or-chains") {
    v4.skipStatus = 501
    try {
      v4.requests.clear()
      // partitionKey names a composite key; the server rejects $skip, so the
      // planner must carve disjoint (Country, CustomerID) tuple windows
      val df = read(v4, "parallelism" -> "4", "partitionRows" -> "5",
        "partitionKey" -> "Country,CustomerID")
      val ids = df.collect().map(_.getString(0)).toSeq
      assert(ids.length == 20 && ids.distinct.length == 20,
        s"composite keyset union wrong: $ids") // disjoint + complete windows
      // boundary sweep selects + orders by BOTH key properties
      val sweeps = v4.requests.filter(r =>
        r.contains("$select=Country,CustomerID") &&
          r.contains("$orderby=Country,CustomerID"))
      assert(sweeps.nonEmpty, s"no composite boundary sweep in ${v4.requests}")
      // window filters are row-value expansions:
      //   Country gt 'X' or (Country eq 'X' and CustomerID gt 'Cnn')
      val windows = v4.requests.filter(r =>
        r.contains("/Customers?") && r.contains("$filter=") && !r.contains("$orderby"))
      assert(windows.size >= 2, s"expected composite windows, got ${v4.requests}")
      assert(windows.exists(r => r.contains(" or (Country eq ") &&
        r.contains(" and CustomerID gt ")), s"no gt or-chain in $windows")
      assert(windows.exists(r => r.contains(" or (Country eq ") &&
        r.contains(" and CustomerID le ")), s"no le or-chain in $windows")
      assert(!v4.requests.exists(r => r.contains("$skip=") && r.contains("$top=5")),
        s"offset ranges used despite 501: ${v4.requests}")
    } finally v4.skipStatus = 200
  }

  test("capped sweep re-splits the tail numerically (integral key)") {
    v4.skipStatus = 501
    try {
      v4.requests.clear()
      // per=5; keysetSweepMax=5 stops the sweep after ONE batch (boundary
      // Revenue=5000) with 15 of 20 rows un-carved -> numeric tail over
      // (5000, 20000] in 3 uniform windows of 5000
      val df = read(v4, "parallelism" -> "4", "partitionRows" -> "5",
        "partitionKey" -> "Revenue", "keysetSweepMax" -> "5")
      val ids = df.collect().map(_.getString(0)).toSeq
      assert(ids.length == 20 && ids.distinct.length == 20,
        s"numeric tail union wrong: $ids")
      // max probe: keys-only desc top=1
      assert(v4.requests.exists(r => r.contains("$orderby=Revenue desc") &&
        r.contains("$top=1")), s"no max probe in ${v4.requests}")
      val windows = v4.requests.filter(r =>
        r.contains("/Customers?") && r.contains("$filter=") && !r.contains("$orderby"))
      assert(windows.exists(_.contains("Revenue le 5000")), s"got $windows")
      assert(windows.exists(r => r.contains("Revenue gt 5000") &&
        r.contains("Revenue le 10000")), s"got $windows")
      assert(windows.exists(r => r.contains("Revenue gt 10000") &&
        r.contains("Revenue le 15000")), s"got $windows")
      assert(windows.exists(r => r.contains("Revenue gt 15000") &&
        !r.contains(" le ")), s"open tail missing: $windows")
    } finally v4.skipStatus = 200
  }

  test("composite-key numeric tail adds the boundary-sliver tuple window") {
    v4.skipStatus = 501
    try {
      v4.requests.clear()
      val df = read(v4, "parallelism" -> "4", "partitionRows" -> "5",
        "partitionKey" -> "Revenue,CustomerID", "keysetSweepMax" -> "5")
      val ids = df.collect().map(_.getString(0)).toSeq
      assert(ids.length == 20 && ids.distinct.length == 20,
        s"composite numeric tail union wrong: $ids")
      val windows = v4.requests.filter(r =>
        r.contains("/Customers?") && r.contains("$filter=") && !r.contains("$orderby"))
      // tail rows sharing the boundary's first key ride a tuple-comparison
      // sliver window; the numeric ranges carve strictly beyond it
      assert(windows.exists(r => r.contains(" or (Revenue eq 5000") &&
        r.contains("Revenue le 5000")), s"no boundary sliver in $windows")
      assert(windows.exists(r => r.contains("Revenue gt 5000") &&
        r.contains("Revenue le 10000")), s"got $windows")
      assert(windows.exists(r => r.contains("Revenue gt 15000") &&
        !r.contains(" le ")), s"open tail missing: $windows")
    } finally v4.skipStatus = 200
  }

  test("numeric tail refinement: empty stretches dropped, dense windows re-split") {
    v4.skipStatus = 501
    val saved = v4.rows
    try {
      // 5 sparse low keys (the swept batch) + 35 keys clustered near 1e6:
      // the uniform tail carve is mostly empty stretches plus one dense
      // window holding all 35 rows
      v4.rows = (0 until 5).map(i => Map[String, Any](
        "CustomerID" -> s"L$i", "CompanyName" -> s"Low $i",
        "Country" -> "Germany", "Revenue" -> (10L * (i + 1)),
        "Founded" -> 946684800000L)) ++
        (0 until 35).map(i => Map[String, Any](
          "CustomerID" -> s"H${"%02d".format(i)}", "CompanyName" -> s"High $i",
          "Country" -> "France", "Revenue" -> (1000000L + i),
          "Founded" -> 946684800000L))
      v4.requests.clear()
      val df = read(v4, "parallelism" -> "8", "partitionRows" -> "5",
        "partitionKey" -> "Revenue", "keysetSweepMax" -> "5")
      val ids = df.collect().map(_.getString(0)).toSeq
      assert(ids.length == 40 && ids.distinct.length == 40,
        s"refined tail union wrong: $ids")
      // count probes refined the carve
      assert(v4.requests.count(_.contains("/Customers/$count?")) >= 3,
        s"no refinement count probes in ${v4.requests}")
      val windows = v4.requests.filter(r =>
          r.contains("/Customers?") && r.contains("$filter=") && !r.contains("$orderby"))
        .map(_.replaceAll("[&?]__page=\\d+", "")).distinct // fold page walks
      // empty uniform stretches are dropped at planning: head window + the
      // dense re-split only (uniform-without-refinement would be 13+)
      assert(windows.size <= 9, s"empty stretches fetched: $windows")
      // the dense cluster was split into multiple sub-windows
      val dense = windows.filter(_.contains("Revenue gt 9"))
      assert(dense.size >= 3, s"dense cluster not re-split: $windows")
    } finally { v4.rows = saved; v4.skipStatus = 200 }
  }

  test("parallel scan: pushed filter rides inside the keyset windows") {
    v4.skipStatus = 501
    try {
      v4.requests.clear()
      val df = read(v4, "parallelism" -> "4", "partitionRows" -> "3")
        .filter(col("Country") === "Germany")
      val ids = df.collect().map(_.getString(0)).toSeq
      assert(ids.length == 7 && ids.distinct.length == 7, s"got $ids")
      // the sweep and every window carry the pushed predicate too
      val winReqs = v4.requests.filter(r => r.contains(" le ") || r.contains(" gt "))
      assert(winReqs.nonEmpty && winReqs.forall(_.contains("Country eq 'Germany'")),
        s"window requests missing pushed filter: $winReqs")
    } finally v4.skipStatus = 200
  }

  test("groupBy agg pushes $apply=groupby — only group rows transferred") {
    v4.requests.clear()
    val df = read(v4).groupBy("Country")
      .agg(sum("Revenue").as("rev"), count(lit(1)).as("cnt"))
    val out = df.collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(out == Map("Germany" -> ((70000L, 7L)), "France" -> ((77000L, 7L)),
      "Mexico" -> ((63000L, 6L))), s"got $out")
    assert(v4.requests.exists(_.contains(
      "$apply=groupby((Country),aggregate(Revenue with sum as agg0,$count as agg1))")),
      s"no $$apply groupby in ${v4.requests}")
    // zero entity rows: every data request to the set carries $apply
    val plain = v4.requests.filter(r => r.contains("/Customers?") && !r.contains("$apply"))
    assert(plain.isEmpty, s"entity rows were fetched for a pushed agg: $plain")
  }

  test("pushed filter folds into the $apply pipeline as a filter() stage") {
    v4.requests.clear()
    val df = read(v4).filter(col("Revenue") > 5000L)
      .groupBy("Country").agg(avg("Revenue").as("a"))
    val out = df.collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(out("Germany") == 13000.0 && out.size == 3, s"got $out")
    val applied = v4.requests.filter(_.contains("$apply=filter("))
    assert(applied.exists(r => r.contains("Revenue gt 5000") &&
      r.contains("/groupby((Country),aggregate(Revenue with average as agg0))")),
      s"filter not folded into $$apply: ${v4.requests}")
  }

  test("global agg (no groupBy) pushes a bare aggregate() pipeline") {
    v4.requests.clear()
    val row = read(v4).agg(sum("Revenue").as("s"), avg("Revenue").as("a")).head()
    assert(row.getLong(0) == 210000L && row.getDouble(1) == 10500.0, s"got $row")
    assert(v4.requests.exists(_.contains(
      "$apply=aggregate(Revenue with sum as agg0,Revenue with average as agg1)")),
      s"no bare aggregate() in ${v4.requests}")
  }

  test("min/max/countDistinct push through $apply") {
    v4.requests.clear()
    val df = read(v4).groupBy("Country").agg(
      min("CustomerID").as("lo"), max("CustomerID").as("hi"),
      countDistinct("Revenue").as("d"))
    val out = df.collect().map(r =>
      r.getString(0) -> ((r.getString(1), r.getString(2), r.getLong(3)))).toMap
    assert(out("Germany") == (("C00", "C18", 7L)), s"got $out")
    assert(v4.requests.exists(r => r.contains("CustomerID with min as agg0") &&
      r.contains("CustomerID with max as agg1") &&
      r.contains("Revenue with countdistinct as agg2")), v4.requests.toString)
  }

  test("a parallel group-by is one $apply GET: no $count, no key sweep, with $skip answered 200 or 501") {
    try {
      Seq(200, 501).foreach { skip =>
        v4.skipStatus = skip
        v4.requests.clear()
        val out = read(v4, "parallelism" -> "4", "partitionRows" -> "5")
          .groupBy("Country").agg(sum("Revenue").as("rev"))
          .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
        assert(out == Map("Germany" -> 70000L, "France" -> 77000L, "Mexico" -> 63000L), s"$$skip $skip: $out")
        assert(!v4.requests.exists(_.contains("/$count")), v4.requests)
        assert(!v4.requests.exists(r => r.contains("$select=") && r.contains("$orderby=")), v4.requests)
        val data = v4.requests.filter(r => r.contains("$apply=") && !r.endsWith("$top=1"))
        assert(data == Seq("/svc/Customers?$apply=groupby((Country),aggregate(Revenue with sum as agg0))"),
          v4.requests)
      }
    } finally v4.skipStatus = 200
  }

  test("TopN over a pushed aggregate pushes $orderby + $top after $apply") {
    v4.requests.clear()
    val df = read(v4).groupBy("Country").agg(sum("Revenue").as("rev"))
      .orderBy(col("rev").desc).limit(2)
    val out = df.collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(out == Seq(("France", 77000L), ("Germany", 70000L)), s"got $out")
    assert(v4.requests.exists(r =>
      r.contains("$apply=groupby((Country),aggregate(Revenue with sum as agg0))") &&
        r.contains("$orderby=agg0 desc") && r.contains("$top=2")),
      s"TopN not pushed after $$apply: ${v4.requests}")
  }

  test("LIMIT over a pushed aggregate caps group rows via $top") {
    v4.requests.clear()
    val df = read(v4).groupBy("Country").agg(sum("Revenue").as("rev")).limit(2)
    assert(df.collect().length == 2)
    assert(v4.requests.exists(r => r.contains("$apply=groupby((Country)") &&
      r.contains("$top=2") && !r.contains("$orderby")),
      s"limit not pushed over $$apply groups: ${v4.requests}")
  }

  test("server rejecting $apply keeps the aggregation in Spark — still correct") {
    v4.applyStatus = 400
    try {
      v4.requests.clear()
      val df = read(v4).groupBy("Country").agg(sum("Revenue").as("rev"))
      val out = df.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(out == Map("Germany" -> 70000L, "France" -> 77000L, "Mexico" -> 63000L))
      // probe failed -> entity pages fetched, no successful $apply data flow
      assert(v4.requests.exists(r => r.contains("/Customers?") && !r.contains("$apply")),
        s"expected an entity scan fallback in ${v4.requests}")
    } finally v4.applyStatus = 200
  }

  test("a server answering 501 to $apply is probed once per query") {
    v4.applyStatus = 501
    try {
      v4.requests.clear()
      assert(read(v4).groupBy("Country").agg(sum("Revenue")).collect().length == 3)
      val probes = v4.requests.filter(r => r.contains("$apply=") && r.contains("$top=1"))
      assert(probes.size == 1, probes.toString)
    } finally v4.applyStatus = 200
  }

  test("COUNT(*) is answered by /$count alone — no data transferred") {
    v4.requests.clear()
    val n = read(v4).count()
    assert(n == 20)
    val dataReqs = v4.requests.filter(r => r.contains("/Customers?") && !r.contains("$count"))
    assert(dataReqs.isEmpty, s"data was fetched for a count: $dataReqs")
    assert(v4.requests.exists(_.contains("/Customers/$count")))
  }

  test("filtered COUNT(*) pushes the filter into /$count") {
    v4.requests.clear()
    val n = read(v4).filter(col("Country") === "Germany").count()
    assert(n == 7)
    assert(v4.requests.exists(r =>
      r.contains("/Customers/$count") && r.contains("Country eq 'Germany'")),
      v4.requests.toString)
  }

  test("COUNT(*): server without /$count (501) falls back to a page walk") {
    v4.countStatus = 501
    try {
      v4.requests.clear()
      assert(read(v4).count() == 20)
      assert(v4.requests.exists(r => r.contains("/Customers?") && !r.contains("$count")),
        s"expected a page-walk fallback in ${v4.requests}")
    } finally v4.countStatus = 200
  }

  test("COUNT(*): auth failure (403) on /$count rethrows — never a page walk") {
    v4.countStatus = 403
    try {
      v4.requests.clear()
      val e = intercept[Exception](read(v4).count())
      def chain(t: Throwable): Seq[String] =
        Iterator.iterate(t)(_.getCause).takeWhile(_ != null).map(_.getMessage).toSeq
      assert(chain(e).exists(m => m != null && m.contains("403")), e.toString)
      val dataReqs = v4.requests.filter(r => r.contains("/Customers?") && !r.contains("$count"))
      assert(dataReqs.isEmpty, s"auth failure triggered a page crawl: $dataReqs")
    } finally v4.countStatus = 200
  }

  test("ORDER BY + LIMIT pushes $orderby + $top (beyond-reference TopN)") {
    v4.requests.clear()
    val df = read(v4).orderBy(col("Revenue").desc).limit(3).select("CustomerID", "Revenue")
    val rows = df.collect()
    assert(rows.map(_.getLong(1)).toSeq == Seq(20000L, 19000L, 18000L))
    val dataReqs = v4.requests.filter(_.contains("/Customers?"))
    assert(dataReqs.exists(r => r.contains("$orderby=Revenue desc") && r.contains("$top=3")),
      s"no TopN pushdown in: $dataReqs")
  }

  test("multi-key ORDER BY pushes a comma-joined $orderby") {
    v4.requests.clear()
    val df = read(v4).orderBy(col("Country"), col("Revenue").desc).limit(5)
    assert(df.count() == 5)
    assert(v4.requests.exists(_.contains("$orderby=Country,Revenue desc")),
      v4.requests.filter(_.contains("Customers?")).toString)
  }

  test("scan custom metrics report pages/rows/bytes fetched") {
    val df = read(v4)
    df.collect()
    val scan = df.queryExecution.executedPlan.collectLeaves()
      .flatMap(_.collect { case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b })
      .head
    val m = scan.metrics
    assert(m.contains("odataRowsFetched") && m("odataRowsFetched").value == 20, m.keys)
    assert(m("odataPagesFetched").value >= 4) // 20 rows / pageSize 5
    assert(m("odataBytesFetched").value > 1000)
  }

  test("explain shows pushed filters reached the scan description") {
    val df = read(v4).filter(col("Country") === "Mexico").select("CustomerID")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("odata "), plan)
  }

  test("options top/skip behave like the reference named params") {
    val df = read(v4, "top" -> "4", "skip" -> "2")
    assert(df.collect().length == 4)
  }

  test("$expand produces a nested array<struct> column with spliced data") {
    v4.requests.clear()
    val df = read(v4, "expand" -> "Orders")
    val ordersField = df.schema("Orders")
    assert(ordersField.dataType.typeName == "array")
    val inner = ordersField.dataType.asInstanceOf[org.apache.spark.sql.types.ArrayType]
      .elementType.asInstanceOf[org.apache.spark.sql.types.StructType]
    assert(inner.fieldNames.toSeq == Seq("OrderID", "Amount"))

    val rows = df.select("CustomerID", "Orders").orderBy("CustomerID").collect()
    assert(rows.length == 20)
    // customer i has i%3 orders with deterministic ids/amounts
    val c2 = rows.find(_.getString(0) == "C02").get
    val orders = c2.getSeq[org.apache.spark.sql.Row](1)
    assert(orders.map(o => (o.getInt(0), o.getDouble(1))) == Seq((20, 200.5), (21, 201.5)))
    assert(rows.find(_.getString(0) == "C03").get.getSeq[org.apache.spark.sql.Row](1).isEmpty)
    assert(v4.requests.exists(_.contains("$expand=Orders")))
  }

  test("SQL INSERT INTO a catalog entity set POSTs entities (writable ATTACH)") {
    v4.postedItems.clear()
    val cat = s"wcat${v4.port}"
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.odata.ODataCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.url", v4.serviceUrl)
    spark.sql(
      s"""INSERT INTO $cat.main.Customers
         |SELECT 'C98' AS CustomerID, 'New Co' AS CompanyName, 'Spain' AS Country,
         |       CAST(7 AS BIGINT) AS Revenue, TIMESTAMP '2024-01-01 00:00:00' AS Founded
         |""".stripMargin)
    assert(v4.postedItems.size == 1, v4.postedItems.toString)
    assert(v4.postedItems.head.contains(""""CustomerID":"C98""""))
    assert(v4.postedItems.head.contains(""""Revenue":7"""))
  }

  test("INSERT with insertBatchSize groups rows into $batch round-trips") {
    v4.postedItems.clear()
    v4.batchBodies.clear()
    val cat = s"bcat${v4.port}"
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.odata.ODataCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.url", v4.serviceUrl)
    spark.conf.set(s"spark.sql.catalog.$cat.insertBatchSize", "4")
    spark.sql(
      s"""INSERT INTO $cat.main.Customers
         |SELECT concat('B', id) AS CustomerID, 'Batch Co' AS CompanyName,
         |       'Spain' AS Country, id AS Revenue,
         |       TIMESTAMP '2024-01-01 00:00:00' AS Founded
         |FROM (SELECT * FROM range(10) ORDER BY id) t
         |""".stripMargin.replace("\n", " "))
    // all 10 entities arrived, none as a bare per-row POST
    assert(v4.postedItems.size == 10, v4.postedItems.toString)
    assert((0 until 10).forall(i =>
      v4.postedItems.exists(_.contains(s""""CustomerID":"B$i""""))))
    assert(v4.batchBodies.nonEmpty, "no $batch round-trips recorded")
    // every round-trip carried at most batchSize sub-requests, and the
    // round-trip count is far below the row count
    val sizes = v4.batchBodies.map(b => "\"method\":\"POST\"".r.findAllIn(b).size)
    assert(sizes.sum == 10 && sizes.forall(_ <= 4), sizes.toString)
    // sub-request URLs are SERVICE-ROOT-RELATIVE (Graph-compatible), derived
    // from the $metadata-resolved root, not a path-segment strip
    assert(v4.batchBodies.forall(_.contains(""""url":"/Customers"""")),
      v4.batchBodies.headOption.getOrElse(""))
    spark.conf.unset(s"spark.sql.catalog.$cat.insertBatchSize")
  }

  test("SQL DELETE FROM a catalog entity set issues per-key DELETE calls") {
    v4.deletedKeys.clear()
    val cat = s"dcat${v4.port}"
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.odata.ODataCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.url", v4.serviceUrl)
    spark.sql(s"DELETE FROM $cat.main.Customers WHERE Country = 'Mexico'")
    // customers with i%3==2 -> C02, C05, ..., C20
    assert(v4.deletedKeys.sorted == (2 until 20 by 3).map(i => f"C$i%02d"),
      v4.deletedKeys.toString)
  }

  test("bulk DELETE streams key pages into distributed executor deletes") {
    val big = new ODataStub(v2 = false).start()
    try {
      big.rows = big.makeRows(12000)
      big.applyDeletes = true
      @volatile var maxTasks = 0
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onStageCompleted(
            s: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit =
          maxTasks = math.max(maxTasks, s.stageInfo.numTasks)
      }
      spark.sparkContext.addSparkListener(listener)
      try {
        val cat = s"bdel${big.port}"
        spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.odata.ODataCatalog")
        spark.conf.set(s"spark.sql.catalog.$cat.url", big.serviceUrl)
        // 11999 matches — above the (default 10000) bulk threshold
        spark.sql(s"DELETE FROM $cat.main.Customers WHERE Revenue > 1000")
        assert(big.deletedKeys.size == 11999, s"deleted ${big.deletedKeys.size}")
        assert(big.rows.map(_("CustomerID")) == Seq("C00"), s"survivors: ${big.rows.size}")
        // no driver key buffering: keys arrived as bounded $top first pages,
        // never as one unbounded walk
        val keyPages = big.requests.filter(r =>
          r.contains("$select=CustomerID") && r.contains("$top=1000"))
        assert(keyPages.size >= 12, s"expected >=12 bounded key pages, got ${keyPages.size}")
        // executor distribution: the delete stages ran with many tasks
        val deadline = System.nanoTime() + 5000000000L
        while (maxTasks <= 1 && System.nanoTime() < deadline) Thread.sleep(50)
        assert(maxTasks > 1, s"deletes were not distributed (maxTasks=$maxTasks)")
      } finally spark.sparkContext.removeSparkListener(listener)
    } finally big.stop()
  }

  /** Catalog `<prefix><port>` over `stub` with `insertBatchSize = batchSize`. */
  private def catalog(prefix: String, stub: ODataStub, batchSize: Int): String = {
    val cat = s"$prefix${stub.port}"
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.odata.ODataCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.url", stub.serviceUrl)
    spark.conf.set(s"spark.sql.catalog.$cat.insertBatchSize", batchSize.toString)
    cat
  }

  private def messages(t: Throwable): String =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
      .map(e => s"${e.getClass.getName}: ${e.getMessage}").mkString("\n")

  private def subMethods(bodies: Seq[String]): Seq[String] =
    bodies.flatMap(b => "\"method\":\"(\\w+)\"".r.findAllMatchIn(b).map(_.group(1)))

  /** Top-level PATCH/DELETE calls address `/svc/Customers(<key>)`; no read does. */
  private def keyCalls(stub: ODataStub): Seq[String] =
    stub.requests.toSeq.filter(_.startsWith("/svc/Customers("))

  test("UPDATE with insertBatchSize=4 PATCHes the 7 Germany rows in 2 $batch round trips") {
    val cat = catalog("ubat", v4, 4)
    v4.patchedKeys.clear(); v4.batchBodies.clear(); v4.requests.clear()
    spark.sql(s"UPDATE $cat.main.Customers SET CompanyName = 'Batched Co' WHERE Country = 'Germany'")
    assert(v4.patchedKeys.map(_._1).sorted == (0 until 20 by 3).map(i => f"C$i%02d"),
      v4.patchedKeys.toString)
    assert(v4.patchedKeys.forall(_._2.contains(""""CompanyName":"Batched Co"""")))
    assert(v4.batchBodies.size == 2, v4.batchBodies.toString)
    assert(v4.batchBodies.map(b => subMethods(Seq(b)).size).sorted == Seq(3, 4))
    assert(subMethods(v4.batchBodies.toSeq).forall(_ == "PATCH"))
    assert(v4.batchBodies.forall(_.contains(""""url":"/Customers('C""")), v4.batchBodies.head)
    assert(keyCalls(v4).isEmpty, s"top-level PATCH calls: ${keyCalls(v4)}")
  }

  test("DELETE with insertBatchSize: one key walk, no /$count, $batch DELETEs only") {
    val cat = catalog("dbat", v4, 4)
    v4.deletedKeys.clear(); v4.batchBodies.clear(); v4.requests.clear()
    spark.sql(s"DELETE FROM $cat.main.Customers WHERE Country = 'Mexico'")
    assert(v4.deletedKeys.sorted == (2 until 20 by 3).map(i => f"C$i%02d"),
      v4.deletedKeys.toString)
    assert(keyCalls(v4).isEmpty, s"top-level DELETE calls: ${keyCalls(v4)}")
    assert(subMethods(v4.batchBodies.toSeq) == Seq.fill(6)("DELETE"), v4.batchBodies.toString)
    assert(v4.batchBodies.size == 2, v4.batchBodies.toString)
    assert(!v4.requests.exists(_.contains("/$count")), v4.requests.toString)
    assert(v4.requests.count(_.contains("$select=CustomerID")) == 1, v4.requests.toString)
  }

  test("bulk DELETE with insertBatchSize empties the set through executor $batch DELETEs") {
    val big = new ODataStub(v2 = false).start()
    try {
      big.rows = big.makeRows(12000)
      big.applyDeletes = true
      val cat = catalog("bbat", big, 50)
      spark.sql(s"DELETE FROM $cat.main.Customers WHERE Revenue > 1000")
      assert(big.deletedKeys.size == 11999, s"deleted ${big.deletedKeys.size}")
      assert(big.rows.map(_("CustomerID")) == Seq("C00"), s"survivors: ${big.rows.size}")
      assert(keyCalls(big).isEmpty, s"${keyCalls(big).size} top-level DELETE calls")
      val sizes = big.batchBodies.map(b => subMethods(Seq(b)).size)
      assert(sizes.sum == 11999 && sizes.forall(_ <= 50), sizes.toString)
      val keyPages = big.requests.filter(r =>
        r.contains("$select=CustomerID") && r.contains("$top=1000"))
      assert(keyPages.size >= 12, s"expected >=12 bounded key pages, got ${keyPages.size}")
    } finally big.stop()
  }

  test("MERGE sends its update, delete and insert as $batch sub-requests") {
    val cat = catalog("mbat", v4, 10)
    v4.patchedKeys.clear(); v4.deletedKeys.clear(); v4.postedItems.clear()
    v4.batchBodies.clear(); v4.requests.clear()
    spark.sql(
      s"""MERGE INTO $cat.main.Customers t
         |USING (SELECT * FROM VALUES ('C00', 'u'), ('C01', 'd'), ('N01', 'i') AS v(id, op)) s
         |ON t.CustomerID = s.id
         |WHEN MATCHED AND s.op = 'u' THEN UPDATE SET CompanyName = 'Merged Co'
         |WHEN MATCHED AND s.op = 'd' THEN DELETE
         |WHEN NOT MATCHED THEN INSERT (CustomerID, CompanyName, Country, Revenue, Founded)
         |  VALUES (s.id, 'New Co', 'Spain', 1L, TIMESTAMP '2024-01-01 00:00:00')
         |""".stripMargin)
    assert(v4.patchedKeys.map(_._1) == Seq("C00"), v4.patchedKeys.toString)
    assert(v4.deletedKeys == Seq("C01"), v4.deletedKeys.toString)
    assert(v4.postedItems.size == 1 && v4.postedItems.head.contains(""""CustomerID":"N01""""),
      v4.postedItems.toString)
    assert(subMethods(v4.batchBodies.toSeq).sorted == Seq("DELETE", "PATCH", "POST"),
      v4.batchBodies.toString)
    assert(keyCalls(v4).isEmpty, s"top-level calls: ${keyCalls(v4)}")
  }

  test("a failing $batch sub-request fails the UPDATE statement") {
    val cat = catalog("fbat", v4, 4)
    v4.failKeys = Set("C03")
    try {
      val err = intercept[Exception](spark.sql(
        s"UPDATE $cat.main.Customers SET CompanyName = 'Never' WHERE Country = 'Germany'"))
      assert(messages(err).contains("$batch sub-requests failed"), messages(err))
    } finally v4.failKeys = Set.empty
  }

  private def deltaWriter(partition: Int) = {
    val schema = new org.apache.spark.sql.types.StructType()
      .add("CustomerID", "string").add("CompanyName", "string")
    new graft.writes.RestDeltaWriterFactory(v4.serviceUrl + "/Customers",
      ODataEntities("CustomerID", schema("CustomerID").dataType, keyIsString = true), schema,
      graft.sources.http.HttpAuth(),
      Some(ODataBatchTarget(10, v4.serviceUrl + "/$batch", "/Customers")))
      .createWriter(partition, partition.toLong)
  }
  private def customer(fields: String*) =
    org.apache.spark.sql.catalyst.InternalRow(
      fields.map(org.apache.spark.unsafe.types.UTF8String.fromString): _*)

  test("batched delta writer flushes before a second change to a buffered key") {
    v4.batchBodies.clear(); v4.patchedKeys.clear()
    val w = deltaWriter(0)
    w.update(null, customer("C00"), customer("C00", "First"))
    w.update(null, customer("C01"), customer("C01", "Other"))
    w.update(null, customer("C00"), customer("C00", "Second"))
    w.commit(); w.close()
    // one batch may run its sub-requests in any order: the two C00 changes
    // travel in separate batches, the first before the second
    assert(v4.batchBodies.size == 2, v4.batchBodies.toString)
    assert(v4.batchBodies.head.contains("First") && v4.batchBodies.head.contains("Other") &&
      !v4.batchBodies.head.contains("Second"), v4.batchBodies.head)
    assert(v4.batchBodies(1).contains("Second"), v4.batchBodies(1))
    assert(v4.patchedKeys.map(_._1) == Seq("C00", "C01", "C00"), v4.patchedKeys.toString)
  }

  test("batched delta writer abort() drops its buffer unsent") {
    v4.batchBodies.clear(); v4.patchedKeys.clear()
    val w = deltaWriter(1)
    w.update(null, customer("C00"), customer("C00", "Dropped"))
    w.delete(null, customer("C01"))
    w.abort(); w.close()
    assert(v4.batchBodies.isEmpty && v4.patchedKeys.isEmpty, v4.batchBodies.toString)
  }

  test("insertBatchSize on an OData v2 service fails INSERT, UPDATE and DELETE before writing") {
    val cat = catalog("v2bat", v2, 4)
    v2.batchBodies.clear(); v2.postedItems.clear(); v2.patchedKeys.clear(); v2.deletedKeys.clear()
    Seq(
      s"""INSERT INTO $cat.main.Customers SELECT 'V1' AS CustomerID, 'V2 Co' AS CompanyName,
         |'Spain' AS Country, CAST(1 AS BIGINT) AS Revenue,
         |TIMESTAMP '2024-01-01 00:00:00' AS Founded""".stripMargin,
      s"UPDATE $cat.main.Customers SET CompanyName = 'x' WHERE Country = 'Germany'",
      s"DELETE FROM $cat.main.Customers WHERE Country = 'Mexico'"
    ).foreach { sql =>
      val err = intercept[Exception](spark.sql(sql))
      val chain = Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null).toSeq
      assert(chain.exists(e => e.isInstanceOf[IllegalArgumentException] &&
        e.getMessage.contains("insertBatchSize") && e.getMessage.contains("version 2")),
        s"$sql\n${messages(err)}")
    }
    assert(v2.batchBodies.isEmpty && v2.postedItems.isEmpty && v2.patchedKeys.isEmpty &&
      v2.deletedKeys.isEmpty)
  }

  test("nested $expand (v4): Orders($expand=Items) gives two-level structs and parenthesized URL") {
    v4.requests.clear()
    val df = read(v4, "expand" -> "Orders($expand=Items)")
    val inner = df.schema("Orders").dataType
      .asInstanceOf[org.apache.spark.sql.types.ArrayType]
      .elementType.asInstanceOf[org.apache.spark.sql.types.StructType]
    assert(inner.fieldNames.toSeq == Seq("OrderID", "Amount", "Items"))
    val items = inner("Items").dataType
      .asInstanceOf[org.apache.spark.sql.types.ArrayType]
      .elementType.asInstanceOf[org.apache.spark.sql.types.StructType]
    assert(items.fieldNames.toSeq == Seq("ItemID", "Qty"))
    val c2 = df.select("CustomerID", "Orders").filter(col("CustomerID") === "C02").head()
    val orders = c2.getSeq[org.apache.spark.sql.Row](1)
    // order 21 is odd -> 2 items (ids 2100, 2101); order 20 even -> 1 item
    val byId = orders.map(o => o.getInt(0) -> o.getSeq[org.apache.spark.sql.Row](2)).toMap
    assert(byId(20).map(_.getInt(0)) == Seq(2000))
    assert(byId(21).map(_.getInt(0)) == Seq(2100, 2101))
    assert(v4.requests.exists(_.contains("$expand=Orders($expand=Items)")),
      v4.requests.filter(_.contains("expand")).toString)
  }

  test("nested $expand slash path (v2): Orders/Items renders slash syntax and decodes results-wrappers") {
    v2.requests.clear()
    val df = read(v2, "expand" -> "Orders/Items").select("CustomerID", "Orders")
    val c5 = df.filter(col("CustomerID") === "C05").head()
    val orders = c5.getSeq[org.apache.spark.sql.Row](1)
    assert(orders.map(_.getInt(0)) == Seq(50, 51))
    // v2 wraps both levels in {"results": ...}; both must decode
    val items51 = orders.find(_.getInt(0) == 51).get.getSeq[org.apache.spark.sql.Row](2)
    assert(items51.map(_.getInt(0)) == Seq(5100, 5101))
    val dataReqs = v2.requests.filter(_.contains("/Customers?"))
    assert(dataReqs.exists(_.contains("$expand=Orders/Items")), s"reqs: $dataReqs")
  }

  test("per-expand $select narrows the nested struct and renders v4 options") {
    v4.requests.clear()
    val df = read(v4, "expand" -> "Orders($select=OrderID)")
    val inner = df.schema("Orders").dataType
      .asInstanceOf[org.apache.spark.sql.types.ArrayType]
      .elementType.asInstanceOf[org.apache.spark.sql.types.StructType]
    assert(inner.fieldNames.toSeq == Seq("OrderID"))
    assert(df.select("CustomerID", "Orders").filter(col("CustomerID") === "C02").head()
      .getSeq[org.apache.spark.sql.Row](1).map(_.getInt(0)) == Seq(20, 21))
    assert(v4.requests.exists(_.contains("$expand=Orders($select=OrderID)")),
      v4.requests.filter(_.contains("expand")).toString)
  }

  test("SQL UPDATE on a catalog entity set PATCHes by key (SupportsRowLevelOperations)") {
    v4.patchedKeys.clear()
    val cat = s"ucat${v4.port}"
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.odata.ODataCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.url", v4.serviceUrl)
    spark.sql(
      s"UPDATE $cat.main.Customers SET CompanyName = 'Patched Co' WHERE Country = 'Germany'")
    // customers with i%3==0 -> C00, C03, ..., C18
    assert(v4.patchedKeys.map(_._1).sorted == (0 until 20 by 3).map(i => f"C$i%02d"),
      v4.patchedKeys.toString)
    assert(v4.patchedKeys.forall(_._2.contains(""""CompanyName":"Patched Co"""")),
      v4.patchedKeys.headOption.toString)
  }

  test("$expand on v2 unwraps the results-wrapper and mirrors navs into $select") {
    v2.requests.clear()
    val df = read(v2, "expand" -> "Orders").select("CustomerID", "Orders")
    val c5 = df.filter(col("CustomerID") === "C05").head()
    val orders = c5.getSeq[org.apache.spark.sql.Row](1)
    assert(orders.map(_.getInt(0)) == Seq(50, 51))
    val dataReqs = v2.requests.filter(_.contains("/Customers?"))
    assert(dataReqs.exists(r => r.contains("$expand=Orders") && r.contains("Orders") &&
      r.contains("$select=") && r.contains("CustomerID")), s"reqs: $dataReqs")
  }

  test("runtime filtering: broadcast-join In filter reaches $filter at execution (SupportsRuntimeFiltering)") {
    import spark.implicits._
    v4.requests.clear()
    val cat = s"rfcat${v4.port}"
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.odata.ODataCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.url", v4.serviceUrl)
    // dim must NOT be a LocalRelation (ConvertToLocalRelation folds the
    // selective filter away and dynamic pruning never arms) and the dim
    // predicate must survive BooleanSimplification as a comparison —
    // `flag = true` simplifies to a bare attribute, which isLikelySelective
    // rejects. Parquet + string equality is also the realistic dim shape.
    val dimDir = java.nio.file.Files.createTempDirectory("rf_dim").toString
    Seq(("C01", "keep"), ("C05", "keep"), ("C09", "drop"))
      .toDF("cid", "tag").write.mode("overwrite").parquet(dimDir)
    spark.read.parquet(dimDir).createOrReplaceTempView("rf_dim")
    // selective predicate on the dim side is what arms dynamic pruning
    val joined = spark.sql(
      s"""SELECT c.CustomerID, c.Revenue, d.cid
         |FROM $cat.main.Customers c
         |JOIN rf_dim d ON c.CustomerID = d.cid
         |WHERE d.tag = 'keep'""".stripMargin)
    val rows = joined.collect()
    assert(rows.map(_.getString(0)).sorted.toSeq == Seq("C01", "C05"))
    val dataReqs = v4.requests.filter(_.contains("/Customers?"))
    assert(dataReqs.nonEmpty, s"no data requests logged: ${v4.requests}")
    // EVERY page fetch must carry the join-produced In: an unfiltered request
    // would mean the scan paged the whole remote set before the join pruned
    assert(dataReqs.forall(r => r.contains("$filter=") &&
      r.contains("CustomerID eq 'C01'") && r.contains("CustomerID eq 'C05'")),
      s"runtime In did not reach the server: $dataReqs")
    assert(dataReqs.forall(!_.contains("C09")), s"un-kept key leaked: $dataReqs")
    // plan-level proof: the scan node carries a dynamic pruning subquery
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.toLowerCase.contains("dynamicpruning"),
      s"no dynamic pruning in plan:\n$plan")
  }

  test("runtime filtering: >50 join keys falls back to an unfiltered scan (cap respected)") {
    import spark.implicits._
    v4.requests.clear()
    // 60 distinct keys exceed the compiler's In cap → filter() leaves the
    // scan unfiltered; the join itself still applies the predicate
    val dimDir = java.nio.file.Files.createTempDirectory("rf_dim_big").toString
    (0 until 60).map(i => (f"C$i%02d", "keep")).toDF("cid", "tag")
      .write.mode("overwrite").parquet(dimDir)
    spark.read.parquet(dimDir).createOrReplaceTempView("rf_dim_big")
    val cat = s"rfcat${v4.port}"
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.odata.ODataCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.url", v4.serviceUrl)
    val joined = spark.sql(
      s"""SELECT c.CustomerID FROM $cat.main.Customers c
         |JOIN rf_dim_big d ON c.CustomerID = d.cid WHERE d.tag = 'keep'""".stripMargin)
    assert(joined.collect().length == 20) // all stub customers match
    // pruning DID arm (otherwise this test is vacuous) …
    assert(joined.queryExecution.executedPlan.toString.toLowerCase
      .contains("dynamicpruning"), "dynamic pruning never armed")
    // … but the >cap In was refused, so no $filter reached the server
    val dataReqs = v4.requests.filter(_.contains("/Customers?"))
    assert(dataReqs.nonEmpty && dataReqs.forall(!_.contains("$filter=")),
      s"cap not respected: $dataReqs")
  }
  test("keyset windows each send their own first-page GET from their tasks, and no $batch") {
    v4.skipStatus = 501 // force the keyset path
    try {
      v4.requests.clear(); v4.batchBodies.clear()
      val ids = read(v4, "parallelism" -> "4", "partitionRows" -> "5")
        .collect().map(_.getString(0)).toSeq
      assert(ids.sorted == (0 until 20).map(i => f"C$i%02d"), s"keyset union wrong: $ids")
      assert(v4.batchBodies.isEmpty, s"unexpected $$batch: ${v4.batchBodies}")
      // 5-row windows of 5-row pages: one GET per window, the sweep aside
      val windows = v4.requests.toSeq.filter(r => r.startsWith("/svc/Customers?") &&
        r.contains("$filter=") && !r.contains("$select="))
      assert(windows.size == 4 && windows.distinct.size == 4, s"window GETs: $windows")
    } finally v4.skipStatus = 200
  }

  test("keyset planning fetches no window page: the windows' first GETs come from collect()") {
    v4.skipStatus = 501
    try {
      v4.requests.clear(); v4.batchBodies.clear()
      val df = read(v4, "parallelism" -> "4", "partitionRows" -> "5")
      def windows() = v4.requests.toSeq.filter(r => r.startsWith("/svc/Customers?") &&
        r.contains("$filter=") && !r.contains("$select="))
      assert(df.rdd.getNumPartitions == 4)
      assert(v4.requests.exists(_.contains("$select=CustomerID")), s"no key sweep: ${v4.requests}")
      assert(windows().isEmpty && v4.batchBodies.isEmpty,
        s"planning fetched rows: ${windows()} ${v4.batchBodies}")
      assert(df.collect().length == 20)
      assert(windows().size == 4, s"window GETs: ${windows()}")
    } finally v4.skipStatus = 200
  }

  test("a keyset-window Dataset collected twice reads the server's rows at each collect") {
    val s = new ODataStub(v2 = false).start()
    s.skipStatus = 501
    try {
      val df = read(s, "parallelism" -> "4", "partitionRows" -> "5", "pagesize" -> "2")
      def live() = s.rows.map(_("CustomerID").toString).sorted
      assert(df.collect().map(_.getString(0)).toSeq.sorted == live())
      s.rows = s.rows.filterNot(_("CustomerID") == "C00")
      assert(df.collect().map(_.getString(0)).toSeq.sorted == live())
    } finally s.stop()
  }

  test("keyset sweep: an HTTP no is traced once and the scan reads every row from one partition") {
    val s = new ODataStub(v2 = false).start()
    s.skipStatus = 501
    s.sweepStatus = 501
    try {
      val lines = warnings(assert(read(s, "parallelism" -> "4", "partitionRows" -> "5")
        .collect().map(_.getString(0)).toSeq.sorted == (0 until 20).map(i => f"C$i%02d")))
      assert(lines.count(l => l.contains("[WARN] [odata] keyset sweep GET ") &&
        l.contains("-> HTTP 501: serial scan")) == 1, lines)
      // one partition: no data GET carries a window filter
      assert(!s.requests.exists(r => r.startsWith("/svc/Customers") && r.contains("$filter=")),
        s.requests)
    } finally s.stop()
  }

  test("keyset sweep: a dropped connection fails the query after the client's retries") {
    val s = new ODataStub(v2 = false).start()
    s.skipStatus = 501
    s.dropSweeps = true
    try {
      val err = failAfter(Span(60, Seconds))(intercept[Exception](
        read(s, "parallelism" -> "4", "partitionRows" -> "5").collect()))
      assert(messages(err).contains("HTTP GET ") && messages(err).contains("$select=CustomerID") &&
        messages(err).contains("failed after 3 retries"), messages(err))
    } finally s.stop()
  }

  test("a repeating nextLink fails the scan with the looping URL instead of paging forever") {
    val looping = new ODataStub(v2 = false).start()
    looping.loopNextLink = true
    try {
      val err = failAfter(Span(60, Seconds)) {
        intercept[Exception](read(looping).collect())
      }
      val msgs = Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null)
        .map(e => String.valueOf(e.getMessage)).mkString("\n")
      assert(msgs.contains("OData nextLink loop:") && msgs.contains("__page=1"), msgs)
    } finally looping.stop()
  }

  test("COUNT(*) page walk on a repeating nextLink fails loudly instead of paging forever") {
    val looping = new ODataStub(v2 = false).start()
    looping.loopNextLink = true
    looping.countStatus = 501
    try {
      val err = failAfter(Span(60, Seconds)) {
        intercept[Exception](read(looping).count())
      }
      assert(messages(err).contains("OData nextLink loop:"), messages(err))
    } finally looping.stop()
  }

  test("DELETE on a repeating nextLink key walk fails loudly and deletes nothing") {
    val looping = new ODataStub(v2 = false).start()
    looping.loopNextLink = true
    try {
      val cat = s"ldel${looping.port}"
      spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.odata.ODataCatalog")
      spark.conf.set(s"spark.sql.catalog.$cat.url", looping.serviceUrl)
      val err = failAfter(Span(60, Seconds)) {
        intercept[Exception](spark.sql(s"DELETE FROM $cat.main.Customers WHERE Country = 'Mexico'"))
      }
      assert(messages(err).contains("OData nextLink loop:"), messages(err))
      assert(looping.deletedKeys.isEmpty, looping.deletedKeys.toString)
    } finally looping.stop()
  }

  /** A 40-row server whose range scans (two partitions) cut into two
    * 20-row windows of 5-row pages: a first page and 3 sub-ranges each. */
  private def rangeStub(): ODataStub = {
    val s = new ODataStub(v2 = false).start()
    s.rows = s.makeRows(40)
    s.pagesWithinTop = true
    s
  }
  private def rangeScan(s: ODataStub) = read(s, "parallelism" -> "2", "partitionRows" -> "20")
  private val rangeIds = (0 until 40).map(i => f"C$i%02d")
  /** Data page GETs of a range scan: no probe, no count. */
  private def pageGets(s: ODataStub): Seq[String] =
    s.requests.toSeq.filter(r => r.startsWith("/svc/Customers?") && !r.contains("$top=1&"))

  test("range read-ahead: sub-ranges answered out of order yield every row in order, with a serial walk's page GETs") {
    val s = rangeStub()
    // each window's first sub-range answers last
    s.skipAnswers = Map(5 -> ODataStub.SkipAnswer(delayMs = 500),
      25 -> ODataStub.SkipAnswer(delayMs = 500))
    try {
      val ids = failAfter(Span(60, Seconds))(rangeScan(s).collect().map(_.getString(0)).toSeq)
      assert(ids == rangeIds, ids)
      // a serial walk sends 4 pages per window too: the first and 3 nextLinks
      val gets = pageGets(s)
      assert(gets.size == 8, gets.mkString("\n"))
      assert(Seq(5, 10, 15, 25, 30, 35).forall(k =>
        gets.exists(_.endsWith(s"$$top=5&$$skip=$k"))), gets.mkString("\n"))
    } finally s.stop()
  }

  test("range read-ahead: a sub-range the server pages smaller is followed to completion") {
    val s = rangeStub()
    s.skipAnswers = Map(10 -> ODataStub.SkipAnswer(pageSize = Some(2)))
    try {
      assert(rangeScan(s).collect().map(_.getString(0)).toSeq == rangeIds)
      // [10, 15) came back as pages of 2, 2 and 1 rows
      val sub = pageGets(s).filter(_.contains("$skip=10"))
      assert(sub.size == 3 && sub.exists(_.contains("__page=2")), sub.mkString("\n"))
    } finally s.stop()
  }

  test("range read-ahead: a 404 on one sub-range fails the query naming that sub-range's URL") {
    val s = rangeStub()
    s.skipAnswers = Map(10 -> ODataStub.SkipAnswer(status = 404))
    try {
      val err = failAfter(Span(60, Seconds))(intercept[Exception](rangeScan(s).collect()))
      assert(messages(err).contains("HttpStatusError: GET ") &&
        messages(err).contains("$top=5&$skip=10 -> HTTP 404"), messages(err))
    } finally s.stop()
  }

  /** Sub-range GETs in flight at once, at most, among `spans` (the stub's
    * handling intervals). */
  private def mostOverlapping(spans: Seq[(Long, Long)]): Int =
    spans.flatMap { case (b, e) => Seq((b, 1), (e, -1)) }.sortBy(identity)
      .scanLeft(0)(_ + _._2).max
  private def skipOf(r: String): Int = "\\$skip=(\\d+)".r.findFirstMatchIn(r).get.group(1).toInt

  test("range read-ahead: a partition keeps more than 4 and at most 16 sub-range GETs in flight, every row in order") {
    // two 110-row partitions of 5-row pages: a first page and 21 sub-ranges each
    val s = new ODataStub(v2 = false, threads = 48).start()
    s.rows = s.makeRows(220)
    s.pagesWithinTop = true
    s.skipAnswers = (5 until 220 by 5).map(_ -> ODataStub.SkipAnswer(delayMs = 100)).toMap
    try {
      val ids = failAfter(Span(60, Seconds))(
        read(s, "parallelism" -> "2", "partitionRows" -> "110").collect().map(_.getString(0)).toSeq)
      assert(ids == s.rows.map(_("CustomerID").toString).sorted, ids)
      // a serial walk of each window sends its first page and 21 nextLinks
      assert(pageGets(s).size == 44, pageGets(s).mkString("\n"))
      val subRanges = s.served.toSeq.filter { case (r, _, _) =>
        r.startsWith("/svc/Customers?") && !r.contains("$top=1&") && skipOf(r) % 110 != 0
      }
      val perPartition = subRanges.groupBy { case (r, _, _) => skipOf(r) / 110 }
        .map { case (p, rs) => p -> mostOverlapping(rs.map { case (_, b, e) => (b, e) }) }
      assert(perPartition.size == 2 && perPartition.values.forall(n => n > 4 && n <= 16),
        perPartition)
    } finally s.stop()
  }

  test("range read-ahead: a 503 with Retry-After on one sub-range is retried after the asked delay") {
    val s = rangeStub()
    s.skipAnswers = Map(10 -> ODataStub.SkipAnswer(status = 503,
      headers = Map("Retry-After" -> "1"), times = 1))
    try {
      val t0 = System.nanoTime()
      val ids = failAfter(Span(60, Seconds))(rangeScan(s).collect().map(_.getString(0)).toSeq)
      assert(ids == rangeIds, ids)
      assert((System.nanoTime() - t0) / 1000000 >= 1000, "Retry-After: 1 was not waited out")
      assert(pageGets(s).count(_.endsWith("$top=5&$skip=10")) == 2, pageGets(s).mkString("\n"))
      assert(pageGets(s).size == 9, pageGets(s).mkString("\n"))
    } finally s.stop()
  }

  test("range read-ahead: after a sub-range 404 surfaces, no GET is sent, resent or retried") {
    // one 110-row range partition: a first page and 21 sub-ranges, the first
    // 16 sent at once; [5, 10) fails after [10, 15) met a 503 asking for 1 s
    val s = new ODataStub(v2 = false).start()
    s.rows = s.makeRows(110)
    s.pagesWithinTop = true
    s.skipAnswers = (15 until 110 by 5).map(_ -> ODataStub.SkipAnswer(delayMs = 300)).toMap ++ Map(
      5 -> ODataStub.SkipAnswer(status = 404, delayMs = 200),
      10 -> ODataStub.SkipAnswer(status = 503, headers = Map("Retry-After" -> "1"), times = 1))
    try {
      val err = failAfter(Span(60, Seconds))(intercept[Exception](
        read(s, "parallelism" -> "2", "partitionRows" -> "110").collect()))
      assert(messages(err).contains("HttpStatusError: GET ") &&
        messages(err).contains("$top=5&$skip=5 -> HTTP 404"), messages(err))
      Thread.sleep(1500) // past the 503's retry delay
      val gets = pageGets(s)
      // the first page and the first window, each once: the rest never went out
      assert(gets.map(skipOf).sorted == (0 to 80 by 5), gets.mkString("\n"))
    } finally s.stop()
  }

  test("range read-ahead: a sub-range answered 429 on every attempt fails the scan after the client's retries, and is not sent again") {
    val s = rangeStub()
    s.skipAnswers = Map(10 -> ODataStub.SkipAnswer(status = 429))
    def sent() = pageGets(s).count(_.endsWith("$top=5&$skip=10"))
    try {
      val err = failAfter(Span(60, Seconds))(intercept[Exception](rangeScan(s).collect()))
      val statuses = Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null)
        .collect { case e: HttpStatusError => e.status }.toSeq
      assert(statuses.contains(429), messages(err))
      assert(sent() == HttpPolicy().retries + 1, pageGets(s).mkString("\n"))
      Thread.sleep(1500) // longer than any retry delay the client would wait
      assert(sent() == HttpPolicy().retries + 1, pageGets(s).mkString("\n"))
    } finally s.stop()
  }

  test("range read-ahead: a truncated page fails the scan loudly, never a partial row set") {
    val s = rangeStub()
    s.skipAnswers = Map(30 -> ODataStub.SkipAnswer(truncate = true))
    try {
      val err = failAfter(Span(60, Seconds))(intercept[Exception](rangeScan(s).collect()))
      assert(messages(err).contains("Unexpected end-of-input"), messages(err))
    } finally s.stop()
  }

  test("$count: an HTTP no is traced once and plans no range partition; a dropped connection fails the query") {
    val s = new ODataStub(v2 = false).start()
    def scan() = read(s, "parallelism" -> "4", "partitionRows" -> "5").collect()
    try {
      s.countStatus = 501
      val lines = warnings(assert(scan().length == 20))
      assert(lines.count(l => l.contains("[WARN] [odata] $count GET ") &&
        l.contains("-> HTTP 501")) == 1, lines)
      assert(!s.requests.exists(r => r.contains("$skip=") && !r.contains("$top=1&")), s.requests)
      s.countStatus = 200
      s.dropCounts = true
      val err = failAfter(Span(60, Seconds))(intercept[Exception](scan()))
      assert(messages(err).contains("HTTP GET ") && messages(err).contains("/Customers/$count") &&
        messages(err).contains("failed after 3 retries"), messages(err))
    } finally s.stop()
  }

  test("a parallel scan with no key order sends no $count and reads every row from one partition") {
    v4.requests.clear()
    val df = read(v4, "parallelism" -> "4", "partitionRows" -> "5",
      "schemaDdl" -> "CustomerID STRING, CompanyName STRING, Country STRING, Revenue BIGINT, Founded TIMESTAMP")
    assert(df.collect().map(_.getString(0)).toSeq.sorted == (0 until 20).map(i => f"C$i%02d"))
    assert(!v4.requests.exists(_.contains("/$count")), v4.requests)
    assert(!v4.requests.exists(_.contains("$filter=")), v4.requests)
  }

  test("service-root detection: a parent answering its $metadata with 404 is traced and the URL is the root") {
    val s = new ODataStub(v2 = false).start()
    s.extraStatuses.synchronized { s.extraStatuses("/$metadata") = (404, Map.empty) }
    try {
      val lines = warnings(assert(
        spark.read.format("odata").option("url", s.serviceUrl).load().collect().length == 20))
      assert(lines.exists(_.contains(
        s"[WARN] [odata] service root probe GET http://localhost:${s.port}/$$metadata -> HTTP 404: " +
          s"${s.serviceUrl} is the service root")), lines)
    } finally s.stop()
  }

  test("service-root detection: a dropped connection at the parent fails the read after the client's retries") {
    val s = new ODataStub(v2 = false).start()
    s.dropPaths = Set("/$metadata")
    try {
      val err = failAfter(Span(60, Seconds))(intercept[Exception](
        spark.read.format("odata").option("url", s.serviceUrl).load().collect()))
      assert(messages(err).contains(
        s"HTTP GET http://localhost:${s.port}/$$metadata failed after 3 retries"), messages(err))
    } finally s.stop()
  }

  private def applyProbes(s: ODataStub): Int =
    s.requests.count(r => r.contains("$apply=") && r.endsWith("$top=1"))
  private def revenueByCountry(s: ODataStub, min: Long): Map[String, Long] =
    s.rows.filter(_("Revenue").asInstanceOf[Long] > min).groupBy(_("Country").toString)
      .map { case (c, rs) => c -> rs.map(_("Revenue").asInstanceOf[Long]).sum }

  test("capability cache: two group-bys that differ only in literals send one $apply probe") {
    v4.requests.clear()
    Seq(5000L, 9000L).foreach { min =>
      val out = read(v4).filter(col("Revenue") > min).groupBy("Country")
        .agg(sum("Revenue")).collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(out == revenueByCountry(v4, min))
    }
    assert(applyProbes(v4) == 1, v4.requests)
  }

  test("capability cache: two range scans of one set send one $skip probe") {
    v4.requests.clear()
    (1 to 2).foreach(_ =>
      assert(read(v4, "parallelism" -> "4", "partitionRows" -> "5").collect().length == 20))
    assert(v4.requests.count(_.contains("$top=1&$skip=1&")) == 1, v4.requests)
    assert(v4.requests.count(_.endsWith("$top=5&$skip=15")) == 2, v4.requests)
  }

  test("capability cache: a server answering $apply with 501 is probed by every query, which aggregates in Spark") {
    v4.applyStatus = 501
    try {
      v4.requests.clear()
      (1 to 2).foreach { i =>
        val out = read(v4).groupBy("Country").agg(sum("Revenue"))
          .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
        assert(out == revenueByCountry(v4, 0L))
        assert(applyProbes(v4) >= i, v4.requests)
      }
      assert(v4.requests.forall(r => !r.contains("$apply=") || r.endsWith("$top=1")), v4.requests)
    } finally v4.applyStatus = 200
  }

  /** Runs `body` with WARN traces written to a fresh file; its lines. */
  private def warnings(body: => Unit): Seq[String] = {
    val dir = java.nio.file.Files.createTempDirectory("odata-warn")
    val conf = Seq("enabled" -> "true", "level" -> "WARN", "output" -> "file", "dir" -> dir.toString)
    try {
      conf.foreach { case (k, v) => spark.conf.set(s"spark.graft.trace.$k", v) }
      body
    } finally conf.foreach { case (k, _) => spark.conf.unset(s"spark.graft.trace.$k") }
    val f = dir.resolve("graft_trace.log")
    val lines =
      if (java.nio.file.Files.exists(f)) java.nio.file.Files.readAllLines(f).toArray.toSeq.map(_.toString)
      else Seq.empty
    java.nio.file.Files.deleteIfExists(f)
    java.nio.file.Files.delete(dir)
    lines
  }

  test("$skip probe: an HTTP no is traced and plans keyset windows; a transport failure fails the scan") {
    val s = new ODataStub(v2 = false).start()
    def scan() = read(s, "parallelism" -> "4", "partitionRows" -> "5").collect()
    try {
      s.skipStatus = 501
      val lines = warnings(assert(scan().length == 20))
      assert(lines.exists(l => l.contains("[WARN] [odata] $skip probe GET ") &&
        l.contains("-> HTTP 501")), lines)
      s.skipStatus = 200
      s.dropProbes = true
      val err = failAfter(Span(60, Seconds))(intercept[Exception](scan()))
      assert(messages(err).contains("HTTP GET ") && messages(err).contains("$top=1&$skip=1&") &&
        messages(err).contains("failed after 3 retries"), messages(err))
    } finally s.stop()
  }

  test("$apply probe: an HTTP no is traced and aggregates in Spark; a transport failure fails the query") {
    val s = new ODataStub(v2 = false).start()
    def agg() = read(s).groupBy("Country").agg(sum("Revenue")).collect()
    try {
      s.applyStatus = 501
      val lines = warnings(assert(agg().length == 3))
      assert(lines.exists(l => l.contains("[WARN] [odata] $apply probe GET ") &&
        l.contains("-> HTTP 501")), lines)
      s.applyStatus = 200
      s.dropProbes = true
      val err = failAfter(Span(60, Seconds))(intercept[Exception](agg()))
      assert(messages(err).contains("HTTP GET ") && messages(err).contains("$apply=") &&
        messages(err).contains("failed after 3 retries"), messages(err))
    } finally s.stop()
  }
}
