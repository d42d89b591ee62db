package perfbench

import java.nio.file.{Files, Path}
import java.sql.Timestamp
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import graft.sources.deltashare.{DeltaShare, DeltaShareProfile}

/** Where a read op's tables come from: the connector (the program under
  * test) or Spark's parquet reader over the corpus (the expected side). */
trait Src {
  def table(t: String, opts: Map[String, String] = Map.empty): DataFrame
  def sql(t: String): String
}

/** Shared by the connector workloads: a fixture, a bound service root and
  * catalog, and read ops checked against the parquet side. */
abstract class Remote(spark: SparkSession, args: Args) extends Workload {
  protected val rng = new scala.util.Random(args.seed)
  protected var fx: Fixture = _
  protected var root: String = _
  protected var cat: String = _
  private val expected = mutable.Map[String, (Long, Long)]()

  def fixture: Option[Fixture] = Option(fx)
  def close(): Unit = if (fx != null) fx.stop()

  protected def bindCatalog(n: Int, extra: Map[String, String] = Map.empty): Unit = {
    root = fx.serviceRoot(n)
    cat = s"bench$n"
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.odata.ODataCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.url", root)
    extra.foreach { case (k, v) => spark.conf.set(s"spark.sql.catalog.$cat.$k", v) }
  }

  protected val odata: Src = new Src {
    def table(t: String, opts: Map[String, String]): DataFrame =
      spark.read.format("odata").options(opts).option("url", s"$root/$t").load()
    def sql(t: String): String = s"$cat.main.$t"
  }
  protected val parquet: Src = new Src {
    def table(t: String, opts: Map[String, String]): DataFrame = spark.table(s"pq_$t")
    def sql(t: String): String = s"pq_$t"
  }

  /** Expected (rows, checksum) of every query over parquet, as concurrent
    * Spark jobs. */
  protected def precompute(queries: Seq[(String, Src => DataFrame)]): Unit = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(args.cpus)
    try {
      val futures = queries.map { case (k, q) => k -> pool.submit(() => Data.digestOf(q(parquet))) }
      futures.foreach { case (k, f) => expected(k) = f.get() }
    } finally pool.shutdown()
  }

  /** A read op: `q` over the connector, planned inside the `odata.plan`
    * span, materialised as per-row hashes; checked against `q` over parquet. */
  protected def readOp(name: String, key: String, rows: Long, q: Src => DataFrame): Op =
    Op(name, "read", rows, () => {
      val df = Tracer.span("odata.plan") {
        val d = Data.hashed(q(odata)); d.queryExecution.executedPlan; d
      }
      val hs = df.collect().map(_.getLong(0))
      Tracer.outRows.put(Tracer.op, hs.length.toLong)
      hs
    }, res => {
      val got = Data.digest(res.asInstanceOf[Array[Long]])
      val exp = expected.getOrElseUpdate(key, Data.digestOf(q(parquet)))
      if (got == exp) None else Some(s"$key: (rows, checksum) $got, expected $exp")
    })
}

/** Interactive reads against a 20 ms service: lookups, pushed filters and
  * projections, top-N, a pushed group-by, a parallel full scan and a
  * catalog join. Filter constants come from small seed-chosen pools with
  * Zipf picks, so some requests repeat. */
final class ODataRemote(spark: SparkSession, args: Args) extends Remote(spark, args) {
  private var orders: Seq[Row] = _
  private var customers: Seq[Row] = _
  private var dates: IndexedSeq[Long] = _ // sorted o_orderdate micros
  private var pools: Pools = _

  /** A read op's definition: expected-result key, covered rows, query. */
  private final case class Spec(key: String, rows: Long, q: Src => DataFrame)
  private final case class Pools(lookup: IndexedSeq[Spec], select: IndexedSeq[Spec], topN: IndexedSeq[Spec],
                                 groupBy: IndexedSeq[Spec], join: IndexedSeq[Spec], fullScan: Spec) {
    def all: Seq[Spec] = lookup ++ select ++ topN ++ groupBy ++ join :+ fullScan
  }

  def prepare(): Unit = {
    val dir = Data.corpusRoot(spark).resolve("sf0.1")
    val o = Data.load(spark, dir, "orders", Data.OrderCols).cache()
    val c = Data.load(spark, dir, "customer", Data.CustomerCols).cache()
    o.createOrReplaceTempView("pq_orders"); c.createOrReplaceTempView("pq_customer")
    orders = Data.rowsOf(o, Data.OrderCols); customers = Data.rowsOf(c, Data.CustomerCols)
    dates = orders.map(_.values(4).asInstanceOf[Long]).sorted.toIndexedSeq
    val sets = Seq(new EntitySet("orders", "Order", Data.OrderCols, Seq("o_orderkey"), orders, false, 1000),
      new EntitySet("customer", "Customer", Data.CustomerCols, Seq("c_custkey"), customers, false, 1000))
    sets.foreach(Data.selfCheck)
    fx = new Fixture(sets, Seq.empty, latencyMs = 20)
    fx.start()
    pools = makePools()
    precompute(pools.all.map(sp => sp.key -> sp.q))
  }

  def bind(n: Int): Unit = {
    bindCatalog(n)
    spark.table(s"$cat.main.orders").schema
    spark.table(s"$cat.main.customer").schema
  }

  private def at(q: Double): Long = dates(((dates.size - 1) * q).toInt)
  private def ts(micros: Long) = new Timestamp(micros / 1000)
  private def between(a: Long, b: Long) = dates.count(d => d >= a && d < b).toLong
  private val Month = 30L * 86400L * 1000000L

  private def makePools(): Pools = {
    val lookups = IndexedSeq.fill(8)(rng.nextInt(orders.size).toLong).map(k =>
      Spec(s"lookup/$k", 1, s => s.table("orders").filter(col("o_orderkey") === k)))
    val selects = IndexedSeq.fill(6)(orders(rng.nextInt(orders.size)).values(1).asInstanceOf[Long]).map(c =>
      Spec(s"select/$c", orders.count(_.values(1) == c).toLong, s =>
        s.table("orders").filter(col("o_custkey") === c).select("o_orderkey", "o_totalprice", "o_orderdate")))
    val tops = IndexedSeq.fill(4)(at(0.9 + 0.08 * rng.nextDouble())).map(t =>
      Spec(s"topn/$t", dates.count(_ >= t).toLong, s =>
        s.table("orders").filter(col("o_orderdate") >= lit(ts(t)))
          .orderBy(desc("o_totalprice"), asc("o_orderkey")).limit(10)))
    val groups = IndexedSeq.fill(4)(at(0.05 + 0.85 * rng.nextDouble())).map(m =>
      Spec(s"groupby/$m", between(m, m + Month), s =>
        s.table("orders").filter(col("o_orderdate") >= lit(ts(m)) && col("o_orderdate") < lit(ts(m + Month)))
          .groupBy("o_orderpriority")
          .agg(count(lit(1)).as("n"), max("o_totalprice").as("mx"), min("o_orderdate").as("first"))))
    val joins = IndexedSeq.fill(4)((rng.nextInt(25), at(0.05 + 0.85 * rng.nextDouble()))).map { case (nation, m) =>
      Spec(s"join/$nation/$m", customers.count(_.values(2) == nation) + between(m, m + Month), s =>
        spark.sql(
          s"""SELECT c.c_mktsegment, count(*) AS n, max(o.o_totalprice) AS mx, sum(o.o_orderkey) AS sk
             |FROM ${s.sql("customer")} c JOIN ${s.sql("orders")} o ON o.o_custkey = c.c_custkey
             |WHERE c.c_nationkey = $nation
             |  AND o.o_orderdate >= TIMESTAMP '${ts(m)}' AND o.o_orderdate < TIMESTAMP '${ts(m + Month)}'
             |GROUP BY c.c_mktsegment""".stripMargin))
    }
    val full = Spec("fullscan", orders.size.toLong, s =>
      s.table("orders", Map("parallelism" -> args.cpus.toString,
        "partitionRows" -> (orders.size / args.cpus + 1).toString)))
    Pools(lookups, selects, tops, groups, joins, full)
  }

  /** One pass: eight small ops (lookups, selects, top-N) and four large
    * ones (two group-bys, a join, a full scan). The median falls among the
    * small ops; with three or four passes a run, the tail (ten samples
    * beyond it) falls among the group-bys. */
  private def pass(): Seq[Op] = {
    def op(name: String, pool: IndexedSeq[Spec]) = {
      val sp = Data.skewed(rng, pool)
      readOp(name, sp.key, sp.rows, sp.q)
    }
    val ops = Seq.fill(3)(op("lookup", pools.lookup)) ++ Seq.fill(3)(op("select", pools.select)) ++
      Seq.fill(2)(op("topn", pools.topN)) ++ Seq.fill(2)(op("groupby", pools.groupBy)) ++
      Seq(op("join", pools.join), readOp("fullscan", pools.fullScan.key, pools.fullScan.rows, pools.fullScan.q))
    rng.shuffle(ops)
  }

  def passes(): Iterator[Seq[Op]] = Iterator.continually(pass())

  def layerProbes(): Map[String, Double] =
    Map("odata.decode_ns_per_row" -> Replay.decodeNsPerRow(spark, fx, root))
}

/** Extraction with no injected latency: never-repeating `l_orderkey`
  * windows of lineitem read in parallel and written to parquet, alternating
  * with Delta Sharing reads of a quarter of the served rows, shared as
  * parquet files. */
final class ODataBulk(spark: SparkSession, args: Args) extends Remote(spark, args) {
  // the first half of the key space (~300k rows) keeps the fixture's heap
  // small next to the program's; windows of ~50k rows, shared quarters of ~75k
  private val ServedKeys = 75000L
  private val WindowKeys = 12500L
  private val QuarterKeys = ServedKeys / 4
  private var keys: Array[Long] = _ // sorted l_orderkey
  private var prefix: Array[Long] = _ // wrapping prefix sums of row hashes in key order
  private var starts: Iterator[Long] = _
  private val profile = () => DeltaShareProfile(fx.shareEndpoint, Some("bench-token"))

  def prepare(): Unit = {
    val dir = Data.corpusRoot(spark).resolve("sf0.1")
    val li = Data.load(spark, dir, "lineitem", Data.LineitemCols).filter(col("l_orderkey") < ServedKeys)
    val rows = Data.rowsOf(li, Data.LineitemCols)
    Log("lineitem collected")
    val byKey = li.select(col("l_orderkey"), Data.rowHash(li)).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    keys = byKey.map(_._1)
    prefix = byKey.scanLeft(0L)(_ + _._2)
    Log("lineitem hashed")
    val set = new EntitySet("lineitem", "LineItem", Data.LineitemCols, Seq("l_orderkey", "l_linenumber"),
      rows, false, 5000)
    Log("lineitem rendered")
    Data.selfCheck(set)
    Log("fixture checked")
    val shares = (0 until 4).map(q => sharedQuarter(li, q))
    fx = new Fixture(Seq(set), shares, latencyMs = 0)
    fx.start()
    starts = rng.shuffle((0L to (ServedKeys - WindowKeys) by 250L).toVector).iterator
  }

  /** Lineitem rows with `l_orderkey` in quarter q, as 8 parquet files
    * (written once per checkout, then read from the cache). */
  private def sharedQuarter(li: DataFrame, q: Int): SharedTable = {
    val dir = args.cache.resolve(s"lineitem_q$q")
    if (!Files.exists(dir.resolve("_SUCCESS"))) {
      li.filter(col("l_orderkey") >= q * QuarterKeys && col("l_orderkey") < (q + 1) * QuarterKeys)
        .repartition(8, col("l_orderkey")).write.mode("overwrite").parquet(dir.toString)
    }
    val files = Files.list(dir).iterator().asScala.filter(_.toString.endsWith(".parquet")).toSeq.sortBy(_.toString)
      .zipWithIndex.map { case (f, i) => (s"q$q-$i", Files.readAllBytes(f)) }
    SharedTable(s"lineitem_q$q", Data.schemaOf(Data.LineitemCols).json, files)
  }

  private def window(a: Long, b: Long): (Long, Long) = {
    def idx(k: Long) = { val i = java.util.Arrays.binarySearch(keys, k); if (i >= 0) { var j = i; while (j > 0 && keys(j - 1) == k) j -= 1; j } else -i - 1 }
    val (lo, hi) = (idx(a), idx(b))
    ((hi - lo).toLong, prefix(hi) - prefix(lo))
  }

  def bind(n: Int): Unit = {
    root = fx.serviceRoot(n)
    spark.read.format("odata").option("url", s"$root/lineitem").load().schema
    DeltaShare.showTables(spark, profile(), "bench", "tpch").collect()
  }

  /** The current op's scratch directory; its check deletes it. */
  private def opDir: Path = args.work.resolve("out").resolve(Tracer.op.toString)

  /** Checks the parquet output an op wrote to `<opDir>/data`. */
  private def written(expected: (Long, Long), what: String): Any => Option[String] = { res =>
    val dir = res.asInstanceOf[Path]
    try {
      val got = Data.digestOf(spark.read.parquet(dir.resolve("data").toString))
      if (got == expected) None else Some(s"$what: (rows, checksum) $got, expected $expected")
    } finally Data.deleteTree(dir)
  }

  private def windowOp(a: Long): Op = {
    val exp = window(a, a + WindowKeys)
    Op("odata_window", "bulk", exp._1, () => {
      val dir = opDir
      val df = Tracer.span("odata.plan") {
        val d = spark.read.format("odata").option("url", s"$root/lineitem")
          .option("parallelism", args.cpus.toString)
          .option("partitionRows", (exp._1 / args.cpus + 1).toString)
          .option("pageSize", "5000").load()
          .filter(col("l_orderkey") >= a && col("l_orderkey") < a + WindowKeys)
        d.queryExecution.analyzed; d
      }
      df.write.parquet(dir.resolve("data").toString)
      dir
    }, written(exp, s"window $a"))
  }

  private def shareOp(q: Int): Op = {
    val exp = window(q * QuarterKeys, (q + 1) * QuarterKeys)
    Op("deltashare_read", "bulk", exp._1, () => {
      val dir = opDir
      val df = Tracer.span("deltashare.download") {
        DeltaShare.read(spark, profile(), "bench", "tpch", s"lineitem_q$q", Some(dir.resolve("download").toString))
      }
      df.write.parquet(dir.resolve("data").toString)
      dir
    }, written(exp, s"share quarter $q"))
  }

  def passes(): Iterator[Seq[Op]] = Iterator.continually(Seq(windowOp(starts.next()), shareOp(rng.nextInt(4))))

  def layerProbes(): Map[String, Double] =
    Map("odata.decode_ns_per_row" -> Replay.decodeNsPerRow(spark, fx, root))
}

/** Writes against the 20 ms service: catalog INSERT batched into `$batch`,
  * per-row `rest-items` POSTs, SQL UPDATE (PATCH per row) and SQL DELETE
  * (DELETE per key) over seed-chosen, never-reused key ranges. */
final class WriteBack(spark: SparkSession, args: Args) extends Remote(spark, args) {
  private val cols = IndexedSeq(Col("item_id", ColType.Int64), Col("sku", ColType.Str),
    Col("qty", ColType.Int32), Col("price", ColType.Dbl), Col("status", ColType.Str), Col("updated", ColType.Ts))
  private val schema = Data.schemaOf(cols)
  private val model = mutable.Map[Long, Array[Any]]()
  private var items: EntitySet = _
  private var updateSlots: Iterator[Long] = _
  private var deleteSlots: Iterator[Long] = _
  private var nextKey = 1000000L
  private val Slot = 20L
  private val InsertRows = 200
  private val PostRows = 40

  def prepare(): Unit = {
    val dir = Data.corpusRoot(spark).resolve("sf0.1")
    val o = Data.load(spark, dir, "orders", Data.OrderCols).filter(col("o_orderkey") < 20000)
    val rows = Data.rowsOf(o, Data.OrderCols).map { r =>
      val v = r.values
      new Row(Array[Any](v(0), v(5), (v(1).asInstanceOf[Long] % 100).toInt, v(3), v(2), v(4)))
    }
    rows.foreach(r => model(r.values(0).asInstanceOf[Long]) = r.values.clone())
    items = new EntitySet("items", "Item", cols, Seq("item_id"), rows, true, 1000)
    Data.selfCheck(items)
    fx = new Fixture(Seq(items), Seq.empty, latencyMs = 20)
    fx.start()
    val slots = rng.shuffle((0L until 20000L by Slot).toVector)
    updateSlots = slots.zipWithIndex.collect { case (s, i) if i % 2 == 0 => s }.iterator
    deleteSlots = slots.zipWithIndex.collect { case (s, i) if i % 2 == 1 => s }.iterator
  }

  def bind(n: Int): Unit = {
    bindCatalog(n, Map("insertBatchSize" -> "50"))
    spark.table(s"$cat.main.items").schema
  }

  private def newRows(n: Int): Seq[Array[Any]] = (0 until n).map { _ =>
    nextKey += 1
    Array[Any](nextKey, f"SKU-${rng.nextInt(100000)}%05d", rng.nextInt(1000),
      math.round(rng.nextDouble() * 1e6) / 100.0, if (rng.nextBoolean()) "O" else "F",
      (883612800L + rng.nextInt(200000000)) * 1000000L)
  }

  private def frame(rows: Seq[Array[Any]]): DataFrame = {
    val rs = rows.map(v => org.apache.spark.sql.Row.fromSeq(v.toSeq.updated(5,
      new Timestamp(v(5).asInstanceOf[Long] / 1000))))
    spark.createDataFrame(spark.sparkContext.parallelize(rs, args.cpus), schema)
  }

  /** Compares the fixture's state on `keys` (and its size) with the model. */
  private def verify(keys: Seq[Long]): Option[String] = {
    val bad = keys.find { k =>
      (items.get(k), model.get(k)) match {
        case (None, None) => false
        case (Some(r), Some(m)) => !r.values.sameElements(m)
        case _ => true
      }
    }
    if (bad.isDefined) Some(s"item ${bad.get}: service has ${items.get(bad.get).map(_.values.mkString(","))}, " +
      s"expected ${model.get(bad.get).map(_.mkString(","))}")
    else if (items.rows.length != model.size) Some(s"service holds ${items.rows.length} items, expected ${model.size}")
    else None
  }

  private def insertOp(): Op = {
    val rows = newRows(InsertRows)
    Op("insert_batch", "write", rows.size, () => {
      val view = s"ins_${Tracer.op}"
      frame(rows).createOrReplaceTempView(view)
      spark.sql(s"INSERT INTO $cat.main.items SELECT * FROM $view")
      spark.catalog.dropTempView(view)
    }, _ => { rows.foreach(r => model(r(0).asInstanceOf[Long]) = r); verify(rows.map(_(0).asInstanceOf[Long])) })
  }

  private def postOp(): Op = {
    val rows = newRows(PostRows)
    Op("post_rows", "write", rows.size, () =>
      frame(rows).write.format("rest-items").option("url", s"$root/items").mode("append").save(),
      _ => { rows.foreach(r => model(r(0).asInstanceOf[Long]) = r); verify(rows.map(_(0).asInstanceOf[Long])) })
  }

  private def updateOp(): Op = {
    val a = updateSlots.next()
    val ks = (a until a + Slot).filter(model.contains)
    Op("update_range", "write", ks.size, () =>
      spark.sql(s"UPDATE $cat.main.items SET qty = qty + 1 WHERE item_id >= $a AND item_id < ${a + Slot}"),
      _ => {
        ks.foreach { k => val m = model(k).clone(); m(2) = m(2).asInstanceOf[Int] + 1; model(k) = m }
        verify(ks)
      })
  }

  private def deleteOp(): Op = {
    val a = deleteSlots.next()
    val ks = (a until a + Slot).filter(model.contains)
    Op("delete_range", "write", ks.size, () =>
      spark.sql(s"DELETE FROM $cat.main.items WHERE item_id >= $a AND item_id < ${a + Slot}"),
      _ => { ks.foreach(model.remove); verify(ks) })
  }

  def passes(): Iterator[Seq[Op]] =
    Iterator.continually(rng.shuffle(Seq(insertOp(), postOp(), updateOp(), deleteOp())))

  def layerProbes(): Map[String, Double] =
    Map("writes.encode_ns_per_row" -> Replay.encodeNsPerRow(spark, schema, newRows(2000).map(frameRow)))

  private def frameRow(v: Array[Any]): org.apache.spark.sql.Row =
    org.apache.spark.sql.Row.fromSeq(v.toSeq.updated(5, new Timestamp(v(5).asInstanceOf[Long] / 1000)))
}

/** A per-family cut of the gate queries through `SparkEntry.queries` on the
  * local parquet corpus, each output checked against the DuckDB oracle. */
final class PipelineLocal(spark: SparkSession, args: Args) extends Workload {
  /** One query per operator family (family -> query), plus a second host
    * query: six mid-sized ops keep the median and tail inside groups of
    * similar queries for the three or four passes a run makes. */
  val Cut: Seq[(String, String)] = Seq(
    "host" -> "q01_pricing_summary", "host" -> "q02_revenue_by_nation", "dedup" -> "p05_minhash_pairs",
    "similarity" -> "p07_knn_cosine", "text" -> "p26_pii_redact", "time" -> "p12_sessionize")
  private val rng = new scala.util.Random(args.seed)
  private var dir: Path = _
  private var oracle: OracleChecker = _
  private var inputRows: Map[String, Long] = Map.empty

  def fixture: Option[Fixture] = None

  def prepare(): Unit = {
    dir = Data.corpusRoot(spark).resolve("sf0.01")
    val sql = graft.SparkEntry.oracleSql
    oracle = new OracleChecker(args, dir, Cut.map { case (_, q) => q -> sql(q) })
    inputRows = oracle.inputRows
  }

  def bind(n: Int): Unit = ()

  private def op(family: String, q: String): Op =
    Op(q, family, inputRows(q), () => {
      val out = args.work.resolve("out").resolve(q)
      graft.SparkEntry.queries(q)(spark, dir.toString).write.mode("overwrite").parquet(out.toString)
      out
    }, res => oracle.check(q, res.asInstanceOf[Path]))

  def passes(): Iterator[Seq[Op]] =
    Iterator.continually(rng.shuffle(Cut.map { case (f, q) => op(f, q) }))

  def layerProbes(): Map[String, Double] = Map.empty

  def close(): Unit = if (oracle != null) oracle.close()
}

/** Talks to `oracle_check.py`, which caches each oracle query's DuckDB
  * result and compares a parquet output against it. */
final class OracleChecker(args: Args, sfDir: Path, queries: Seq[(String, String)]) {
  private val proc = new ProcessBuilder("python3", args.bench.resolve("oracle_check.py").toString)
    .redirectError(ProcessBuilder.Redirect.INHERIT).start()
  private val in = new java.io.PrintWriter(new java.io.OutputStreamWriter(proc.getOutputStream, "UTF-8"), true)
  private val out = new java.io.BufferedReader(new java.io.InputStreamReader(proc.getInputStream, "UTF-8"))
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  private def call(msg: Map[String, Any]): com.fasterxml.jackson.databind.JsonNode = {
    in.println(mapper.writeValueAsString(msg.asJava))
    val line = out.readLine()
    if (line == null) throw new IllegalStateException("oracle checker exited")
    mapper.readTree(line)
  }

  /** Rows of the corpus tables each query reads (from its oracle SQL). */
  val inputRows: Map[String, Long] = {
    val r = call(Map("cmd" -> "prepare", "sf" -> sfDir.toString,
      "cache" -> args.cache.resolve("oracle").toString,
      "oracle" -> queries.toMap.asJava))
    if (!r.get("ok").asBoolean) throw new IllegalStateException(s"oracle prepare: ${r.get("error")}")
    queries.map { case (q, _) => q -> r.get("rows").get(q).asLong }.toMap
  }

  def check(name: String, path: Path): Option[String] = {
    val r = call(Map("cmd" -> "check", "name" -> name, "path" -> path.toString))
    if (r.get("ok").asBoolean) None else Some(s"$name: ${r.get("error").asText}")
  }

  def close(): Unit = {
    in.close()
    if (!proc.waitFor(30, java.util.concurrent.TimeUnit.SECONDS)) { proc.destroyForcibly(); proc.waitFor() }
  }
}
