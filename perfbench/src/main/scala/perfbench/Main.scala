package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession
import scala.jdk.CollectionConverters._

/** `work` is this run's scratch directory, `cache` holds inputs shared by
  * runs of one checkout, `bench` is the benchmark's own directory. */
final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
                      cpus: Int, work: Path, cache: Path, bench: Path, out: Path)

object Args {
  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def req(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(req("workload"), req("seed").toLong, req("seconds").toInt, req("trace") == "1",
      req("cpus").toInt, Paths.get(req("work")).toAbsolutePath, Paths.get(req("cache")).toAbsolutePath,
      Paths.get(req("bench")).toAbsolutePath, Paths.get(req("out")).toAbsolutePath)
  }
}

/** The state one workload needs: it builds its fixture and expected
  * results (`prepare`, not part of set-up time), binds the program to the
  * service (`bind`, repeated), and yields passes of ops. */
trait Workload {
  /** Builds inputs, fixture and expected results. Not counted in `setup_s`. */
  def prepare(): Unit
  /** One program-side bind (catalog registration, `$metadata`); the n-th
    * bind uses a fresh service URL. The last bind is the one ops use. */
  def bind(n: Int): Unit
  /** An endless sequence of passes; each pass is the workload's op mix. */
  def passes(): Iterator[Seq[Op]]
  /** The fixture, for workloads that have a remote side. */
  def fixture: Option[Fixture]
  /** Extra per-layer metrics measured outside the ops (replays, probes). */
  def layerProbes(): Map[String, Double]
  def close(): Unit
}

object Main {
  def main(argv: Array[String]): Unit = {
    val args = Args.parse(argv)
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    Files.createDirectories(args.work)
    val spark = Session.create(args)
    val sessionS = (System.currentTimeMillis() - jvmStart) / 1000.0
    val recorder = new SparkRecorder(spark)
    Log("session up")
    val wl: Workload = args.workload match {
      case "odata_remote"   => new ODataRemote(spark, args)
      case "odata_bulk"     => new ODataBulk(spark, args)
      case "write_back"     => new WriteBack(spark, args)
      case "pipeline_local" => new PipelineLocal(spark, args)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    try {
      val prep0 = System.nanoTime()
      wl.prepare()
      val prepareS = (System.nanoTime() - prep0) / 1e9
      Log("prepared")
      val bindS = (1 to Session.Binds).map { n =>
        val t = System.nanoTime(); wl.bind(n); (System.nanoTime() - t) / 1e9
      }
      def before(id: Long): Unit = {
        wl.fixture.foreach(_.currentOp = id)
        recorder.setOp(id)
        Tracer.op = id
      }
      val passes = wl.passes()
      val warm = passes.next().map(op => Runner.runOne(op, before))
      // op time only: the checks' expected-result work is the harness's
      val warmS = warm.map(s => (s.endNs - s.startNs) / 1e9).sum
      warm.filterNot(_.ok).foreach(s => System.err.println(s"warm-up op ${s.name} failed: ${s.error.get}"))
      Log("warmed up")
      val setupS = sessionS + Summary.median(bindS) + warmS
      // peak RSS counts from here: fixture loading is the harness's peak
      Session.resetPeakRss()
      Log(f"peak RSS reset to ${Session.peakRssMb()}%.0f MB")
      val result =
        if (!args.trace) {
          val samples = Runner.timed(passes, args.seconds, before)
          val e2e = Summary.endToEnd(samples)
          Result(samples, Map(
            "setup_s" -> (setupS, "s"),
            "rows_per_s" -> (e2e("rows_per_s"), "rows/s"),
            "op_p50_ms" -> (e2e("op_p50_ms"), "ms"),
            "op_tail_ms" -> (e2e("op_tail_ms"), "ms"),
            "ok_ops_ratio" -> (e2e("ok_ops_ratio"), "ratio"),
            "peak_rss_mb" -> (Session.peakRssMb(), "MB")),
            Map("op_tail_pct" -> e2e("op_tail_pct"), "samples" -> samples.size.toDouble,
              "session_s" -> sessionS, "prepare_s" -> prepareS, "bind_s" -> Summary.median(bindS), "warmup_s" -> warmS))
        } else {
          // untraced then traced half-runs: their difference is the overhead
          val floorMs = Session.jobFloorMs(spark)
          val plain = Runner.timed(passes, args.seconds / 2.0, before)
          val spans = new java.util.concurrent.ConcurrentLinkedQueue[Span]()
          Tracer.sink = Some(spans)
          wl.fixture.foreach { f => f.resetAccounting(); f.recording = true; f.capturePages = true }
          recorder.clear(); recorder.recording = true
          val traced = Runner.timed(passes, args.seconds / 2.0, before)
          recorder.recording = false
          wl.fixture.foreach(_.recording = false)
          Tracer.sink = None
          val allSpans = spans.asScala.toSeq ++ traced.map(s => Span("op", s.id, s.startNs, s.endNs)) ++
            recorder.jobs.values.asScala.filter(_.endNs > 0).map(j => Span("spark.job", j.op, j.startNs, j.endNs)) ++
            wl.fixture.toSeq.flatMap(_.records.asScala.map(r => Span("http.request", r.opId, r.startNs, r.endNs)))
          Spans.write(args.work.resolve("spans.json"), allSpans)
          val layers = Layers.compute(args, traced, plain, allSpans, recorder, wl.fixture, floorMs) ++
            wl.layerProbes()
          Result(plain ++ traced, Layers.withUnits(layers), Map("samples" -> (plain ++ traced).size.toDouble))
        }
      Log(f"measured; peak RSS ${Session.peakRssMb()}%.0f MB")
      result.write(args)
    } finally {
      try wl.close() finally spark.stop()
    }
    // lingering non-daemon client threads must not keep a finished run alive
    System.exit(0)
  }
}

/** The printed result plus a details file with the numbers behind it. */
final case class Result(samples: Seq[Sample], metrics: Map[String, (Double, String)], details: Map[String, Double]) {
  def write(args: Args): Unit = {
    val failed = samples.filterNot(_.ok)
    failed.foreach(s => System.err.println(s"op ${s.id} ${s.name} failed: ${s.error.get}"))
    val m = metrics.toSeq.sortBy(_._1).map { case (k, (v, u)) =>
      s"${Jsonw.q(k)}:{\"value\":${Jsonw.num(v)},\"unit\":${Jsonw.q(u)}}"
    }.mkString("{", ",", "}")
    val line = s"""{"correct":${failed.isEmpty},"attempted":${samples.size},"failed":${failed.size},"metrics":$m}"""
    Files.createDirectories(args.out.getParent)
    Files.write(args.out, line.getBytes(UTF_8))
    val d = details.toSeq.sortBy(_._1).map { case (k, v) => s"${Jsonw.q(k)}:${Jsonw.num(v)}" }
    val ops = samples.map(s => s"""{"id":${s.id},"name":${Jsonw.q(s.name)},"ms":${Jsonw.num(s.ms)},"rows":${s.rows},"error":${s.error.map(Jsonw.q).getOrElse("null")}}""")
    Files.write(Paths.get(args.out.toString.stripSuffix(".json") + ".details.json"),
      (d :+ s""""ops":${ops.mkString("[", ",", "]")}""").mkString("{", ",", "}").getBytes(UTF_8))
  }
}

/** Phase timestamps on stderr, for reading a run's log. */
object Log {
  private val t0 = ManagementFactory.getRuntimeMXBean.getStartTime
  def apply(msg: String): Unit =
    System.err.println(f"[perfbench +${(System.currentTimeMillis() - t0) / 1000.0}%.1fs] $msg")
}

object Jsonw {
  def q(s: String): String = { val sb = new java.lang.StringBuilder; Json.str(s, sb); sb.toString }
  def num(v: Double): String = if (v.isNaN || v.isInfinite) "null" else v.toString
}

/** Spans recorded by the harness around its calls into the program. */
object Tracer {
  @volatile var sink: Option[java.util.Queue[Span]] = None
  @volatile var op: Long = -1
  /** Output rows of each op, for the fetch-efficiency ratio. */
  val outRows = new java.util.concurrent.ConcurrentHashMap[Long, java.lang.Long]()
  def span[T](name: String)(f: => T): T = sink match {
    case None => f
    case Some(q) =>
      val t0 = System.nanoTime()
      try f finally q.add(Span(name, op, t0, System.nanoTime()))
  }
}

object Spans {
  def write(p: Path, spans: Seq[Span]): Unit = {
    val body = spans.sortBy(_.startNs).map(s =>
      s"""{"name":${Jsonw.q(s.name)},"op":${s.op},"start_ns":${s.startNs},"end_ns":${s.endNs}}""")
    Files.write(p, body.mkString("[\n", ",\n", "\n]").getBytes(UTF_8))
  }
}

object Session {
  /** Binds per run; `setup_s` takes their median. */
  val Binds = 5

  def create(a: Args): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${a.cpus}]")
      .appName(s"perfbench-${a.workload}")
      .config("spark.sql.shuffle.partitions", a.cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.local.dir", a.work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", a.work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Resets `VmHWM` to the current RSS (Linux `clear_refs`). */
  def resetPeakRss(): Unit = Files.write(Paths.get("/proc/self/clear_refs"), "5".getBytes(UTF_8))

  /** `VmHWM` of this process in MB. */
  def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(Double.NaN)

  /** Median wall time of a trivial one-task job: Spark's per-job floor. */
  def jobFloorMs(spark: SparkSession): Double = {
    val sc = spark.sparkContext
    Summary.median((1 to 7).map { _ =>
      val t = System.nanoTime(); sc.parallelize(Seq(1), 1).count(); (System.nanoTime() - t) / 1e6
    }.drop(2))
  }
}
