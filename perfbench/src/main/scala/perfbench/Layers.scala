package perfbench

import scala.jdk.CollectionConverters._

/** Per-layer metrics of a traced phase. Every metric is reported on every
  * workload; a layer a workload does not exercise reads 0. "Per op" means
  * per traced op. */
object Layers {
  val units: Seq[(String, String)] = Seq(
    "spark.jobs_per_op" -> "jobs/op", "spark.stages_per_op" -> "stages/op",
    "spark.tasks_per_op" -> "tasks/op", "spark.job_floor_ms" -> "ms",
    "spark.fixed_cost_share" -> "ratio", "spark.shuffle_bytes_per_op" -> "B/op",
    "spark.spill_bytes_per_op" -> "B/op", "spark.task_ms_p50" -> "ms", "spark.task_ms_max" -> "ms",
    "spark.gc_ms_per_op" -> "ms/op", "spark.slot_busy_ratio" -> "ratio",
    "http.requests_per_op" -> "req/op", "http.metadata_requests" -> "req/op",
    "http.count_requests" -> "req/op", "http.probe_requests" -> "req/op",
    "http.page_requests" -> "req/op", "http.batch_requests" -> "req/op",
    "http.write_requests" -> "req/op", "http.repeat_requests" -> "req/op",
    "http.error_responses" -> "req/op", "http.bytes_in_per_row" -> "B/row",
    "http.bytes_out_per_row" -> "B/row", "http.inflight_max" -> "req",
    "http.inflight_mean" -> "req", "http.busy_wall_s" -> "s/op",
    "odata.plan_ms" -> "ms", "odata.partitions_per_scan" -> "count",
    "odata.pages_per_scan" -> "count", "odata.rows_fetched" -> "rows/op",
    "odata.bytes_fetched" -> "B/op", "odata.fetch_efficiency" -> "ratio",
    "odata.decode_ns_per_row" -> "ns/row",
    "deltashare.query_ms" -> "ms", "deltashare.files" -> "files/op",
    "deltashare.download_s" -> "s", "deltashare.download_inflight_max" -> "req",
    "writes.requests_per_row" -> "req/row", "writes.batch_rows_mean" -> "rows",
    "writes.encode_ns_per_row" -> "ns/row",
    "queries.host_s" -> "s", "queries.dedup_s" -> "s", "queries.similarity_s" -> "s",
    "queries.text_s" -> "s", "queries.time_s" -> "s",
    "fixture.busy_s" -> "s/op", "fixture.share" -> "ratio",
    "trace.overhead_ms_per_op" -> "ms", "trace.self_ms.op" -> "ms/op",
    "trace.self_ms.odata_plan" -> "ms/op", "trace.self_ms.deltashare_download" -> "ms/op",
    "trace.self_ms.spark_job" -> "ms/op", "trace.self_ms.http_request" -> "ms/op")

  def withUnits(m: Map[String, Double]): Map[String, (Double, String)] =
    units.map { case (k, u) => k -> (m.getOrElse(k, 0.0), u) }.toMap

  private def mean(xs: Iterable[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  def compute(args: Args, traced: Seq[Sample], plain: Seq[Sample], spans: Seq[Span],
              rec: SparkRecorder, fixture: Option[Fixture], floorMs: Double): Map[String, Double] = {
    val ids = traced.map(_.id).toSet
    val n = math.max(1, traced.size).toDouble
    val opMs = traced.map(_.ms).sum
    val rows = traced.filter(_.ok).map(_.rows).sum.toDouble

    val jobs = rec.jobs.values.asScala.filter(j => ids(j.op)).toSeq
    val tasks = rec.tasks.asScala.filter(t => ids(t.op)).toSeq
    val taskMs = tasks.map(_.runMs.toDouble)
    val spark = Map(
      "spark.jobs_per_op" -> jobs.size / n,
      "spark.stages_per_op" -> jobs.map(_.stages).sum / n,
      "spark.tasks_per_op" -> tasks.size / n,
      "spark.job_floor_ms" -> floorMs,
      "spark.fixed_cost_share" -> jobs.size * floorMs / math.max(opMs, 1e-9),
      "spark.shuffle_bytes_per_op" -> tasks.map(_.shuffleBytes).sum / n,
      "spark.spill_bytes_per_op" -> tasks.map(_.spillBytes).sum / n,
      "spark.task_ms_p50" -> (if (taskMs.isEmpty) 0.0 else Summary.median(taskMs)),
      "spark.task_ms_max" -> (if (taskMs.isEmpty) 0.0 else taskMs.max),
      "spark.gc_ms_per_op" -> tasks.map(_.gcMs).sum / n,
      "spark.slot_busy_ratio" -> taskMs.sum / (args.cpus * math.max(opMs, 1e-9)))

    val reqs = fixture.toSeq.flatMap(_.records.asScala).filter(r => ids(r.opId))
    val odataReqs = reqs.filterNot(_.kind.startsWith("share"))
    def kind(k: String) = odataReqs.count(_.kind == k) / n
    val (inflightMax, inflightMean, busyNs) = Intervals.concurrency(odataReqs.map(r => (r.startNs, r.endNs)))
    val http = Map(
      "http.requests_per_op" -> reqs.size / n,
      "http.metadata_requests" -> kind("metadata"), "http.count_requests" -> kind("count"),
      "http.probe_requests" -> kind("probe"), "http.page_requests" -> kind("page"),
      "http.batch_requests" -> kind("batch"), "http.write_requests" -> kind("write"),
      "http.repeat_requests" -> reqs.count(_.repeat) / n,
      "http.error_responses" -> reqs.count(_.status >= 400) / n,
      "http.bytes_in_per_row" -> (if (rows > 0) reqs.map(_.bytesOut).sum / rows else 0.0),
      "http.bytes_out_per_row" -> (if (rows > 0) reqs.map(_.bytesIn).sum / rows else 0.0),
      "http.inflight_max" -> inflightMax.toDouble, "http.inflight_mean" -> inflightMean,
      "http.busy_wall_s" -> busyNs / 1e9 / n)

    val scans = rec.scans.asScala.filter(s => ids(s.op) && s.desc.startsWith("odata")).toSeq
    val odataOps = scans.map(_.op).distinct.size
    val fetched = scans.map(_.metrics.getOrElse("odataRowsFetched", 0L)).sum.toDouble
    val needed = scans.map(_.op).distinct.map(op => Option(Tracer.outRows.get(op)).map(_.toDouble).getOrElse(0.0)).sum
    val plan = spans.filter(s => s.name == "odata.plan" && ids(s.op)).map(s => (s.endNs - s.startNs) / 1e6)
    val odata = Map(
      "odata.plan_ms" -> mean(plan),
      "odata.partitions_per_scan" -> mean(scans.map(_.partitions.toDouble)),
      "odata.pages_per_scan" -> mean(scans.map(_.metrics.getOrElse("odataPagesFetched", 0L).toDouble)),
      "odata.rows_fetched" -> (if (odataOps > 0) fetched / odataOps else 0.0),
      "odata.bytes_fetched" -> (if (odataOps > 0) scans.map(_.metrics.getOrElse("odataBytesFetched", 0L)).sum.toDouble / odataOps else 0.0),
      "odata.fetch_efficiency" -> (if (fetched > 0) needed / fetched else 0.0))

    val downloads = spans.filter(s => s.name == "deltashare.download" && ids(s.op))
    val shareReqs = reqs.filter(_.kind.startsWith("share")).groupBy(_.opId)
    val perShare = downloads.map { d =>
      val rs = shareReqs.getOrElse(d.op, Seq.empty)
      val files = rs.filter(_.kind == "share_file")
      val q = rs.filter(_.kind == "share_query").map(_.endNs).sorted.headOption
      (q.map(e => (e - d.startNs) / 1e6).getOrElse(0.0), files.size.toDouble,
        if (files.isEmpty) 0.0 else (files.map(_.endNs).max - files.map(_.startNs).min) / 1e9,
        Intervals.concurrency(files.map(f => (f.startNs, f.endNs)))._1.toDouble)
    }
    val share = Map(
      "deltashare.query_ms" -> mean(perShare.map(_._1)), "deltashare.files" -> mean(perShare.map(_._2)),
      "deltashare.download_s" -> mean(perShare.map(_._3)),
      "deltashare.download_inflight_max" -> (if (perShare.isEmpty) 0.0 else perShare.map(_._4).max))

    val writeOps = traced.filter(s => s.family == "write" && s.ok)
    val writeIds = writeOps.map(_.id).toSet
    val writeReqs = reqs.filter(r => writeIds(r.opId) && (r.kind == "write" || r.kind == "batch"))
    val batches = writeReqs.filter(_.kind == "batch")
    val writtenRows = writeOps.map(_.rows).sum.toDouble
    val writes = Map(
      "writes.requests_per_row" -> (if (writtenRows > 0) writeReqs.size / writtenRows else 0.0),
      "writes.batch_rows_mean" -> mean(batches.map(_.subRequests.toDouble)))

    val queries = Seq("host", "dedup", "similarity", "text", "time").map { f =>
      s"queries.${f}_s" -> mean(traced.filter(s => s.family == f && s.ok).map(_.ms / 1000.0))
    }.toMap

    val selfNs = reqs.map(_.selfNs).sum.toDouble
    val fix = Map(
      "fixture.busy_s" -> selfNs / 1e9 / n,
      "fixture.share" -> selfNs / 1e6 / math.max(opMs, 1e-9))

    val self = SelfTimes.perLayer(spans.filter(s => ids(s.op)))
    val trace = Map(
      "trace.overhead_ms_per_op" -> (Summary.median(traced.map(_.ms)) - Summary.median(plain.map(_.ms))),
      "trace.self_ms.op" -> self.getOrElse("op", 0.0) * 1000 / n,
      "trace.self_ms.odata_plan" -> self.getOrElse("odata.plan", 0.0) * 1000 / n,
      "trace.self_ms.deltashare_download" -> self.getOrElse("deltashare.download", 0.0) * 1000 / n,
      "trace.self_ms.spark_job" -> self.getOrElse("spark.job", 0.0) * 1000 / n,
      "trace.self_ms.http_request" -> self.getOrElse("http.request", 0.0) * 1000 / n)

    spark ++ http ++ odata ++ share ++ writes ++ queries ++ fix ++ trace
  }
}
