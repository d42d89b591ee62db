package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.util.QueryExecutionListener
import scala.jdk.CollectionConverters._

/** A traced interval. `op` ties every span of one benchmark op together;
  * with one closed-loop client an op id is unambiguous. */
final case class Span(name: String, op: Long, startNs: Long, endNs: Long, attrs: Map[String, Double] = Map.empty)

final case class JobRec(op: Long, jobId: Int, startNs: Long, var endNs: Long, stages: Int)
final case class TaskRec(op: Long, stageId: Int, runMs: Long, gcMs: Long, shuffleBytes: Long, spillBytes: Long)
/** One DSv2 scan node of an executed plan, with its SQL metrics. */
final case class ScanRec(op: Long, desc: String, partitions: Int, metrics: Map[String, Long])

/** Records Spark jobs, tasks and executed scan nodes while `recording` is
  * on, each tagged with the op that was current when it started. The op id
  * travels as a Spark local property, so jobs started by the op's thread
  * carry it. */
final class SparkRecorder(spark: SparkSession) extends SparkListener with QueryExecutionListener
  with AdaptiveSparkPlanHelper {
  @volatile var recording = false
  val jobs = new ConcurrentHashMap[Int, JobRec]()
  val tasks = new ConcurrentLinkedQueue[TaskRec]()
  val scans = new ConcurrentLinkedQueue[ScanRec]()
  private val stageOp = new ConcurrentHashMap[Int, java.lang.Long]()
  @volatile private var currentOp = -1L

  spark.sparkContext.addSparkListener(this)
  spark.listenerManager.register(this)

  def setOp(op: Long): Unit = {
    currentOp = op
    spark.sparkContext.setLocalProperty(SparkRecorder.OpKey, op.toString)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = if (recording) {
    val op = Option(e.properties).flatMap(p => Option(p.getProperty(SparkRecorder.OpKey)))
      .map(_.toLong).getOrElse(-1L)
    e.stageIds.foreach(s => stageOp.put(s, op))
    jobs.put(e.jobId, JobRec(op, e.jobId, System.nanoTime(), -1L, e.stageIds.size))
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val j = jobs.get(e.jobId)
    if (j != null) j.endNs = System.nanoTime()
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (recording && e.taskInfo != null) {
    val op = Option(stageOp.get(e.stageId)).map(_.longValue).getOrElse(-1L)
    val m = e.taskMetrics
    tasks.add(TaskRec(op, e.stageId, e.taskInfo.duration,
      if (m == null) 0L else m.jvmGCTime,
      if (m == null) 0L else m.shuffleWriteMetrics.bytesWritten,
      if (m == null) 0L else m.memoryBytesSpilled + m.diskBytesSpilled))
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    if (recording) {
      val op = currentOp
      collectWithSubqueries(qe.executedPlan) { case b: BatchScanExec => b }.foreach { b =>
        scans.add(ScanRec(op, b.scan.description(), b.partitions.size,
          b.metrics.map { case (k, v) => k -> v.value }))
      }
    }
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  def clear(): Unit = { jobs.clear(); tasks.clear(); scans.clear(); stageOp.clear() }
}

object SparkRecorder { val OpKey = "perfbench.op" }

/** Interval arithmetic for self times. */
object Intervals {
  /** Total length of the union of `xs` clipped to [lo, hi]. */
  def covered(xs: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = xs.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }.filter(x => x._2 > x._1).sortBy(_._1)
    var total = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (a > curB) { if (curB > curA) total += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    if (curB > curA) total += curB - curA
    total
  }

  /** Maximum number of intervals open at once, and the time-weighted mean
    * number open while at least one is open, and that busy time. */
  def concurrency(xs: Seq[(Long, Long)]): (Int, Double, Long) = {
    val ev = xs.flatMap { case (a, b) => Seq((a, 1), (b, -1)) }.sortBy(e => (e._1, e._2))
    var open = 0; var max = 0; var busy = 0L; var area = 0.0
    var last = 0L
    ev.foreach { case (t, d) =>
      if (open > 0) { busy += t - last; area += open.toDouble * (t - last) }
      open += d; max = math.max(max, open); last = t
    }
    (max, if (busy > 0) area / busy else 0.0, busy)
  }
}

/** Self time per layer from the spans of a traced phase. The layers nest
  * op > {odata.plan, deltashare.download, spark.job} > http.request; a span's
  * self time is its duration minus what its children cover. */
object SelfTimes {
  private val rank = Map("op" -> 0, "odata.plan" -> 1, "deltashare.download" -> 1,
    "spark.job" -> 2, "http.request" -> 3)

  def perLayer(spans: Seq[Span]): Map[String, Double] = {
    val acc = scala.collection.mutable.Map[String, Long]().withDefaultValue(0L)
    spans.filter(s => rank.contains(s.name)).groupBy(_.op).values.foreach { ss =>
      def inside(s: Span, p: Span) = s.startNs >= p.startNs && s.startNs < p.endNs
      // a span's parent is the innermost span of a higher layer it starts in
      val children = ss.groupBy { s =>
        ss.filter(p => rank(p.name) < rank(s.name) && inside(s, p))
          .sortBy(p => -rank(p.name)).headOption
      }
      ss.foreach { s =>
        val kids = children.getOrElse(Some(s), Seq.empty).map(k => (k.startNs, k.endNs))
        acc(s.name) += (s.endNs - s.startNs) - Intervals.covered(kids, s.startNs, s.endNs)
      }
    }
    acc.toMap.map { case (k, v) => k -> v / 1e9 }
  }
}
