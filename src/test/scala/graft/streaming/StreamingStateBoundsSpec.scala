package graft.streaming

import java.sql.Timestamp
import graft.SparkSpecBase
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

case class BDoc(doc_id: Long, ts: Timestamp, text: String)
case class BVec(vec_id: Long, ts: Timestamp, emb: Array[Double])

/** The bounded-state claim, MEASURED: every streaming dedup tier's scaladoc
  * says the watermark ages claims out of the state store — these specs
  * read the state-operator metrics and assert rows actually leave after
  * the watermark passes, instead of accumulating forever. */
class StreamingStateBoundsSpec extends SparkSpecBase {

  private val base = 1700000000000L

  private def stateRows(q: StreamingQuery): Seq[Long] =
    q.recentProgress.toSeq.flatMap(_.stateOperators.map(_.numRowsTotal))

  test("exact-dedup claims leave the state store after the watermark passes") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[BDoc]
    val q = StreamingDedup.dedupExactStream(mem.toDF(), "ts", "text", "10 seconds")
      .writeStream.format("memory").queryName("bounds_exact")
      .outputMode("append").trigger(Trigger.ProcessingTime(0)).start()
    // 200 distinct fingerprints land in state
    mem.addData((0L until 200L).map(i =>
      BDoc(i, new Timestamp(base), s"unique content number $i")): _*)
    q.processAllAvailable()
    // two advancing batches: the first moves the watermark far past the
    // claims, the next materializes the eviction
    mem.addData(BDoc(9001L, new Timestamp(base + 600000L), "later one"))
    q.processAllAvailable()
    mem.addData(BDoc(9002L, new Timestamp(base + 1200000L), "later two"))
    q.processAllAvailable()
    val rows = stateRows(q)
    q.stop()
    assert(rows.max >= 200L, s"claims never entered state: $rows")
    assert(rows.last <= 5L,
      s"claims must leave state after the watermark passes: $rows")
  }

  test("semdedup cell state evicts on timeout after the watermark passes") {
    import spark.implicits._
    val cents = Seq(Seq(1.0, 0.0), Seq(0.0, 1.0))
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[BVec]
    val q = StreamingSemDedup.semDedupStream(mem.toDF(), "ts", "vec_id", "emb",
        cents, watermarkDelayMs = 10000L, minSim = 0.99)
      .writeStream.format("memory").queryName("bounds_semdd")
      .outputMode("append").trigger(Trigger.ProcessingTime(0)).start()
    mem.addData((0L until 50L).map(i =>
      BVec(i, new Timestamp(base), Array(math.cos(i * 0.1), math.sin(i * 0.1)))): _*)
    q.processAllAvailable()
    mem.addData(BVec(9001L, new Timestamp(base + 600000L), Array(1.0, 0.0)))
    q.processAllAvailable()
    mem.addData(BVec(9002L, new Timestamp(base + 1200000L), Array(0.0, 1.0)))
    q.processAllAvailable()
    val rows = stateRows(q)
    q.stop()
    // state is one row per LIVE cell (2 cells here), never per vector —
    // and timed-out cells leave entirely
    assert(rows.max >= 2L, s"cells never entered state: $rows")
    assert(rows.last <= 2L,
      s"timed-out cells must leave state: $rows")
  }

  test("PROBED semdedup cell state evicts on timeout; ghosts don't outlive cells") {
    import spark.implicits._
    val cents = Seq(Seq(1.0, 0.0), Seq(0.0, 1.0))
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[BVec]
    val q = StreamingSemDedup.semDedupStream(mem.toDF(), "ts", "vec_id",
        "emb", cents, watermarkDelayMs = 10000L, minSim = 0.99, nProbe = 2)
      .writeStream.format("memory").queryName("bounds_semdd_probed")
      .outputMode("append").trigger(Trigger.ProcessingTime(0)).start()
    // nProbe=2 over 2 cells: every arrival ghost-stores in its non-home
    // cell too — state stays one row per LIVE cell regardless
    mem.addData((0L until 50L).map(i =>
      BVec(i, new Timestamp(base), Array(math.cos(i * 0.1), math.sin(i * 0.1)))): _*)
    q.processAllAvailable()
    mem.addData(BVec(9001L, new Timestamp(base + 600000L), Array(1.0, 0.0)))
    q.processAllAvailable()
    mem.addData(BVec(9002L, new Timestamp(base + 1200000L), Array(0.0, 1.0)))
    q.processAllAvailable()
    val rows = stateRows(q)
    q.stop()
    assert(rows.max >= 2L, s"cells never entered state: $rows")
    assert(rows.last <= 2L,
      s"timed-out cells (incl. their ghosts) must leave state: $rows")
  }
}
