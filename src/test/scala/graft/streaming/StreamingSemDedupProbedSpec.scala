package graft.streaming

import java.sql.Timestamp
import graft.SparkSpecBase
import graft.operators.Similarity
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Probing StreamingSemDedup ([[StreamingSemDedup.semDedupStream]] with
  * `nProbe`): survivor STORAGE fans out (ghost entries) instead of lookups,
  * so one fMGWS suffices and the watermark propagates. Gates:
  *  - exact parity with a sequential replay of the documented policy;
  *  - the recall claim: a boundary-straddling pair (different home cells,
  *    neighbor within probe order) is CAUGHT at nProbe=2 and MISSED at
  *    nProbe=1 — the entire point of probing;
  *  - a null embedding fails the query at every nProbe. */
class StreamingSemDedupProbedSpec extends SparkSpecBase {

  private val base = 1700000000000L

  /** Sequential replay of the documented probing policy: (ts, id) order;
    * per-cell stores; judge in HOME cell only (entries = survivors homed
    * here + ghosts probed here); kept rows store home entries; ghosts store
    * unconditionally in every non-home probe cell (shared cap). */
  private def replay(fed: Seq[Vec], probesOf: Map[Long, Seq[Int]],
                     delayMs: Long, minSim: Double,
                     maxPerCell: Int): Set[Long] = {
    def unit(v: Array[Double]): Array[Double] = {
      val n = math.sqrt(v.map(x => x * x).sum)
      if (n == 0) v else v.map(_ / n)
    }
    val store = scala.collection.mutable.Map[Int, List[(Long, Long, Array[Double])]]()
    val kept = scala.collection.mutable.Set[Long]()
    fed.sortBy(r => (r.ts.getTime, r.vec_id)).foreach { r =>
      val probes = probesOf(r.vec_id)
      val tsMs = r.ts.getTime
      val u = unit(r.emb)
      val home = probes.head
      var live = store.getOrElse(home, Nil).filter(e => e._2 + delayMs >= tsMs)
      val dup = live.exists(e =>
        e._1 != r.vec_id && StreamingSemDedup.dotArr(e._3, u) >= minSim)
      if (!dup) {
        kept += r.vec_id
        if (live.size < maxPerCell) live = live :+ ((r.vec_id, tsMs, u))
      }
      store(home) = live
      probes.tail.foreach { c =>
        var g = store.getOrElse(c, Nil).filter(e => e._2 + delayMs >= tsMs)
        if (g.size < maxPerCell && !g.exists(_._1 == r.vec_id))
          g = g :+ ((r.vec_id, tsMs, u))
        store(c) = g
      }
    }
    kept.toSet
  }

  test("probing semdedup: boundary pair caught at nProbe=2, missed at nProbe=1") {
    import spark.implicits._
    // two centroids 60 degrees apart; a pair of near-identical vectors that
    // land in DIFFERENT home cells (each closest to a different centroid)
    // while being 0.999-similar to each other
    val c0 = Seq(1.0, 0.0)
    val c1 = Seq(0.5, math.sqrt(3) / 2)
    val cents = Seq(c0, c1)
    // the boundary direction is 30 degrees; tilt one vector slightly toward
    // each centroid
    def dir(deg: Double) = Array(math.cos(math.toRadians(deg)),
      math.sin(math.toRadians(deg)))
    val a = dir(29.0) // home cell 0
    val b = dir(31.0) // home cell 1; cos(a,b) = cos(2 deg) ~ 0.9994
    for ((nProbe, expectDup) <- Seq(1 -> false, 2 -> true)) {
      implicit val sqlCtx = spark.sqlContext
      val mem = MemoryStream[Vec]
      val out = StreamingSemDedup.semDedupStream(mem.toDF(), "ts",
        "vec_id", "emb", cents, watermarkDelayMs = 60000L, minSim = 0.99,
        nProbe = nProbe)
      val name = s"semdd_probe_$nProbe"
      val q = out.writeStream.format("memory").queryName(name)
        .outputMode("append").trigger(Trigger.ProcessingTime(0)).start()
      mem.addData(Vec(1L, new Timestamp(base), a))
      q.processAllAvailable()
      mem.addData(Vec(2L, new Timestamp(base + 1000L), b))
      q.processAllAvailable()
      q.stop()
      val got = spark.table(name)
        .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
      assert(got(1L) == false, s"nProbe=$nProbe first arrival must keep")
      assert(got(2L) == expectDup,
        s"nProbe=$nProbe boundary pair: expected is_dup=$expectDup, got ${got(2L)}")
    }
  }

  test("probing semdedup: exact parity with the sequential replay on real embeddings") {
    import spark.implicits._
    val corpus = graft.Tables.embeddings(spark, sf("sf0.001"))
    val cents = Similarity.centroidsFor(corpus, "vec_id", "embedding", 8)
    val nProbe = 3
    val originals = corpus.select(col("vec_id"),
        Similarity.toDoubleVec(col("embedding")).as("v")).collect()
      .map(r => Vec(r.getLong(0),
        new Timestamp(base + r.getLong(0) * 100L),
        r.getSeq[Double](1).toArray)).sortBy(_.vec_id).toSeq
    val clones = originals.take(10).map(v =>
      v.copy(vec_id = v.vec_id + 100000L,
        ts = new Timestamp(v.ts.getTime + 3000L)))
    val fed = originals ++ clones

    // probe order ground truth from the same expression the stream uses
    val probesOf = fed.map(v => (v.vec_id, v.emb)).toDF("vec_id", "emb")
      .select(col("vec_id"),
        Similarity.probeCells(col("emb"), cents, nProbe).as("probes"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1).toSeq).toMap

    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Vec]
    val out = StreamingSemDedup.semDedupStream(mem.toDF(), "ts",
      "vec_id", "emb", cents, watermarkDelayMs = 60000L, minSim = 0.95,
      nProbe = nProbe)
    val q = out.writeStream.format("memory").queryName("semdd_probe_parity")
      .outputMode("append").trigger(Trigger.ProcessingTime(0)).start()
    val (b1, b2) = originals.splitAt(originals.size / 2)
    mem.addData(b1: _*); q.processAllAvailable()
    mem.addData((b2 ++ clones): _*); q.processAllAvailable()
    q.stop()

    val rowsOut = spark.table("semdd_probe_parity").collect()
    assert(rowsOut.length == fed.size,
      s"one verdict per arrival expected: ${rowsOut.length} vs ${fed.size}")
    val kept = rowsOut.filter(r => !r.getBoolean(2)).map(_.getLong(0)).toSet
    val expected = replay(fed, probesOf, 60000L, 0.95, 1024)
    assert(kept == expected,
      s"missing=${(expected -- kept).take(5)} extra=${(kept -- expected).take(5)}")
    // probing must catch at least everything the single-cell policy catches
    // on this feed (ghosts only ADD candidates below the cap)
    val dups = rowsOut.filter(_.getBoolean(2)).map(_.getLong(0)).toSet
    assert(clones.map(_.vec_id).toSet.subsetOf(dups))
  }

  test("probing semdedup: a null embedding fails the query at nProbe 1 and 2, never leaves its row without a verdict") {
    import spark.implicits._
    val cents = Seq(Seq(1.0, 0.0), Seq(0.0, 1.0))
    for (nProbe <- Seq(1, 2)) {
      implicit val sqlCtx = spark.sqlContext
      val mem = MemoryStream[Vec]
      val q = StreamingSemDedup.semDedupStream(mem.toDF(), "ts", "vec_id", "emb",
          cents, watermarkDelayMs = 60000L, minSim = 0.9, nProbe = nProbe)
        .writeStream.format("memory").queryName(s"semdd_null_$nProbe")
        .outputMode("append").trigger(Trigger.ProcessingTime(0)).start()
      try {
        mem.addData(Vec(1L, new Timestamp(base), Array(1.0, 0.0)),
          Vec(2L, new Timestamp(base + 1L), null))
        val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException](
          q.processAllAvailable())
        assert(e.getMessage.contains("NULL value appeared in non-nullable field"),
          s"nProbe=$nProbe: ${e.getMessage}")
      } finally q.stop()
    }
  }
}
