package graft.streaming

import java.sql.Timestamp
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
import graft.operators.Similarity

/** Streaming SemDeDup — the streaming twin of
  * `graft.operators.Similarity.semDedup`, extending the streaming dedup
  * family (exact / near / paragraph / URL) to the embedding side: an
  * arriving vector is dropped iff its cosine similarity to an EARLIER KEPT
  * vector in the same k-means cell reaches `minSim` within the watermark.
  *
  * Centroids are pinned BEFORE the stream starts
  * ([[Similarity.centroidsFor]] over a reference corpus) — a stream cannot
  * re-derive its cell model, and a moving model would make cell membership
  * (hence dedup decisions) time-dependent.
  *
  * Policy: rows process in ARRIVAL order, sorted by (ts, id) within each
  * micro-batch; a row is a duplicate iff some LIVE stored entry of its cell
  * (stored arrival within `watermarkDelayMs` of the row's own event time —
  * event-TIME expiry, not watermark-clock) has dot(unit, unit) >= minSim;
  * duplicates are dropped and do NOT claim state; survivors are stored.
  * With an in-event-time-order feed this equals a sequential (ts, id)
  * replay (the spec's ground truth); an out-of-order row split across
  * batches is judged in arrival order instead — the same first-claimant
  * trade every streaming tier here makes (the verified text tier's bucket
  * OWNER is likewise the first ARRIVAL), and the batch operator is ground
  * truth for bounded data. Comparing against survivors only is the online
  * analogue of the batch keep-lowest policy.
  *
  * Probing (`nProbe`): each arrival goes to its `nProbe` nearest cells
  * ([[Similarity.probeCells]] order), the nearest flagged HOME. One
  * flatMapGroupsWithState keyed by cell (a linear chain, so the watermark
  * propagates and the static checker stays ON):
  *  - the HOME copy is JUDGED against the cell's live entries and is the
  *    only copy that emits (one output row per arrival); kept rows store a
  *    home entry;
  *  - a non-home copy stores a GHOST entry (no verdict, no emission). A
  *    boundary-straddling pair (r in cell A, s in cell B, A ∈ probes(s)) is
  *    caught when s's ghost lands in r's home cell — the neighbourhood
  *    coverage IVF probing buys, reached by fanning out STORAGE instead of
  *    lookups (one arrival cannot read N keyed states, and a verdict
  *    combine downstream would be a second stateful operator, which
  *    Spark's checker rejects).
  * Ghosts are earlier ARRIVALS: a ghost whose home verdict was "duplicate"
  * can still claim a later cross-cell arrival, since the copies cannot
  * coordinate. This over-drops (dedup's safe direction) and only across
  * cell boundaries; within a cell the survivors-only rule holds exactly.
  * At `nProbe = 1` the home cell is [[Similarity.cellAssign]]'s and no
  * ghost is stored.
  *
  * Scale/state design:
  *  - cell assignment is MAP-ONLY (centroid literals in a codegen'd
  *    top-cells projection), so rows flow straight to the one stateful
  *    operator, keyed by cell — the same blocking that makes batch
  *    SemDeDup's pair step tractable bounds the streaming comparison fan-in;
  *    probing multiplies arrivals `nProbe`×, not state;
  *  - state per cell = the UNIT vectors of survivors (and ghosts) arrived
  *    within the watermark, capped at `maxPerCell` (beyond the cap new
  *    entries are emitted but not stored — the cap is part of the policy
  *    contract, the vector-side twin of the batch operator's `maxCell`
  *    guard); duplicates never enter state, so a clone flood costs
  *    comparisons, not memory;
  *  - whole-cell state evicts via event-time timeout once the watermark
  *    passes the cell's newest arrival + delay — by then every entry is
  *    past its per-entry expiry, so eviction never changes a verdict.
  *
  * Output: (id, ts, is_dup, dup_of) per arriving vector, append mode
  * (dup_of = -1 for kept rows). No aggregation runs downstream of the
  * state function, so the static chained-stateful-operator check stays ON.
  * A null embedding has no cell and fails the query.
  */
object StreamingSemDedup {

  final case class ProbeRow(id: Long, ts: Timestamp, cell: Int, home: Boolean,
                            u: Array[Double])
  final case class CellEntry(id: Long, tsMs: Long, u: Array[Double])
  final case class CellState(entries: List[CellEntry], maxTsMs: Long)
  final case class SemOut(id: Long, ts: Timestamp, is_dup: Boolean, dup_of: Long)

  private[streaming] def dotArr(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0; var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) { s += a(i) * b(i); i += 1 }
    s
  }

  def semDedupStream(vecs: DataFrame, tsCol: String, idCol: String,
                     vecCol: String, centroids: Seq[Seq[Double]],
                     watermarkDelayMs: Long, minSim: Double,
                     nProbe: Int = 1, maxPerCell: Int = 1024): DataFrame = {
    // a threshold <= 0 would make two ZERO vectors (dot 0) duplicates here
    // while the batch operator's NaN cosine never pairs them — refuse the
    // meaningless threshold instead of diverging silently
    require(minSim > 0, s"minSim must be > 0, got $minSim")
    require(nProbe >= 1, s"nProbe must be >= 1, got $nProbe")
    val spark = vecs.sparkSession
    import spark.implicits._
    import graft.operators.bindOnce
    val rows = vecs.select(col(idCol).as("id"), col(tsCol).as("ts"),
        Similarity.toDoubleVec(col(vecCol)).as("v"))
      .withColumn("nrm", Similarity.l2Norm(col("v")))
      .select(col("id"), col("ts"),
        // outer: a null embedding keeps its row, whose null cell fails the
        // typed decode below instead of vanishing without a verdict
        posexplode_outer(Similarity.probeCells(col("v"), centroids, nProbe))
          .as(Seq("pos", "cell")),
        // unit vectors in state: comparisons reduce to a dot product; a
        // zero vector stays raw (its dots are 0 — never a duplicate, like
        // the batch NaN cosine). bindOnce: the division lambda must read a
        // MATERIALIZED (v, nrm) value — referencing the nrm column inside
        // the HOF would inline the whole vec_norm subtree per ELEMENT
        // (the O(dim^2) Catalyst copy trap package.scala documents)
        bindOnce(struct(col("v").as("v"), col("nrm").as("n"))) { s =>
          when(s.getField("n") === 0.0, s.getField("v"))
            .otherwise(transform(s.getField("v"), x => x / s.getField("n")))
        }.as("u"))
      .select(col("id"), col("ts"), col("cell").cast("int").as("cell"),
        (col("pos") === 0).as("home"), col("u"))
      .withWatermark("ts", s"$watermarkDelayMs milliseconds")
      .as[ProbeRow]

    rows.groupByKey(_.cell)
      .flatMapGroupsWithState[CellState, SemOut](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (_: Int, it: Iterator[ProbeRow], state) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            // (ts, id) order; a row's probe cells are distinct, so each
            // cell sees at most one copy of it — the order is total
            val sorted = it.toSeq.sortBy(r => (r.ts.getTime, r.id))
            val st0 = state.getOption.getOrElse(CellState(Nil, 0L))
            var entries = st0.entries
            var maxTs = st0.maxTsMs
            val out = Seq.newBuilder[SemOut]
            sorted.foreach { r =>
              val tsMs = r.ts.getTime
              entries = entries.filter(e => e.tsMs + watermarkDelayMs >= tsMs)
              if (r.home) {
                entries.find(e => e.id != r.id && dotArr(e.u, r.u) >= minSim) match {
                  case Some(e) => out += SemOut(r.id, r.ts, is_dup = true, e.id)
                  case None =>
                    out += SemOut(r.id, r.ts, is_dup = false, -1L)
                    if (entries.size < maxPerCell)
                      entries = entries :+ CellEntry(r.id, tsMs, r.u)
                }
              } else if (entries.size < maxPerCell &&
                  !entries.exists(_.id == r.id)) {
                // ghost store: candidate for later arrivals of THIS cell
                entries = entries :+ CellEntry(r.id, tsMs, r.u)
              }
              maxTs = math.max(maxTs, tsMs)
            }
            state.update(CellState(entries, maxTs))
            state.setTimeoutTimestamp(math.max(
              state.getCurrentWatermarkMs() + 1, maxTs + watermarkDelayMs))
            out.result().iterator
          }
      }.toDF()
  }
}
