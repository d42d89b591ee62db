package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Embedding similarity search over `array<float>` columns.
  *
  * Numeric determinism: components are cast to double (exact) and folded
  * strictly left-to-right with `aggregate`, so dot products are bit-identical
  * to any engine that folds in index order (the DuckDB oracle mirrors this
  * with `list_reduce`); sqrt/divide are correctly-rounded IEEE ops. That makes
  * cosine similarity hash-comparable across engines — no tolerance needed.
  *
  * Scale design (100 TB):
  *  - brute-force kNN broadcasts the (small) query set and scans the corpus
  *    once — no shuffle at all until the final per-query top-k;
  *  - the blocked near-dup join shuffles both sides on the blocking key and
  *    is quadratic only within a block;
  *  - the LSH variant (random hyperplanes) buckets the corpus so candidate
  *    generation is a hash join on (table, bucket-signature), then verifies
  *    exact cosine on candidates only.
  */
object Similarity {

  /** Exact cast to double (codegen'd elementwise Cast) — float arithmetic
    * differs between engines, doubles are exact images of floats. */
  def toDoubleVec(v: Column): Column = v.cast("array<double>")

  /** Native codegen dot product (graft.functions.VecDot): strict
    * left-to-right summation, bit-identical to a sequential fold. Requires
    * GraftExtensions on the session (all graft entry points register it). */
  def dot(a: Column, b: Column): Column = call_function("vec_dot", a, b)

  def l2Norm(a: Column): Column = call_function("vec_norm", a)

  /** cosine = dot / (normA * normB); callers should pre-compute norms when
    * one side is reused (see knnBruteForce). */
  def cosine(a: Column, b: Column): Column = dot(a, b) / (l2Norm(a) * l2Norm(b))

  /** Corpus with vector cast + pre-computed norm: (idCol, v, nrm). */
  def withNorm(df: DataFrame, idCol: String, vecCol: String): DataFrame =
    spread(df).select(col(idCol), toDoubleVec(col(vecCol)).as("v"))
      .withColumn("nrm", l2Norm(col("v")))

  /** Brute-force cosine top-k: for every query vector, the k nearest corpus
    * vectors. The query side MUST be broadcast-size (it is sent to every
    * task); the corpus streams through map-side only, and the single shuffle
    * is the per-query top-k — a bounded-heap `topk_rows` partial aggregate
    * (VERDICT r10 item 4: the old rank window shipped |corpus| rows per
    * query key to ONE reducer; the heap is map-side combinable, so the
    * exchange carries ≤ tasks·k rows per query).
    * Output: (q_id, id, sim, rnk). */
  def knnBruteForce(corpus: DataFrame, corpusId: String, queries: DataFrame,
                    queryId: String, vecCol: String, k: Int): DataFrame = {
    val c = withNorm(corpus, corpusId, vecCol)
    val q = broadcast(withNorm(queries, queryId, vecCol)
      .select(col(queryId).as("q_id"), col("v").as("qv"), col("nrm").as("qn")))
    val sims = c.crossJoin(q)
      .withColumn("sim", dot(col("v"), col("qv")) / (col("nrm") * col("qn")))
    topKExplode(sims, Seq(col("q_id")), col("sim"), firstDesc = true,
      col(corpusId), Nil, k)
      .select(col("q_id"), col(corpusId).as("id"), col("sim"), col("rnk"))
  }

  /** The rank-window-equivalent bounded top-k: per `groupCols` group, the k
    * least rows under (ord0 DESC-or-ASC, idCol ASC) via the `topk_rows`
    * heap aggregate, re-exploded with `rnk` = 1-based rank — bit-identical
    * rows to `row_number() OVER (PARTITION BY group ORDER BY ...) <= k`
    * (same Catalyst comparator, same null/NaN order), but partial-
    * aggregatable: per-task state is k rows, and the exchange carries
    * tasks·k rows per group instead of the whole group. */
  private[operators] def topKExplode(df: DataFrame, groupCols: Seq[Column],
                                     ord0: Column, firstDesc: Boolean,
                                     idCol: Column, payload: Seq[Column],
                                     k: Int): DataFrame = {
    val fields = Seq(ord0, idCol) ++ payload
    df.groupBy(groupCols: _*)
      .agg(call_function("topk_rows", struct(fields: _*), lit(k),
        lit(firstDesc)).as("top"))
      .select((groupCols :+ posexplode(col("top")).as(Seq("pos", "t"))): _*)
      .select((groupCols ++ Seq(col("t.*"),
        (col("pos") + 1).cast("int").as("rnk"))): _*)
  }

  /** HARD-NEGATIVE MINING for contrastive/retrieval training data: for each
    * query vector, the k most-similar corpus vectors whose `labelCol`
    * DIFFERS from the query's — the highest-scoring wrong answers, which is
    * what a triplet/InfoNCE loss learns most from (the dense-retriever
    * recipe: mine top-ranked non-positives as negatives). Same scale
    * contract as [[knnBruteForce]]: the query side must be broadcast-size,
    * the corpus streams map-only, and the one shuffle is the bounded-heap
    * per-query top-k. Output: (q_id, q_label, id, label, sim, rnk). */
  def hardNegatives(corpus: DataFrame, corpusId: String, queries: DataFrame,
                    queryId: String, vecCol: String, labelCol: String,
                    k: Int): DataFrame = {
    val c = spread(corpus)
      .select(col(corpusId), col(labelCol), toDoubleVec(col(vecCol)).as("v"))
      .withColumn("nrm", l2Norm(col("v")))
    val q = broadcast(queries
      .select(col(queryId).as("q_id"), col(labelCol).as("q_label"),
        toDoubleVec(col(vecCol)).as("qv"))
      .withColumn("qn", l2Norm(col("qv"))))
    val sims = c.crossJoin(q)
      .filter(col(labelCol) =!= col("q_label"))
      .withColumn("sim", dot(col("v"), col("qv")) / (col("nrm") * col("qn")))
    // bounded-heap top-k instead of the rank window (see knnBruteForce);
    // the corpus label rides the heap rows as payload
    topKExplode(sims, Seq(col("q_id"), col("q_label")), col("sim"),
      firstDesc = true, col(corpusId), Seq(col(labelCol)), k)
      .select(col("q_id"), col("q_label"), col(corpusId).as("id"),
        col(labelCol), col("sim"), col("rnk"))
  }

  /** Exact cosine near-duplicate pairs within a blocking key (e.g. a coarse
    * cluster/label/partition-date): quadratic only inside each block, and the
    * block join is an ordinary shuffled equi-join — the standard exact
    * pattern when a natural blocking key exists.
    * Output: (id_a, id_b, sim) with id_a < id_b, sim >= minSim. */
  def cosineNearDupBlocked(df: DataFrame, idCol: String, vecCol: String,
                           blockCol: String, minSim: Double): DataFrame = {
    // GEMM-in-group: ONE groupBy shuffle moves each vector once, then the
    // `block_cosine_pairs` kernel runs the i<j loop over a packed primitive
    // matrix per block — the former self-join shipped BOTH d-dim arrays on
    // every pair row (|block|x vector duplication through the shuffle).
    // Block footprint is |block| x d doubles (the operator's contract
    // already requires blocks small enough for quadratic work); parallelism
    // is one task per block, which is the natural grain of a blocking key.
    // sim doubles are bit-identical to the join form (index-order dots,
    // commutative IEEE multiply); the join/filter form stays in
    // [[cosineNearDupBlockedStaged]] as the parity reference.
    val e = df.select(col(idCol).as("id"), col(blockCol).as("blk"),
        toDoubleVec(col(vecCol)).as("v"))
      .withColumn("nrm", l2Norm(col("v")))
    e.groupBy(col("blk"))
      .agg(collect_list(struct(col("id"), col("v"), col("nrm"))).as("rows"))
      .select(explode(
        call_function("block_cosine_pairs", col("rows"), lit(minSim))).as("p"))
      .select(col("p.id_a").as("id_a"), col("p.id_b").as("id_b"),
        col("p.sim").as("sim"))
  }

  /** The blocked self-join form (parity reference for the kernel). */
  private[graft] def cosineNearDupBlockedStaged(df: DataFrame, idCol: String, vecCol: String,
                           blockCol: String, minSim: Double): DataFrame = {
    val e = df.select(col(idCol).as("id"), col(blockCol).as("blk"),
        toDoubleVec(col(vecCol)).as("v"))
      .withColumn("nrm", l2Norm(col("v")))
    e.as("a").join(e.as("b"),
        col("a.blk") === col("b.blk") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        (dot(col("a.v"), col("b.v")) / (col("a.nrm") * col("b.nrm"))).as("sim"))
      .filter(col("sim") >= minSim)
  }

  /** IVF (inverted-file) approximate NN: corpus vectors are assigned to
    * their nearest of `nCentroids` cells (centroids drawn deterministically
    * from the corpus itself, normalized); a query probes its `nProbe`
    * closest cells and searches exactly inside them. The cell assignment is
    * one map-side pass (native vec_dot against centroid literals) and the
    * candidate join is an equi-join on cell id — the standard IVF trade:
    * recall grows with nProbe, cost with nProbe/nCentroids.
    * Output: (q_id, id, sim, rnk). */
  /** Deterministic IVF centroid seed set: hash-ordered sample of corpus
    * vectors, normalized. The hash is md5-derived (like Dedup.mdHash31) so
    * any engine can re-derive the same seeds: DuckDB mirrors it as
    * `('0x' || substring(md5(CAST(id AS VARCHAR)),1,15))::BIGINT % 9973`. */
  private def ivfCentroids(corpus: DataFrame, corpusId: String, vecCol: String,
                           nCentroids: Int): Seq[Seq[Double]] = {
    val seedRows = withNorm(corpus, corpusId, vecCol)
      .orderBy(pmod(call_function("md5_prefix60", col(corpusId).cast("string")),
        lit(9973)), col(corpusId))
      .limit(nCentroids)
      .select(col("v"), col("nrm")).collect()
    seedRows.map { r =>
      val v = r.getSeq[Double](0); val n = r.getDouble(1)
      if (n == 0) v else v.map(_ / n)
    }.toSeq
  }

  /** Lloyd-refined (spherical k-means) IVF centroids: the hash-seeded
    * [[ivfCentroids]] start improved by `iters` assign/recenter rounds.
    * Each round is ONE distributed pass: map-side cell assignment (same
    * argmax-dot expression the index uses) + per-(cell, dim) sum — the
    * posexplode shuffle is map-side combined down to nCentroids × dim
    * partials per task, and the driver only ever holds nCentroids × dim
    * doubles (bounded metadata, like the seeds). The spherical recenter is
    * the normalized sum of unit members (the count cancels under
    * normalization); empty cells keep their previous centroid.
    *
    * NOT the oracle default: k-means is neither engine-portable nor
    * seed-stable across implementations, so hash-seeded stays the gate
    * path and training is opt-in via `trainIters` — recall@10 vs
    * [[knnBruteForce]] is measured in `TrainedCodebooksSpec` instead. */
  def ivfCentroidsTrained(corpus: DataFrame, corpusId: String, vecCol: String,
                          nCentroids: Int, iters: Int,
                          start: Option[Seq[Seq[Double]]] = None): Seq[Seq[Double]] = {
    var cents = start.getOrElse(ivfCentroids(corpus, corpusId, vecCol, nCentroids))
    if (iters <= 0) return cents
    val unit = withNorm(corpus, corpusId, vecCol)
      .filter(col("nrm") > 0)
      .select(transform(col("v"), x => x / col("nrm")).as("u"))
      .cache()
    try {
      for (_ <- 0 until iters) {
        val sums = unit
          .select(argMaxCell(cellSimsFor(cents)(col("u"))).as("cell"),
            posexplode(col("u")))
          .groupBy("cell", "pos").agg(sum("col").as("s"))
          .collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getDouble(2)).toMap
        cents = cents.zipWithIndex.map { case (old, c) =>
          val s = old.indices.map(j => sums.getOrElse((c, j), 0.0))
          val n = math.sqrt(s.map(x => x * x).sum)
          if (sums.contains((c, 0)) && n > 0) s.map(_ / n) else old
        }
      }
      cents
    } finally { unit.unpersist(); () }
  }

  /** k-means|| initialization (Bahmani et al., VLDB'12 "Scalable K-Means++"):
    * the distance-spread seeding that k-means++ gets from k sequential
    * corpus passes, in `rounds` passes total — each round OVERSAMPLES ~l
    * candidates with probability proportional to their distance cost from
    * the current candidate set, then the (bounded, ≤ 1 + rounds·2l)
    * candidate set is weighted by how many corpus rows it attracts and
    * reduced to k by a driver-side weighted spherical k-means. Spread
    * seeding matters when cluster sizes are skewed: uniform hash seeding
    * puts most seeds in the dominant mode and misses small clusters
    * entirely; distance-proportional seeding covers them.
    *
    * Determinism (NOT the oracle path — same contract as Lloyd training):
    * the per-row coin is an md5-derived uniform over (round, id), the
    * per-round candidate cap orders by (cost DESC, id), and the driver
    * reduction starts from the top-k candidates by (weight DESC, index) —
    * a pure function of the corpus, reproducible across runs and
    * partitionings. Costs are spherical: d² ∝ 1 − max-dot on unit vectors.
    *
    * Shape at 100 TB: each round is ONE map-side pass (candidate literals,
    * vec_dot kernel) + a single-row cost aggregate + a bounded top-cap
    * TakeOrdered of the selected rows; the weighting pass is one
    * partial-agg count. The driver only ever holds the candidate set. */
  def kmeansParallelInit(corpus: DataFrame, corpusId: String, vecCol: String,
                         k: Int, rounds: Int = 3, oversample: Int = 0,
                         storage: StorageLevel = StorageLevel.MEMORY_AND_DISK
                        ): Seq[Seq[Double]] = {
    val l = if (oversample > 0) oversample else 2 * k
    val unit = withNorm(corpus, corpusId, vecCol)
      .filter(col("nrm") > 0)
      .select(col(corpusId).as("id"), transform(col("v"), x => x / col("nrm")).as("u"))
      .transform(t => CacheScope.persistTracked(t, storage))
    try {
      var cand: Seq[Seq[Double]] = ivfCentroids(corpus, corpusId, vecCol, 1)
      var r = 1
      var covered = false
      while (r <= rounds && !covered) {
        val withCost = unit.select(col("id"), col("u"),
          (lit(1.0) - array_max(cellSimsFor(cand)(col("u"))))
            .as("cost"))
        val phi = withCost.agg(sum(col("cost"))).head().getDouble(0)
        if (phi <= 0) covered = true
        else {
          // select when u01·φ < l·cost  ⇔  P[select] = min(1, l·cost/φ)
          val u01 = call_function("md5_prefix60", concat(lit(s"kmpar${r}_"),
            col("id").cast("string"))).cast("double") / lit(math.pow(2, 60))
          val picked = withCost
            .filter(u01 * lit(phi) < col("cost") * lit(l.toDouble))
            .orderBy(col("cost").desc, col("id"))
            .limit(2 * l) // hard cap: a degenerate cost spike can't flood the driver
            .select(col("u")).collect().map(_.getSeq[Double](0).toSeq).toSeq
          cand = cand ++ picked
        }
        r += 1
      }
      // weight candidates by attraction, reduce to k driver-side
      val wRows = unit
        .select(argMaxCell(cellSimsFor(cand)(col("u"))).as("cid"))
        .groupBy("cid").agg(count(lit(1)).as("n")).collect()
      val weights = Array.fill(cand.size)(0L)
      wRows.foreach(row => weights(row.getInt(0)) = row.getLong(1))
      driverWeightedKmeans(cand, weights.toSeq, k)
    } finally { unpersistQuiet(unit) }
  }

  private def unpersistQuiet(df: DataFrame): Unit = { df.unpersist(); () }

  /** Weighted spherical k-means over a BOUNDED candidate set, entirely on
    * the driver (candidates ≤ 1 + rounds·2l — metadata scale). Init is the
    * GREEDY weighted-D² pick (k-means++ made deterministic: argmax of
    * w·(1 − max-dot to chosen), ties to the lowest index) — top-k-by-weight
    * would re-collapse into the dominant mode, defeating the spread the ||
    * rounds paid for. Then Lloyd: assign by max dot, recenter to the
    * normalized weighted sum; empty cells keep their centroid. */
  private def driverWeightedKmeans(points: Seq[Seq[Double]], weights: Seq[Long],
                                   k: Int, iters: Int = 20): Seq[Seq[Double]] = {
    if (points.size <= k) return points
    val dim = points.head.size
    def dotp(a: Seq[Double], b: Seq[Double]): Double = {
      var s = 0.0; var j = 0
      while (j < dim) { s += a(j) * b(j); j += 1 }
      s
    }
    val first = weights.zipWithIndex.maxBy { case (w, i) => (w, -i) }._2
    val chosen = scala.collection.mutable.ArrayBuffer(first)
    val bestDot = points.map(p => dotp(p, points(first))).toArray
    while (chosen.size < k) {
      var best = -1; var bestGain = -1.0
      var i = 0
      while (i < points.size) {
        if (!chosen.contains(i)) {
          val gain = weights(i).toDouble * (1.0 - bestDot(i))
          if (gain > bestGain) { bestGain = gain; best = i }
        }
        i += 1
      }
      chosen += best
      var j = 0
      while (j < points.size) {
        val d = dotp(points(j), points(best))
        if (d > bestDot(j)) bestDot(j) = d
        j += 1
      }
    }
    var cents = chosen.map(points(_)).toSeq
    for (_ <- 0 until iters) {
      val sums = Array.fill(k, dim)(0.0)
      points.zip(weights).foreach { case (p, w) =>
        var best = 0; var bestDot = Double.NegativeInfinity
        var c = 0
        while (c < k) {
          var dp = 0.0; var j = 0
          while (j < dim) { dp += p(j) * cents(c)(j); j += 1 }
          if (dp > bestDot) { bestDot = dp; best = c }
          c += 1
        }
        var j = 0
        while (j < dim) { sums(best)(j) += w * p(j); j += 1 }
      }
      cents = cents.zipWithIndex.map { case (old, c) =>
        val n = math.sqrt(sums(c).map(x => x * x).sum)
        if (n > 0) sums(c).map(_ / n).toSeq else old
      }
    }
    cents
  }

  /** Per-centroid dot products as ONE `mat_vec` kernel call: sims[i] =
    * cᵢ · v, index = cid. Replaces the old nCentroids-struct expression
    * tree (16 structs × vec_dot per row): the fold per centroid row is the
    * same strict left-to-right sum, so every derived quantity — argmax
    * cell ([[graft.functions.ArgMaxLast]], ties → higher cid like the old
    * struct max), max sim, probe order ([[graft.functions.TopCells]], sim
    * DESC cid DESC like reverse(array_sort)) — is bit-identical; only the
    * per-row constant factor and the Janino compile of the giant tree go
    * away. */
  private def cellSimsFor(centroids: Seq[Seq[Double]])(v: Column): Column =
    call_function("mat_vec", typedLit(centroids), v)

  /** argmax cid over [[cellSimsFor]] sims (ties → higher cid). */
  private def argMaxCell(sims: Column): Column =
    call_function("arg_max_last", sims)

  /** Top-`n` probe cids over [[cellSimsFor]] sims (sim DESC, cid DESC). */
  private def topCells(sims: Column, n: Int): Column =
    call_function("top_cells", sims, lit(n))

  /** Public centroid derivation for callers that need the cell model OUTSIDE
    * a single operator call — e.g. the streaming SemDeDup twin, which must
    * pin centroids from a reference corpus before the stream starts (a
    * stream cannot re-derive them). Hash-seeded by default; `trainIters > 0`
    * Lloyd-refines. Bounded: nCentroids × dim doubles. */
  def centroidsFor(corpus: DataFrame, corpusId: String, vecCol: String,
                   nCentroids: Int, trainIters: Int = 0,
                   init: String = "hash"): Seq[Seq[Double]] = {
    val start = init match {
      case "parallel" => Some(kmeansParallelInit(corpus, corpusId, vecCol, nCentroids))
      case _          => None
    }
    if (trainIters > 0)
      ivfCentroidsTrained(corpus, corpusId, vecCol, nCentroids, trainIters, start)
    else start.getOrElse(ivfCentroids(corpus, corpusId, vecCol, nCentroids))
  }

  /** Nearest-centroid cell id for a vector column — the same argmax-dot
    * expression every IVF/SemDeDup path uses (tie: higher cid, matching
    * Spark's array_max struct order and the oracle's ORDER BY sim DESC,
    * cid DESC). Map-side only: centroids are expression literals. */
  def cellAssign(v: Column, centroids: Seq[Seq[Double]]): Column =
    argMaxCell(cellSimsFor(centroids)(v))

  /** Public top-`nProbe` probe order (sim DESC, cid DESC — the `top_cells`
    * kernel) for callers pinning a cell model outside one operator call,
    * e.g. the streaming SemDeDup twin. `probeCells(v, c, n)(0)` is
    * exactly [[cellAssign]] (same tie order). */
  def probeCells(v: Column, centroids: Seq[Seq[Double]], nProbe: Int): Column =
    topCells(cellSimsFor(centroids)(v), nProbe)

  def ivfTopK(corpus: DataFrame, corpusId: String, queries: DataFrame,
              queryId: String, vecCol: String, k: Int,
              nCentroids: Int = 16, nProbe: Int = 4,
              trainIters: Int = 0): DataFrame = {
    val centroids =
      if (trainIters > 0) ivfCentroidsTrained(corpus, corpusId, vecCol, nCentroids, trainIters)
      else ivfCentroids(corpus, corpusId, vecCol, nCentroids)
    def cellSims(v: Column): Column = cellSimsFor(centroids)(v)

    val corpusCells = withNorm(corpus, corpusId, vecCol)
      .withColumn("cell", argMaxCell(cellSims(col("v"))))
    val queryProbes = withNorm(queries, queryId, vecCol)
      .select(col(queryId).as("q_id"), col("v").as("qv"), col("nrm").as("qn"),
        explode(topCells(cellSims(col("v")), nProbe)).as("cell"))

    val cand = corpusCells.join(queryProbes, "cell")
    val sims = cand.withColumn("sim",
      dot(col("v"), col("qv")) / (col("nrm") * col("qn")))
    // bounded-heap top-k instead of the rank window (see knnBruteForce)
    topKExplode(sims, Seq(col("q_id")), col("sim"), firstDesc = true,
      col(corpusId), Nil, k)
      .select(col("q_id"), col(corpusId).as("id"), col("sim"), col("rnk"))
  }

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540) — semantic dedup over an
    * embedding column: k-means cells block the corpus, then WITHIN each cell
    * every pair at cosine >= `minSim` is reported (id_a < id_b). The
    * published recipe's insight IS the blocking — all-pairs cosine is
    * quadratic only inside a cell, never corpus-wide, and the cell join is
    * an ordinary shuffled equi-join on the cell id.
    *
    * Centroids default to the deterministic hash-seeded set (the
    * engine-portable oracle path shared with [[ivfTopK]]); `trainIters > 0`
    * switches to Lloyd-refined spherical k-means — tighter cells, closer to
    * the paper, but not oracle-able (measured in `TrainedCodebooksSpec`
    * terms instead). `maxCell` is the skew guard every pair generator here
    * carries: a cell bigger than the cap is dropped WHOLE before the
    * self-join (m²/2 pairs on one reducer otherwise); at 100 TB size
    * nCentroids so the expected cell is well under the cap and the cap only
    * trips on pathological collapse (e.g. a constant-embedding flood). */
  def semDedupPairs(df: DataFrame, idCol: String, vecCol: String,
                    minSim: Double, nCentroids: Int = 16,
                    trainIters: Int = 0,
                    maxCell: Option[Long] = None,
                    storage: StorageLevel = StorageLevel.MEMORY_AND_DISK): DataFrame = {
    val centroids = centroidsFor(df, idCol, vecCol, nCentroids, trainIters)
    // persisted: both sides of the self-join read the assignment (nCentroids
    // dot products per row) — without the persist the whole map pass runs
    // twice; DISK_ONLY at 100 TB, same contract as the other pair generators.
    // The capped table persists too: the size-filter groupBy + anti join
    // would otherwise also run once per join side (cosineNearDupLsh makes
    // the same two-level choice for its capped key table).
    val cells = withNorm(df, idCol, vecCol)
      .select(col(idCol).as("id"), col("v"), col("nrm"),
        cellAssign(col("v"), centroids).as("cell"))
      .transform(t => CacheScope.persistTracked(t, storage))
    val capped = maxCell match {
      case Some(cap) =>
        val big = cells.groupBy("cell").agg(count(lit(1)).as("cn"))
          .filter(col("cn") > cap).select("cell")
        CacheScope.persistTracked(cells.join(big, Seq("cell"), "left_anti"), storage)
      case None => cells
    }
    capped.as("a").join(capped.as("b"),
        col("a.cell") === col("b.cell") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        (dot(col("a.v"), col("b.v")) / (col("a.nrm") * col("b.nrm"))).as("sim"))
      .filter(col("sim") >= minSim)
  }

  /** SemDeDup survivors: drop every vector that is the HIGHER id of a
    * within-cell near-identical pair (keep-lowest — the paper keeps one
    * arbitrary member per semantic clique; lowest id makes it
    * deterministic). One anti join over [[semDedupPairs]]. */
  def semDedup(df: DataFrame, idCol: String, vecCol: String,
               minSim: Double, nCentroids: Int = 16,
               trainIters: Int = 0,
               maxCell: Option[Long] = None,
               storage: StorageLevel = StorageLevel.MEMORY_AND_DISK): DataFrame = {
    val losers = semDedupPairs(df, idCol, vecCol, minSim, nCentroids,
      trainIters, maxCell, storage).select(col("id_b").as(idCol)).distinct()
    df.join(losers, Seq(idCol), "left_anti")
  }

  /** Embedding-space decontamination: flag every corpus row whose embedding
    * is ≥ `minSim` cosine to ANY held-out evaluation vector — the SEMANTIC
    * sibling of the shingle/Bloom decontamination tier (p23): paraphrased
    * or lightly-edited benchmark leakage survives n-gram matching but not
    * an embedding check (the contamination audit of Yang et al. 2023,
    * "Rethinking Benchmark and Contamination ... with Rephrased Samples").
    *
    * Output: one verdict row per corpus id — `n_hits` (how many eval
    * vectors matched — exact integer, so the `contaminated` flag is
    * integer-armed), `max_sim` (worst-case leakage score; `max` is
    * order-free over doubles, unlike a sum, so it is engine-exact).
    *
    * Shape at 100 TB: the eval side of every real benchmark suite is tiny
    * (10^3–10^5 vectors) — it BROADCASTS, the corpus streams through
    * map-side (|test| fused dot products per row inside codegen), and the
    * only shuffle is the per-doc partial-agg verdict. Nothing quadratic
    * ever materializes. For eval sets past broadcast size, block first
    * (LSH/IVF cells) and verify with this on the matched cells. */
  def embeddingDecontaminate(corpus: DataFrame, corpusId: String,
                             testSet: DataFrame, testId: String,
                             vecCol: String, minSim: Double): DataFrame = {
    val c = withNorm(corpus, corpusId, vecCol)
    val t = broadcast(withNorm(testSet, testId, vecCol)
      .select(col(testId).as("t_id"), col("v").as("tv"), col("nrm").as("tnrm")))
    // zero-norm guard: 0/0 = NaN and Spark's NaN-greatest comparison makes
    // `NaN >= minSim` TRUE, flagging zero vectors against EVERY eval row —
    // mirror the stream twin (embedDecontaminateStream keeps zero-norm rows)
    c.crossJoin(t)
      .withColumn("sim", when(col("nrm") > 0d && col("tnrm") > 0d,
        dot(col("v"), col("tv")) / (col("nrm") * col("tnrm"))).otherwise(0d))
      .groupBy(col(corpusId))
      .agg(sum(when(col("sim") >= lit(minSim), 1L).otherwise(0L)).as("n_hits"),
        max(col("sim")).as("max_sim"))
      .withColumn("contaminated", col("n_hits") > 0L)
  }

  /** Cluster-balanced corpus sampling — the topic-rebalancing pass of the
    * SemDeDup / SSL-prototypes curation recipes (Abbas et al. 2023; Sorscher
    * et al. 2022 select per-cluster rather than uniformly: a web crawl is
    * dominated by a few giant near-duplicate modes, and a uniform sample
    * inherits the imbalance — capping every semantic cell flattens it).
    *
    * Cells come from the portable hash-seeded centroid derivation shared
    * with IVF/SemDeDup (`centroidsFor` — any engine re-derives the same
    * seeds); within each cell membership is a DETERMINISTIC md5-ordered
    * head of `perCell` rows, so the "random" sample is reproducible and
    * oracle-checkable. Map-only assignment (nCentroids dot products per
    * row against centroid literals) + ONE per-cell top-k window shuffle —
    * at 100 TB the only data movement is the (id, cell) pairs through the
    * rank window.
    * Output: (idCol, cell, rk) for the selected rows, rk 1..perCell. */
  def clusterBalancedSample(df: DataFrame, idCol: String, vecCol: String,
                            nCentroids: Int, perCell: Long,
                            trainIters: Int = 0): DataFrame = {
    val centroids = centroidsFor(df, idCol, vecCol, nCentroids, trainIters)
    val cells = withNorm(df, idCol, vecCol)
      .select(col(idCol).as("id"),
        cellAssign(col("v"), centroids).cast("int").as("cell"))
    // bounded-heap per-cell head instead of the rank window: the window
    // shape put corpus/nCentroids rows on ONE reducer per cell (the same
    // hazard as knnBruteForce's per-query window — VERDICT r10 item 4)
    topKExplode(cells
        .withColumn("ord", call_function("md5_prefix60", col("id").cast("string"))),
      Seq(col("cell")), col("ord"), firstDesc = false, col("id"), Nil,
      // ADVICE r11: fail loudly on a per-cell quota beyond Int range instead
      // of silently truncating (a negative k would only surface as a
      // confusing executor-side error)
      Math.toIntExact(perCell))
      .select(col("id").as(idCol), col("cell"), col("rnk").cast("long").as("rk"))
  }

  /** Embedding-cosine near-duplicate pairs WITHOUT a natural blocking key:
    * LSH bucket collisions (any of `tables` bands) propose candidates, which
    * are deduped while still narrow — (id_a, id_b) only — and then verified
    * with exact cosine >= minSim after the vectors re-join. The standard
    * trade vs [[cosineNearDupBlocked]]: recall < 1 (a pair colliding in no
    * band is missed) in exchange for no quadratic block — at 100 TB the
    * pair-generation join moves only (t, bk, id) triples.
    * Output: (id_a, id_b, sim) with id_a < id_b, sim >= minSim. */
  def cosineNearDupLsh(df: DataFrame, idCol: String, vecCol: String,
                       minSim: Double, tables: Int = 8,
                       planesPerTable: Int = 8,
                       maxBucket: Option[Long] = None,
                       storage: org.apache.spark.storage.StorageLevel =
                         org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK): DataFrame = {
    val e = withNorm(df, idCol, vecCol)
      .select(col(idCol).as("id"), col("v"), col("nrm"))
    val keys0 = e.select(col("id"), posexplode(
        call_function("vec_lsh_keys", col("v"), lit(tables), lit(planesPerTable))))
      .toDF("id", "t", "bk")
    // same bucket skew guard as Dedup.minhashLshPairs: a cluster of m
    // identical embeddings collides in EVERY table — m²/2 candidates per
    // table on one reducer (a 1M-vector boilerplate cluster is 10^12 pairs).
    // Oversized buckets drop whole: their members are exact-dedup territory
    // (identical vectors), and each vector keeps tables-1 other chances.
    // The capped key table persists (narrow (id,t,bk)) because the
    // self-join would otherwise evaluate the size-filter subtree twice.
    val keys = maxBucket match {
      case Some(cap) =>
        val sizes = keys0.groupBy("t", "bk").agg(count(lit(1)).as("bn"))
        keys0.join(sizes.filter(col("bn") <= cap), Seq("t", "bk"))
          .select("id", "t", "bk").transform(t => CacheScope.persistTracked(t, storage))
      case None => keys0
    }
    val cand = keys.as("a").join(keys.as("b"),
        col("a.t") === col("b.t") && col("a.bk") === col("b.bk") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
    cand
      .join(e.select(col("id").as("id_a"), col("v").as("va"), col("nrm").as("na")), "id_a")
      .join(e.select(col("id").as("id_b"), col("v").as("vb"), col("nrm").as("nb")), "id_b")
      .withColumn("sim", dot(col("va"), col("vb")) / (col("na") * col("nb")))
      .filter(col("sim") >= minSim)
      .select("id_a", "id_b", "sim")
  }

  /** Sign-quantized (binary) approximate NN: every embedding compresses to a
    * single `bits`-bit signature (bit j = sign of v · plane(0, j), the same
    * engine-portable integer-LCG planes as [[graft.functions.VecLshKeys]]) —
    * 8 bytes per vector at bits=64, the standard 32× memory reduction for
    * web-scale search. Stage 1 ranks candidates by Hamming distance between
    * signatures (one xor + popcount per pair, no floating point); stage 2
    * re-ranks the `rerank` closest by exact cosine, restoring precision at
    * the top. Queries broadcast like [[knnBruteForce]]; the corpus side of
    * the scan carries only (id, sig) = 16 bytes/row, so at 100 TB of
    * embeddings the distance pass touches ~0.8 TB of signatures and full
    * vectors are fetched only for rerank winners.
    * Output: (q_id, id, hamming, sim, rnk). */
  def hammingTopK(corpus: DataFrame, corpusId: String, queries: DataFrame,
                  queryId: String, vecCol: String, k: Int,
                  bits: Int = 64, rerank: Int = 40): DataFrame = {
    require(bits >= 1 && bits <= 64, s"bits must be in [1,64], got $bits (one long signature)")
    require(rerank >= k, s"rerank ($rerank) must be >= k ($k) or top-k is truncated")
    val c = withNorm(corpus, corpusId, vecCol)
      .select(col(corpusId).as("id"), col("v"), col("nrm"))
    val q = withNorm(queries, queryId, vecCol)
      .select(col(queryId).as("q_id"), col("v").as("qv"), col("nrm").as("qn"))
    def sig(v: Column): Column =
      element_at(call_function("vec_lsh_keys", v, lit(1), lit(bits)), 1)
    val csig = c.select(col("id"), sig(col("v")).as("sig"))
    val qsig = broadcast(q.select(col("q_id"), sig(col("qv")).as("qsig")))
    // Hamming pre-rank as a bounded-heap top-k (ASC: smallest distance
    // first) instead of the rank window (see knnBruteForce) — the corpus-
    // scale candidate stream never funnels one query onto one reducer
    val cand = topKExplode(
      csig.crossJoin(qsig)
        .withColumn("hamming", bit_count(col("sig").bitwiseXOR(col("qsig")))),
      Seq(col("q_id")), col("hamming"), firstDesc = false, col("id"), Nil,
      rerank)
      .select("q_id", "id", "hamming")
    val sims = cand.join(c, "id").join(q, "q_id")
      .withColumn("sim", dot(col("v"), col("qv")) / (col("nrm") * col("qn")))
    // final exact re-rank over the (already rerank-bounded) candidates —
    // same heap aggregate, with the Hamming distance riding as payload
    topKExplode(sims, Seq(col("q_id")), col("sim"), firstDesc = true,
      col("id"), Seq(col("hamming")), k)
      .select("q_id", "id", "hamming", "sim", "rnk")
  }

  /** Approximate NN via random-hyperplane LSH: per table, corpus and queries
    * hash to a signed-projection bucket; candidates are bucket collisions in
    * any table; exact cosine is computed on candidates only and the top-k
    * kept. Recall < 1 by design (see the spec, which measures it against
    * [[knnBruteForce]]); throughput at scale is what the bucketing buys.
    *
    * All `tables` bucket keys of a vector come from ONE codegen expression,
    * [[graft.functions.VecLshKeys]], whose integer-LCG hyperplanes are
    * engine-portable (the DuckDB oracle re-derives them bit-identically).
    * The bucket join carries ONLY (t, bk, id): candidate pairs are deduped on
    * (q_id, id) while still narrow, and vectors are re-joined afterwards —
    * at 100 TB the dedup shuffle moves ids, not embeddings.
    * Output: (q_id, id, sim, rnk) like knnBruteForce. */
  def annLshTopK(corpus: DataFrame, corpusId: String, queries: DataFrame,
                 queryId: String, vecCol: String, k: Int,
                 tables: Int = 8, planesPerTable: Int = 8): DataFrame = {
    val c = withNorm(corpus, corpusId, vecCol)
      .select(col(corpusId).as("id"), col("v"), col("nrm"))
    val q = withNorm(queries, queryId, vecCol)
      .select(col(queryId).as("q_id"), col("v").as("qv"), col("nrm").as("qn"))
    def keys(df: DataFrame, idAs: String, vAs: String) =
      df.select(col(idAs), posexplode(
        call_function("vec_lsh_keys", col(vAs), lit(tables), lit(planesPerTable))))
        .toDF(idAs, "t", "bk")
    val candIds = keys(c, "id", "v")
      .join(keys(q, "q_id", "qv"), Seq("t", "bk"))
      .select("q_id", "id")
      .distinct()
    val sims = candIds.join(c, "id").join(q, "q_id")
      .withColumn("sim", dot(col("v"), col("qv")) / (col("nrm") * col("qn")))
    // bounded-heap top-k instead of the rank window (see knnBruteForce)
    topKExplode(sims, Seq(col("q_id")), col("sim"), firstDesc = true,
      col("id"), Nil, k)
      .select("q_id", "id", "sim", "rnk")
  }

  /** Persist the IVF index: the expensive part at 100 TB is the corpus
    * assignment pass, so build it ONCE — centroids as a tiny parquet,
    * cell-assigned corpus `partitionBy("cell")`. Every later query batch
    * then reads only its probed cells' files (static partition pruning —
    * nProbe of nCentroids directories), amortizing the build across the
    * index's lifetime. Same cell math as [[ivfTopK]]: the parity spec
    * asserts identical results. */
  /** Read a persisted index's centroids (bounded: nCentroids × dim). */
  def loadCentroids(spark: org.apache.spark.sql.SparkSession,
                    path: String): Seq[Seq[Double]] =
    spark.read.parquet(s"$path/centroids").orderBy("cid").collect()
      .map(_.getSeq[Double](1).toSeq).toSeq

  /** `centroidsFrom`: path of an EXISTING index whose centroids are reused
    * verbatim — a nightly re-index over fresh data then skips re-seeding /
    * re-training (k-means cost paid once, assignments stay comparable
    * across rebuilds). When unset, centroids derive from this corpus
    * (hash-seeded, or Lloyd-refined when trainIters > 0). */
  def ivfBuildIndex(corpus: DataFrame, corpusId: String, vecCol: String,
                    path: String, nCentroids: Int = 16,
                    trainIters: Int = 0,
                    centroidsFrom: Option[String] = None,
                    init: String = "hash"): Unit = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val centroids = centroidsFrom match {
      case Some(src) => loadCentroids(spark, src)
      case None => centroidsFor(corpus, corpusId, vecCol, nCentroids, trainIters, init)
    }
    centroids.zipWithIndex.map { case (c, i) => (i, c) }
      .toDF("cid", "c")
      .repartition(1).write.mode("overwrite").parquet(s"$path/centroids")
    withNorm(corpus, corpusId, vecCol)
      .withColumn("cell",
        argMaxCell(cellSimsFor(centroids)(col("v"))))
      .withColumnRenamed(corpusId, "id")
      .write.mode("overwrite").partitionBy("cell").parquet(s"$path/cells")
  }

  /** Query a persisted IVF index. The distinct probed-cell set is at most
    * nCentroids (bounded, tiny), so it is collected and pushed as an `isin`
    * partition filter — the scan provably reads only probed directories.
    * Output: (q_id, id, sim, rnk) — identical to [[ivfTopK]]. */
  def ivfQueryIndex(spark: org.apache.spark.sql.SparkSession, path: String,
                    queries: DataFrame, queryId: String, vecCol: String,
                    k: Int, nProbe: Int = 4): DataFrame = {
    val centroids = loadCentroids(spark, path)
    val queryProbes = withNorm(queries, queryId, vecCol)
      .select(col(queryId).as("q_id"), col("v").as("qv"), col("nrm").as("qn"),
        explode(topCells(cellSimsFor(centroids)(col("v")), nProbe)).as("cell"))
    val probedCells = queryProbes.select("cell").distinct()
      .collect().map(_.getInt(0)).toSeq // bounded by nCentroids
    val cells = spark.read.parquet(s"$path/cells")
      .filter(col("cell").isin(probedCells: _*))
    val cand = cells.join(queryProbes, "cell")
    val sims = cand.withColumn("sim",
      dot(col("v"), col("qv")) / (col("nrm") * col("qn")))
    // bounded-heap top-k instead of the rank window (see knnBruteForce)
    topKExplode(sims, Seq(col("q_id")), col("sim"), firstDesc = true,
      col("id"), Nil, k)
      .select(col("q_id"), col("id"), col("sim"), col("rnk"))
  }

  /** IVFPQ — the classic composed ANN index, columnar-native: IVF cells for
    * partition pruning, PQ codes for the in-cell candidate scan, exact
    * cosine rerank for the final order. The index stores codes AND vectors
    * in the same cell-partitioned parquet; the ADC pass projects only
    * (id, codes) — parquet column pruning makes that scan ~9 bytes/vector —
    * and full vectors are read again only for the rerank pool (same
    * partition pruning, narrow id semi-join). */
  /** Read a persisted IVFPQ index's PQ codebooks (bounded: m × k × sub). */
  def loadCodebooks(spark: org.apache.spark.sql.SparkSession,
                    path: String): Seq[Seq[Seq[Double]]] = {
    val rows = spark.read.parquet(s"$path/codebooks").collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2).toSeq))
    (0 to rows.map(_._1).max).map { mi =>
      rows.filter(_._1 == mi).sortBy(_._2).map(_._3).toSeq
    }
  }

  /** IVFPQ index format (version, residual, opq, local). Version 1 (no
    * `meta` dir) encoded raw vectors; version 2 added the mean-shift
    * residual flag (v/‖v‖ − mean(cell), per-cell means under `shifts/`);
    * version 3 added the OPQ flag (codes computed on `mat_vec(R, residual)`
    * with the rotation rows under `rotation/`); version 4 adds the LOPQ
    * flag (`local`: one rotation PER CELL under `rotations/`, keyed by
    * cid). Readers default missing meta to (1, raw, no-rotation), a
    * 2-column v2 meta to opq=false, and a 3-column v3 meta to local=false,
    * so v1/v2/v3
    * indexes keep querying correctly. */
  def loadPqMeta(spark: org.apache.spark.sql.SparkSession,
                 path: String): (Int, Boolean, Boolean, Boolean) =
    try {
      val df = spark.read.parquet(s"$path/meta")
      val r = df.head()
      val opq = if (df.columns.contains("opq")) r.getAs[Boolean]("opq") else false
      val local = if (df.columns.contains("local")) r.getAs[Boolean]("local") else false
      (r.getInt(0), r.getBoolean(1), opq, local)
    } catch { case _: Exception => (1, false, false, false) }

  /** Read a v3 index's OPQ rotation rows (bounded: D × D doubles). */
  def loadRotation(spark: org.apache.spark.sql.SparkSession,
                   path: String): Seq[Seq[Double]] =
    spark.read.parquet(s"$path/rotation").collect()
      .map(r => r.getInt(0) -> r.getSeq[Double](1).toSeq)
      .sortBy(_._1).map(_._2).toSeq

  /** Read a v4 index's PER-CELL rotations (bounded: nCells × D × D doubles,
    * densely indexed by cell id; cells without a stored rotation — too few
    * members to estimate a covariance — get identity). */
  def loadLocalRotations(spark: org.apache.spark.sql.SparkSession, path: String,
                         nCells: Int, dim: Int): Seq[Seq[Seq[Double]]] = {
    val byCell = spark.read.parquet(s"$path/rotations").collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2).toSeq))
      .groupBy(_._1).map { case (c, rows) =>
        c -> rows.sortBy(_._2).map(_._3).toSeq
      }
    val eye = Seq.tabulate(dim, dim)((i, j) => if (i == j) 1.0 else 0.0)
    (0 until nCells).map(c => byCell.getOrElse(c, eye))
  }

  /** Read a residual index's per-cell mean shifts, densely indexed by cell
    * id (bounded: nCentroids × dim). Cells with no members get the zero
    * shift (they also have no rows, so it is never applied). */
  def loadShifts(spark: org.apache.spark.sql.SparkSession, path: String,
                 nCentroids: Int, dim: Int): Seq[Seq[Double]] = {
    val m = spark.read.parquet(s"$path/shifts").collect()
      .map(r => r.getInt(0) -> r.getSeq[Double](1).toSeq).toMap
    (0 until nCentroids).map(c => m.getOrElse(c, Seq.fill(dim)(0.0)))
  }

  /** `centroidsFrom` reuses an existing IVFPQ index's centroids, codebooks
    * AND shifts (see [[ivfBuildIndex]]) — the residual flag is then
    * inherited from the source index (its codebooks were trained in that
    * geometry; mixing would silently wreck ADC distances).
    *
    * `residual = true` (default) encodes the MEAN-SHIFT residual
    * r = v̂ − mean(cell) (unit vector minus the assigned cell's member
    * MEAN, not its unit-norm k-means centroid) — the IVFADC construction
    * (Jégou et al., TPAMI 2011) adapted to the cosine metric this index
    * ranks by. The cell mean is the L2-optimal per-cell shift (argmin of
    * within-cell squared distance), so residual energy NEVER exceeds the
    * raw unit vectors' — on clustered corpora the residuals collapse near
    * zero and the same m × k code budget yields a large ADC recall jump
    * (asserted in `TrainedCodebooksSpec` on a planted clustered corpus).
    * Subtracting the UNIT centroid instead would be wrong: for a member at
    * angle θ to its centroid the spherical residual has energy 2 − 2·cosθ,
    * which EXCEEDS 1 (the raw energy) whenever θ > 60° — measured recall
    * loss on weakly-clustered data. The ADC distance stays metric-aligned
    * either way: ‖(q̂ − s(cell)) − r̂‖² ≈ ‖q̂ − v̂‖² = 2 − 2·cos(q,v). */
  def ivfPqBuildIndex(corpus: DataFrame, corpusId: String, vecCol: String,
                      path: String, nCentroids: Int = 16,
                      m: Int = 8, k: Int = 16, trainIters: Int = 0,
                      centroidsFrom: Option[String] = None,
                      residual: Boolean = true,
                      opq: Boolean = false,
                      opqRounds: Int = 0,
                      localRot: Boolean = false,
                      init: String = "hash"): Unit = {
    require(!(opq && localRot),
      "opq and localRot are alternative rotation modes — pick one")
    val spark = corpus.sparkSession
    import spark.implicits._
    val centroids = centroidsFrom match {
      case Some(src) => loadCentroids(spark, src)
      case None => centroidsFor(corpus, corpusId, vecCol, nCentroids, trainIters, init)
    }
    val effResidual = centroidsFrom
      .map(src => loadPqMeta(spark, src)._2).getOrElse(residual)
    val effOpq = centroidsFrom
      .map(src => loadPqMeta(spark, src)._3).getOrElse(opq)
    val effLocal = centroidsFrom
      .map(src => loadPqMeta(spark, src)._4).getOrElse(localRot)
    centroids.zipWithIndex.map { case (c, i) => (i, c) }.toDF("cid", "c")
      .repartition(1).write.mode("overwrite").parquet(s"$path/centroids")
    // cell assignment FIRST: residual codebooks must train on r = v̂ − s(cell)
    val base = withNorm(corpus, corpusId, vecCol)
      .withColumn("cell",
        argMaxCell(cellSimsFor(centroids)(col("v"))))
      .withColumn("u", transform(col("v"), _ / col("nrm")))
    // per-cell MEAN of the unit members — the L2-optimal shift. One small
    // partial-agg pass; driver holds only nCentroids × dim doubles (bounded
    // metadata, like the centroids).
    val shifts: Seq[Seq[Double]] =
      if (!effResidual) Seq.fill(centroids.length)(Seq.fill(centroids.head.length)(0.0))
      else centroidsFrom match {
        case Some(src) =>
          loadShifts(spark, src, centroids.length, centroids.head.length)
        case None =>
          val m = base.select(col("cell"), posexplode(col("u")))
            .groupBy("cell", "pos").agg(sum("col").as("s"), count(lit(1)).as("n"))
            .collect().map(r => (r.getInt(0), r.getInt(1)) -> (r.getDouble(2) / r.getLong(3))).toMap
          (0 until centroids.length).map(c =>
            centroids.head.indices.map(j => m.getOrElse((c, j), 0.0)).toSeq)
      }
    if (effResidual) {
      shifts.zipWithIndex.map { case (s, i) => (i, s) }.toDF("cid", "s")
        .repartition(1).write.mode("overwrite").parquet(s"$path/shifts")
    }
    val shiftLit = typedLit(shifts)
    val preRot = base
      .withColumn("rv0",
        if (effResidual)
          zip_with(col("u"), element_at(shiftLit, col("cell") + 1), _ - _)
        else col("v").cast("array<double>"))
      .drop("u")
    // OPQ: codes are computed in the rotated geometry rv = R · rv0; the
    // rotation is PCA-derived from the (residual) training distribution and
    // persisted so queries rotate identically. Orthogonality preserves L2,
    // so ADC distances in rotated space equal the unrotated ones.
    // opqRounds > 1 alternates codebook training with a Procrustes re-solve
    // of R (non-parametric OPQ) — the refined books pair with the final R.
    val refined: Option[(Seq[Seq[Double]], Seq[Seq[Seq[Double]]])] =
      if (effOpq && centroidsFrom.isEmpty && opqRounds > 0)
        Some(graft.operators.Quantize.opqRotationRefined(
          preRot, corpusId, "rv0", m, k, opqRounds, trainIters))
      else None
    val rotation: Seq[Seq[Double]] =
      if (!effOpq) Seq.empty
      else centroidsFrom match {
        case Some(src) => loadRotation(spark, src)
        case None => refined.map(_._1)
          .getOrElse(graft.operators.Quantize.opqRotation(preRot, "rv0", m))
      }
    if (effOpq) {
      rotation.zipWithIndex.map { case (row, i) => (i, row) }.toDF("i", "r")
        .repartition(1).write.mode("overwrite").parquet(s"$path/rotation")
    }
    // LOPQ (Kalantidis & Avrithis, CVPR'14): a rotation PER CELL, each
    // PCA-balanced on that cell's own (residual) distribution — clusters
    // whose variance lives in different bases each get their own R where
    // one global rotation must compromise. nCells covariance jobs over the
    // persisted pre-rotation frame at BUILD time; queries pay one
    // mat_vec per probe row (the rotation table is bounded metadata:
    // nCells × D × D doubles).
    val localRots: Seq[Seq[Seq[Double]]] =
      if (!effLocal) Seq.empty
      else centroidsFrom match {
        case Some(src) =>
          loadLocalRotations(spark, src, centroids.length, centroids.head.length)
        case None =>
          val pinned = CacheScope.persistTracked(preRot)
          val d = centroids.head.length
          val eye = Seq.tabulate(d, d)((i, j) => if (i == j) 1.0 else 0.0)
          val rots = (0 until centroids.length).map { c =>
            val cellDf = pinned.filter(col("cell") === c)
            if (cellDf.take(2).length < 2) eye // too few rows for a covariance
            else graft.operators.Quantize.opqRotation(cellDf, "rv0", m)
          }
          rots
      }
    if (effLocal) {
      localRots.zipWithIndex.flatMap { case (rot, c) =>
        rot.zipWithIndex.map { case (row, i) => (c, i, row) }
      }.toDF("cid", "i", "r")
        .repartition(1).write.mode("overwrite").parquet(s"$path/rotations")
    }
    val assigned = preRot
      .withColumn("rv",
        if (effLocal)
          call_function("mat_vec",
            element_at(typedLit(localRots), col("cell") + 1),
            col("rv0").cast("array<double>"))
        else if (effOpq) graft.operators.Quantize.rotate(col("rv0"), rotation)
        else col("rv0"))
      .drop("rv0")
    val cbs = centroidsFrom match {
      case Some(src) => loadCodebooks(spark, src)
      case None => refined.map(_._2).getOrElse {
        if (trainIters > 0)
          graft.operators.Quantize.pqCodebooksTrained(assigned, corpusId, "rv", m, k, trainIters)
        else graft.operators.Quantize.pqCodebooks(assigned, corpusId, "rv", m, k)
      }
    }
    cbs.zipWithIndex.flatMap { case (entries, mi) =>
      entries.zipWithIndex.map { case (c, ki) => (mi, ki, c) }
    }.toDF("m", "ki", "c")
      .repartition(1).write.mode("overwrite").parquet(s"$path/codebooks")
    assigned
      .withColumn("codes", graft.operators.Quantize.pqEncode(col("rv"), cbs))
      .drop("rv")
      .withColumnRenamed(corpusId, "id")
      .write.mode("overwrite").partitionBy("cell").parquet(s"$path/cells")
    // per-cell row counts (bounded: nCentroids longs) — the adaptive-probe
    // query path sizes its probe list with these; counted from the written
    // files' id column so the encode pass is not recomputed
    spark.read.parquet(s"$path/cells").groupBy("cell").count()
      .repartition(1).write.mode("overwrite").parquet(s"$path/cellstats")
    Seq((4, effResidual, effOpq, effLocal))
      .toDF("version", "residual", "opq", "local")
      .repartition(1).write.mode("overwrite").parquet(s"$path/meta")
  }

  /** Probe list (q_id, qv, qn, cell) for an IVF(PQ) query: fixed top-nProbe
    * cells, or — with a candidate budget — cells in descending similarity
    * while the candidates BEFORE each are under budget (first cell always
    * probes; the prefix property bounds total candidates by budget + the
    * last cell's size). */
  private def probeList(q: DataFrame, centroids: Seq[Seq[Double]], nProbe: Int,
                        candidateBudget: Option[Long], maxProbe: Int,
                        cellCounts: => Seq[Long]): DataFrame =
    candidateBudget match {
      case None =>
        q.select(col("q_id"), col("qv"), col("qn"),
            explode(topCells(cellSimsFor(centroids)(col("qv")), nProbe)).as("cell"))
      case Some(budget) =>
        val counts = typedLit(cellCounts)
        val wP = Window.partitionBy("q_id").orderBy("pos")
          .rowsBetween(Window.unboundedPreceding, -1)
        q.select(col("q_id"), col("qv"), col("qn"),
            posexplode(topCells(cellSimsFor(centroids)(col("qv")),
              math.max(1, maxProbe))))
          .select(col("q_id"), col("qv"), col("qn"), col("pos"),
            col("col").as("cell"))
          .withColumn("cum", sum(element_at(counts, col("cell") + 1)).over(wP))
          .filter(col("pos") === 0 || coalesce(col("cum"), lit(0L)) < budget)
          .drop("pos", "cum")
    }

  /** The (q_id, cell) probe list a query with these parameters would scan —
    * the adaptive-budget observability hook (how many cells does each query
    * actually probe?). */
  def ivfPqProbes(spark: org.apache.spark.sql.SparkSession, path: String,
                  queries: DataFrame, queryId: String, vecCol: String,
                  nProbe: Int = 4, candidateBudget: Option[Long] = None,
                  maxProbe: Int = 16): DataFrame = {
    val centroids = loadCentroids(spark, path)
    val q = withNorm(queries, queryId, vecCol)
      .select(col(queryId).as("q_id"), col("v").as("qv"), col("nrm").as("qn"))
    probeList(q, centroids, nProbe, candidateBudget, maxProbe,
      loadCellCounts(spark, path, centroids.length))
      .select("q_id", "cell")
  }

  /** Per-cell row counts, positionally indexed by cell id. Falls back to a
    * counting scan for pre-cellstats indexes. */
  def loadCellCounts(spark: org.apache.spark.sql.SparkSession, path: String,
                     nCells: Int): Seq[Long] = {
    val rows = try {
      spark.read.parquet(s"$path/cellstats").collect()
    } catch {
      case _: Exception =>
        spark.read.parquet(s"$path/cells").groupBy("cell").count().collect()
    }
    val m = rows.map(r => r.getInt(0) -> r.getLong(1)).toMap
    (0 until nCells).map(c => m.getOrElse(c, 0L))
  }

  /** Query an IVFPQ index: probe cells → ADC over codes → exact rerank of
    * the per-query `rerank` pool. Output: (q_id, id, sim, rnk).
    *
    * `candidateBudget` switches to ADAPTIVE probing: each query probes cells
    * in descending similarity until the cumulative candidate count reaches
    * the budget (capped at `maxProbe` cells, minimum one). A fixed nProbe
    * over skewed cells makes dense-cell queries scan far more candidates
    * than sparse-cell queries for the same recall; the budget equalizes
    * per-query work — sparse-cluster queries probe MORE cells, dense ones
    * fewer. Cell sizes come from the bounded `cellstats` metadata. */
  def ivfPqQueryIndex(spark: org.apache.spark.sql.SparkSession, path: String,
                      queries: DataFrame, queryId: String, vecCol: String,
                      k: Int, nProbe: Int = 4, rerank: Int = 64,
                      candidateBudget: Option[Long] = None,
                      maxProbe: Int = 16): DataFrame = {
    val centroids = loadCentroids(spark, path)
    val cbs = loadCodebooks(spark, path)
    val (_, residual, opq, local) = loadPqMeta(spark, path)
    val shiftLit =
      if (residual)
        typedLit(loadShifts(spark, path, centroids.length, centroids.head.length))
      else typedLit(Seq(Seq(0.0)))
    val rotation = if (opq) loadRotation(spark, path) else Seq.empty
    val localRotLit =
      if (local) typedLit(loadLocalRotations(spark, path,
        centroids.length, centroids.head.length))
      else typedLit(Seq(Seq(Seq(0.0))))
    val m = cbs.length
    val sub = cbs.head.head.length

    val q = withNorm(queries, queryId, vecCol)
      .select(col(queryId).as("q_id"), col("v").as("qv"), col("nrm").as("qn"))
    val probes = probeList(q, centroids, nProbe, candidateBudget, maxProbe,
      loadCellCounts(spark, path, centroids.length)) // by-name: fixed mode never loads
    val probedCells = probes.select("cell").distinct()
      .collect().map(_.getInt(0)).toSeq // bounded by nCentroids

    // ADC pass: codes-only projection of the probed cells
    val codesScan = spark.read.parquet(s"$path/cells")
      .filter(col("cell").isin(probedCells: _*))
      .select(col("id"), col("cell"), col("codes"))
    // residual indexes rank by ‖(q̂ − s(cell)) − code‖² ≈ 2 − 2·cos(q,v): the
    // UNIT query is shifted into the candidate cell's mean-centered geometry
    // before the LUT lookup (IVFADC, cosine-adapted)
    // OPQ indexes rotate the (shifted) query into code space first —
    // orthogonal R preserves the L2 the ADC LUTs approximate
    // The flattened LUT materializes on the PROBE rows — it depends only on
    // (q_id, cell), so it is computed once per probe, not per candidate;
    // candidates then pay m array lookups each (Quantize.pqAdcFromLut)
    val probesLut = probes.withColumn("lutf",
      graft.operators.Quantize.pqLutFlat({
        val shifted =
          if (residual)
            zip_with(transform(col("qv"), _ / col("qn")),
              element_at(shiftLit, col("cell") + 1), _ - _)
          else col("qv").cast("array<double>")
        if (local)
          call_function("mat_vec",
            element_at(localRotLit, col("cell") + 1),
            shifted.cast("array<double>"))
        else if (opq) graft.operators.Quantize.rotate(shifted, rotation)
        else shifted
      }, cbs))
    // bounded-heap ADC pre-rank instead of the rank window (see knnBruteForce)
    val pool = topKExplode(
      codesScan.join(probesLut, "cell")
        .withColumn("adist",
          graft.operators.Quantize.pqAdcFromLut(col("lutf"), col("codes"),
            m, cbs.head.length)),
      Seq(col("q_id")), col("adist"), firstDesc = false, col("id"), Nil,
      rerank)
      .select("q_id", "id") // narrow: ids only re-join vectors

    // exact rerank: vectors of the pool only (same pruned partitions)
    val vecScan = spark.read.parquet(s"$path/cells")
      .filter(col("cell").isin(probedCells: _*))
      .select(col("id"), col("v"), col("nrm"))
    val sims = pool.join(vecScan, "id").join(q, "q_id")
      .withColumn("sim", dot(col("v"), col("qv")) / (col("nrm") * col("qn")))
    topKExplode(sims, Seq(col("q_id")), col("sim"), firstDesc = true,
      col("id"), Nil, k)
      .select(col("q_id"), col("id"), col("sim"), col("rnk"))
  }
}
