package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed connected components over an edge list — the clustering step
  * a production dedup pipeline needs AFTER pair generation: near-dup pairs
  * (p04/p05/p06/p19) are edges, and a duplicate CLUSTER is a connected
  * component (A~B, B~C ⇒ {A,B,C} even when A≁C directly). The reference has
  * no graph operator at all; this is part of the beyond-reference
  * training-data tier (SURVEY.md §7.5).
  *
  * Algorithm: alternating large-star / small-star (Kiveris et al.,
  * "Connected Components in MapReduce and Beyond", SoCC'14) — each round is
  * two key-shuffles (groupBy the edge endpoint) and the edge set converges
  * to stars centered at each component's minimum id in O(log n) rounds.
  * That is the 100 TB shape: no driver-side graph, no O(diameter)
  * label-propagation rounds, per-round cost bounded by the (shrinking) edge
  * list. Lineage is cut each round (an iterative DataFrame loop otherwise
  * compounds the plan until planning dominates) — `localCheckpoint` by
  * default, or a reliable checkpoint when `checkpointDir` is given. The cut
  * is LAZY and the round's ONE aggregate (star-fixpoint test) is the action
  * that materializes it, so on the default localCheckpoint path each round
  * is exactly one job. On the RELIABLE path (`checkpointDir` set) the same
  * round is two jobs (ADVICE r11): `checkpoint(eager = false)` does not
  * persist the RDD, so after the fixpoint aggregate's job, `doCheckpoint`
  * launches a second job that recomputes the round's plan to write the
  * checkpoint files — the price of the on-storage recovery copy.
  */
object Components {

  /** (id, component) for every node incident to at least one edge, where
    * `component` is the minimum node id in the node's connected component.
    * Nodes absent from `edges` (singletons) are the caller's to add back —
    * see [[dedupClusters]] for the canonical coalesce pattern.
    *
    * `checkpointDir`: when set, each round's edge set is cut with a RELIABLE
    * checkpoint under a fresh per-run subdirectory of it — on a real
    * cluster an executor loss mid-loop then recovers from the checkpoint
    * instead of recomputing the whole round history. The SparkContext
    * checkpoint dir is repointed for the duration of the loop and restored
    * afterwards (if one was set); superseded rounds' files are deleted as
    * soon as the next round's checkpoint materializes, so the run holds at
    * most two rounds' edge copies on storage — the FINAL round's files
    * remain (the returned DataFrame reads them) and are the caller's to
    * delete once the result is consumed. The default `localCheckpoint`
    * (executor-local blocks) is faster and fine single-node / for short
    * loops. */
  def connectedComponents(edges: DataFrame, srcCol: String, dstCol: String,
                          maxIter: Int = 50,
                          checkpointDir: Option[String] = None): DataFrame = {
    // canonical undirected edge list, self-loops dropped
    val canon = edges.select(
        least(col(srcCol), col(dstCol)).cast("long").as("lo"),
        greatest(col(srcCol), col(dstCol)).cast("long").as("hi"))
      .filter(col("lo") =!= col("hi")).distinct()
    connectedComponentsPrecanonical(canon, maxIter, checkpointDir)
  }

  /** [[connectedComponents]] over an ALREADY-canonical edge list — (lo, hi)
    * longs with lo < hi, no duplicates. Callers that just built such a list
    * (e.g. [[dedupClustersGuarded]]'s degree filter over a canonicalized
    * pair set) skip the redundant least/greatest/filter/distinct pass — one
    * full-edge-list shuffle (ADVICE r10).
    *
    * `cutInput = false` skips the EAGER initial lineage cut (r12, guide
    * §2.4 remove jobs outright): round 0 then reads `canon`'s own plan.
    * Only safe when the input's re-references are cheap — i.e. `canon` is
    * already persisted (the guarded path caches the canonical edge list) or
    * ends in a reusable exchange (a `distinct`) — because round 0
    * references the edge list from more than one query stage. The cached /
    * ReusedExchange input is materialized exactly once (the first stage
    * that needs it is a dependency of every other reference), so this
    * removes one whole job per CC invocation without the doubled-subtree
    * hazard that made the LAZY initial cut regress in r11 (a lazy
    * localCheckpoint REPLACES the plan with an RDD scan, destroying
    * exchange reuse; keeping the plan preserves it). The reliable-
    * checkpoint path ignores the flag: its on-storage input copy is the
    * recovery contract. */
  private[operators] def connectedComponentsPrecanonical(
      canon: DataFrame, maxIter: Int = 50,
      checkpointDir: Option[String] = None,
      cutInput: Boolean = true): DataFrame = {
    val spark = canon.sparkSession
    import spark.implicits._
    val sc = spark.sparkContext

    val savedCheckpointDir = sc.getCheckpointDir
    val runDir = checkpointDir.map(d => s"$d/cc-${java.util.UUID.randomUUID()}")
    // Per-round lineage cut, LAZY: the round's ONE action (the fixpoint
    // aggregate below) materializes the checkpoint as a side effect —
    // localCheckpoint marks the RDD persisted, the aggregate's scan
    // populates the blocks, and SparkContext.runJob's doCheckpoint then
    // promotes them. The old eager cut paid a SEPARATE count-job per round
    // (2 jobs/round → 1; at bench scale the CC loop is pure per-job fixed
    // cost, VERDICT r10 item 1). Reliable checkpoints (checkpointDir set)
    // keep their write-after-first-action semantics; pruning superseded
    // rounds moves AFTER the materializing action.
    val cutLazy: DataFrame => DataFrame = runDir match {
      case Some(dir) =>
        sc.setCheckpointDir(dir)
        df => df.checkpoint(eager = false)
      case None => df => df.localCheckpoint(eager = false)
    }
    def pruneAfterMaterialize(): Unit =
      runDir.foreach(dir => pruneOldCheckpoints(sc, dir))

    // initial cut stays EAGER when it happens at all: round 0 references the
    // input from several query stages, and a LAZY cut would race them into
    // computing the caller's whole pair pipeline more than once inside one
    // job (measured in r11: p77 5 s → 17 s; reverted same hour); the
    // reliable path keeps its recoverable on-storage copy of the input edges
    var e = runDir match {
      case Some(_)             => canon.checkpoint()
      case None if !cutInput   => canon
      case None                => canon.localCheckpoint()
    }
    var converged = false
    var it = 0
    while (!converged && it < maxIter) {
      // large-star: per node u over its FULL neighborhood Γ(u), connect every
      // strictly-larger neighbor to m = min(Γ(u) ∪ {u}). Shape: the per-node
      // min is a partial-aggregatable groupBy (map-side combine — NOT
      // collect_list, which would materialize a hot node's whole
      // neighborhood in one buffer) re-joined onto the neighbor list; AQE
      // handles join skew on celebrity nodes.
      //
      // NO distinct here: the v > u filter keeps exactly one direction of
      // each canonical edge, so large has |e| rows (no blowup); duplicate
      // (lo, hi) VALUES are harmless to the small-star min and are removed
      // by the round's final distinct — dropping the intermediate distinct
      // removes one full-edge-list exchange per round (guide §2.4).
      //
      // Both directions come from ONE scan via explode (r12): the old
      // two-branch union read the edge list twice per reference — with
      // cutInput=false that would double the cache/exchange probes, and
      // even on the checkpointed path it halves the scan tasks. Same row
      // multiset as union(lo→hi, hi→lo), bit for bit.
      val nbrs = e.select(explode(array(
          struct($"lo".as("u"), $"hi".as("v")),
          struct($"hi".as("u"), $"lo".as("v")))).as("s"))
        .select($"s.u".as("u"), $"s.v".as("v"))
      val mins = nbrs.groupBy("u").agg(min("v").as("mn"))
      val large = nbrs.join(mins, Seq("u"))
        .filter($"v" > $"u")
        .select($"v", least($"u", $"mn").as("m"))
        .select(least($"v", $"m").as("lo"), greatest($"v", $"m").as("hi"))
        .filter($"lo" =!= $"hi")

      // small-star: per node u over its SMALLER neighbors Γ⁻(u) (each
      // canonical edge contributes hi→lo), connect them AND u itself to
      // m = min(Γ⁻(u) ∪ {u}) — same min+join shape
      val smins = large.groupBy("hi").agg(min("lo").as("m"))
      val small = cutLazy(large.join(smins, Seq("hi"))
        .select(least($"lo", $"m").as("lo"), greatest($"lo", $"m").as("hi"))
        .union(smins.select($"m".as("lo"), $"hi"))
        .filter($"lo" =!= $"hi").distinct())

      // fixpoint = the edge set is a union of STARS centered at component
      // minima: every node is either a center (never a hi) or a leaf
      // (hi exactly once, never a lo). Star sets are exactly the fixpoints
      // of large-star/small-star (Kiveris et al. §3). This ONE aggregate is
      // also the action that materializes the round's lazy checkpoint — the
      // round is exactly one job.
      val viol = small
        .select(explode(array(
          struct($"lo".as("v"), lit(1L).as("aslo"), lit(0L).as("ashi")),
          struct($"hi".as("v"), lit(0L).as("aslo"), lit(1L).as("ashi")))).as("s"))
        .groupBy($"s.v")
        .agg(sum($"s.aslo").as("lo_n"), sum($"s.ashi").as("hi_n"))
        .agg(coalesce(sum(when($"hi_n" === 0 || ($"hi_n" === 1 && $"lo_n" === 0), 0L)
          .otherwise(1L)), lit(0L)).as("violations"))
        .head().getLong(0)
      pruneAfterMaterialize()
      converged = viol == 0L
      e = small
      it += 1
    }
    require(converged, s"connectedComponents did not converge in $maxIter rounds")
    // restore the caller's checkpoint dir (a library must not leave a
    // global repointed); the final round's files under runDir stay — the
    // result below reads them
    if (runDir.isDefined) savedCheckpointDir.foreach(sc.setCheckpointDir)

    // stars: every hi hangs off its component's minimum; minima map to
    // themselves — one scan via explode (same single-scan rationale as nbrs)
    e.select(explode(array(
        struct($"hi".as("id"), $"lo".as("component")),
        struct($"lo".as("id"), $"lo".as("component")))).as("s"))
      .select($"s.id".as("id"), $"s.component".as("component"))
      .groupBy("id").agg(min("component").as("component"))
  }

  /** Delete every checkpointed RDD under `runDir` except the newest: once
    * round k's checkpoint has materialized, round k-1's files are
    * unreachable (the new lineage roots at k), so a long loop holds at most
    * two rounds' edge copies instead of maxIter. */
  private def pruneOldCheckpoints(sc: org.apache.spark.SparkContext,
                                  runDir: String): Unit = {
    val root = new org.apache.hadoop.fs.Path(runDir)
    val fs = root.getFileSystem(sc.hadoopConfiguration)
    if (!fs.exists(root)) return
    // layout: runDir/<context-uuid>/rdd-<id>
    val rdds = Option(fs.globStatus(new org.apache.hadoop.fs.Path(runDir, "*/rdd-*")))
      .getOrElse(Array.empty)
    if (rdds.length <= 1) return
    rdds.sortBy(s => s.getPath.getName.stripPrefix("rdd-").toIntOption.getOrElse(-1))
      .dropRight(1)
      .foreach(s => fs.delete(s.getPath, true))
  }

  /** [[dedupClusters]] behind a HUB-DEGREE guard — the skew cap for the
    * clustering family (what `maxBucket`/`maxDocFreq` are to the pair
    * generators): every node whose DISTINCT-neighbor degree exceeds
    * `maxDegree` is removed from the edge set wholesale (deterministic —
    * no sampling, no order dependence) and survives as a singleton
    * cluster.
    *
    * Why this is the right guard for near-dup graphs: similarity is
    * quasi-transitive, so genuine duplicate families are quasi-CLIQUES —
    * a member of a family of size F has degree ≈ F-1, and a degree cap is
    * in effect a family-size cap. The giant components the sf10 probe
    * measured (straggler skew 8→35 on uncapped p24 input) grow through
    * boilerplate hub documents whose pair fan-out stitches unrelated
    * families together; production pipelines drop exactly those as spam
    * edges. Dropping the node (not just trimming its edge list) keeps the
    * guard symmetric and oracle-expressible.
    *
    * Scale shape: degree is one partial-agg groupBy over the canonical
    * edge list; the hub set is BOUNDED by |edges|·2/maxDegree (each hub
    * absorbs > maxDegree edge endpoints), so the two anti-joins broadcast
    * at any realistic cap; the CC loop then runs on a graph whose max
    * degree — and for quasi-clique inputs, max component — is capped. */
  def dedupClustersGuarded(docs: DataFrame, idCol: String, pairs: DataFrame,
                           aCol: String = "id_a", bCol: String = "id_b",
                           maxDegree: Long = 64L,
                           checkpointDir: Option[String] = None): DataFrame = {
    val e = CacheScope.persistTracked(pairs.select(
        least(col(aCol), col(bCol)).cast("long").as("lo"),
        greatest(col(aCol), col(bCol)).cast("long").as("hi"))
      .filter(col("lo") =!= col("hi")).distinct())
    // one cache scan for the degree count (explode, not a two-branch union —
    // r12, guide §2.3 project/scan less), and BOTH anti-joins probe the SAME
    // hubs plan with no per-side rename so the two broadcast exchanges are
    // structurally identical and ReuseExchange builds hubs once (r12)
    val deg = e.select(explode(array(col("lo"), col("hi"))).as("v"))
      .groupBy("v").agg(count(lit(1)).as("n"))
    val hubs = deg.filter(col("n") > maxDegree).select("v")
    val kept = e.join(hubs, col("lo") === col("v"), "left_anti")
      .join(hubs, col("hi") === col("v"), "left_anti")
      .select(col("lo"), col("hi"))
    // `kept` is already canonical (lo < hi, distinct — anti-joins only drop
    // rows from the canonicalized `e`), so skip dedupClusters' re-canonical
    // distinct — one redundant full-edge-list shuffle (ADVICE r10).
    // cutInput stays TRUE: the r12 A/B (CcProbe, warm) measured the no-cut
    // variant at round-0 9.3 s vs 1.4 s and 57 vs 33 jobs — AQE re-plans
    // the kept subtree (cache scan + anti-joins) per stage reference
    // instead of reusing it, so the eager cut's one job is the cheaper shape
    assignClusters(docs, idCol,
      connectedComponentsPrecanonical(kept, checkpointDir = checkpointDir))
  }

  /** Per-document cluster assignment: every doc mapped to its near-dup
    * cluster (cluster id = min doc id in the component; singletons are their
    * own cluster), with the cluster size alongside — the standard "pick one
    * survivor per cluster / weight by cluster size" dedup input. */
  def dedupClusters(docs: DataFrame, idCol: String, pairs: DataFrame,
                    aCol: String = "id_a", bCol: String = "id_b",
                    checkpointDir: Option[String] = None): DataFrame =
    assignClusters(docs, idCol,
      connectedComponents(pairs, aCol, bCol, checkpointDir = checkpointDir))

  /** (id, component) → per-doc (idCol, cluster_id, cluster_size) with
    * singletons coalesced to their own id — shared tail of
    * [[dedupClusters]] and [[dedupClustersGuarded]]. */
  private def assignClusters(docs: DataFrame, idCol: String,
                             cc0: DataFrame): DataFrame = {
    val cc = cc0.withColumnRenamed("id", idCol)
    val assigned = docs.select(col(idCol))
      .join(cc, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("component"), col(idCol)).as("cluster_id"))
    // cluster_size as a count window over cluster_id instead of a
    // groupBy + join-back: same rows, ONE exchange by cluster_id and no
    // second join/broadcast (r12, guide §2.4 — a window partitioned like
    // the aggregation it replaces shares the shuffle). Scale-safe: window
    // partitions are near-dup cluster sizes, which the pair generators'
    // caps / the degree guard bound far below partition scale (same
    // argument as keepBestQuality's rank window).
    val w = org.apache.spark.sql.expressions.Window.partitionBy("cluster_id")
    assigned
      .select(col(idCol), col("cluster_id"),
        count(lit(1)).over(w).as("cluster_size"))
  }
}
