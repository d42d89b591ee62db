package graft.operators

import graft.SparkSpecBase
import org.apache.spark.sql.functions._
import scala.util.Random

/** Connected components (large-star/small-star) vs a driver-side union-find
  * ground truth — fixed topologies that stress the alternation (chains force
  * many hops, stars finish immediately) plus seeded random graphs. */
class ComponentsSpec extends SparkSpecBase {
  import spark.implicits._

  private def unionFind(n: Int, edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = Array.tabulate(n.toLong.toInt)(_.toLong)
    def find(x: Long): Long = {
      var r = x
      while (parent(r.toInt) != r) r = parent(r.toInt)
      var c = x
      while (parent(c.toInt) != c) { val nx = parent(c.toInt); parent(c.toInt) = r; c = nx }
      r
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb).toInt) = math.min(ra, rb)
    }
    // canonical label = min id in component = root under min-merging
    (0L until n).map(v => v -> find(v)).toMap
  }

  private def run(edges: Seq[(Long, Long)]): Map[Long, Long] =
    Components.connectedComponents(edges.toDF("a", "b"), "a", "b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("chain, cycle, star, and disjoint cliques resolve to min-id components") {
    // one 8-node chain (worst case for naive propagation), a 5-cycle,
    // a star centered high (20 -> 21..24), two triangles
    val edges = Seq[(Long, Long)](
      (0, 1), (1, 2), (2, 3), (3, 4), (4, 5), (5, 6), (6, 7), // chain
      (10, 11), (11, 12), (12, 13), (13, 14), (14, 10),       // cycle
      (24, 21), (24, 22), (24, 23), (24, 20),                 // star, hub=24
      (30, 31), (31, 32), (32, 30), (40, 41), (41, 42), (42, 40))
    val got = run(edges)
    assert((0L to 7L).forall(got(_) == 0L))
    assert((10L to 14L).forall(got(_) == 10L))
    assert((20L to 24L).forall(got(_) == 20L))
    assert((30L to 32L).forall(got(_) == 30L))
    assert((40L to 42L).forall(got(_) == 40L))
    // only nodes incident to an edge appear
    assert(got.keySet == edges.flatMap(e => Seq(e._1, e._2)).toSet)
  }

  test("self-loops and duplicate/reversed edges are harmless") {
    val got = run(Seq[(Long, Long)]((1, 1), (2, 3), (3, 2), (2, 3), (4, 4)))
    assert(got == Map(2L -> 2L, 3L -> 2L))
  }

  test("random graphs match union-find") {
    val rnd = new Random(42)
    for (trial <- 1 to 3) {
      val n = 60
      val edges = Seq.fill(45)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter(e => e._1 != e._2)
      val truth = unionFind(n, edges)
      val touched = edges.flatMap(e => Seq(e._1, e._2)).toSet
      val got = run(edges)
      assert(got == truth.filter(kv => touched.contains(kv._1)),
        s"trial $trial mismatch")
    }
  }

  test("a 300-node chain converges within the O(log n) round budget") {
    // the worst case for label propagation (O(diameter) = 300 rounds);
    // large-star/small-star must finish in ~log2(300)+c rounds — maxIter 14
    // makes the spec FAIL (require inside the operator) if convergence is
    // ever worse than logarithmic
    val edges = (0L until 299L).map(i => (i, i + 1))
    val got = Components.connectedComponents(edges.toDF("a", "b"), "a", "b",
      maxIter = 14)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.size == 300 && got.values.forall(_ == 0L))
  }

  test("reliable checkpointDir path matches localCheckpoint results") {
    val dir = java.nio.file.Files.createTempDirectory("cc_ckpt").toString
    val callerDir = java.nio.file.Files.createTempDirectory("cc_caller").toString
    spark.sparkContext.setCheckpointDir(callerDir)
    val edges = Seq[(Long, Long)](
      (0, 1), (1, 2), (2, 3), (10, 11), (11, 12), (20, 21))
    val got = Components.connectedComponents(edges.toDF("a", "b"), "a", "b",
        checkpointDir = Some(dir))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == run(edges))
    // the reliable checkpoint actually wrote RDD blocks there
    val wrote = new java.io.File(dir).listFiles()
    assert(wrote != null && wrote.nonEmpty, "no checkpoint data written")
    // superseded rounds pruned: at most one rdd-* dir survives per run
    import scala.sys.process._
    val rddDirs = Seq("bash", "-c", s"find $dir -maxdepth 3 -type d -name 'rdd-*'").!!
      .trim.split("\n").filter(_.nonEmpty)
    assert(rddDirs.length <= 1, s"stale round checkpoints: ${rddDirs.toSeq}")
    // the caller's checkpoint dir is restored, not left repointed
    assert(spark.sparkContext.getCheckpointDir.exists(_.contains(
      new java.io.File(callerDir).getName)),
      s"checkpoint dir not restored: ${spark.sparkContext.getCheckpointDir}")
  }

  test("empty edge set (all self-loops) converges immediately") {
    val got = run(Seq[(Long, Long)]((5, 5), (6, 6)))
    assert(got.isEmpty)
  }

  test("dedupClusters assigns singletons to themselves and sizes clusters") {
    val docs = (0L to 9L).toDF("doc_id")
    val pairs = Seq[(Long, Long)]((1, 3), (3, 5), (7, 8)).toDF("id_a", "id_b")
    val out = Components.dedupClusters(docs, "doc_id", pairs)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(out == Set(
      (0L, 0L, 1L), (1L, 1L, 3L), (3L, 1L, 3L), (5L, 1L, 3L),
      (2L, 2L, 1L), (4L, 4L, 1L), (6L, 6L, 1L),
      (7L, 7L, 2L), (8L, 7L, 2L), (9L, 9L, 1L)))
  }

  test("dedupClustersGuarded drops hub nodes wholesale, keeps clean families") {
    val docs = (0L to 9L).toDF("doc_id")
    // node 0 is a hub stitching two families {1,2} and {3,4} together;
    // {5,6,7} is a clean triangle (max degree 2) and must survive intact
    val pairs = Seq[(Long, Long)](
      (0, 1), (0, 2), (0, 3), (0, 4), (1, 2), (3, 4),
      (5, 6), (6, 7), (5, 7)).toDF("id_a", "id_b")
    val out = Components.dedupClustersGuarded(docs, "doc_id", pairs,
        maxDegree = 3L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(out == Set(
      (0L, 0L, 1L),                               // hub → singleton
      (1L, 1L, 2L), (2L, 1L, 2L),                 // family survives sans hub
      (3L, 3L, 2L), (4L, 3L, 2L),
      (5L, 5L, 3L), (6L, 5L, 3L), (7L, 5L, 3L),   // clean triangle intact
      (8L, 8L, 1L), (9L, 9L, 1L)))
    // unguarded: the hub merges everything into one component of 5
    val unguarded = Components.dedupClusters(docs, "doc_id", pairs)
      .filter($"doc_id" === 0L).collect().head.getLong(2)
    assert(unguarded == 5L)
  }

  test("cluster_size comes from a count window, not a second join (one exchange)") {
    // the r12 assign shape: docs left-join components, then cluster_size as
    // count() OVER (PARTITION BY cluster_id) — the old groupBy + join-back
    // paid a second shuffle/broadcast for the same rows (guide §2.4)
    val docs = (0L to 9L).toDF("doc_id")
    val pairs = Seq[(Long, Long)]((1, 3), (3, 5), (7, 8)).toDF("id_a", "id_b")
    val df = Components.dedupClusters(docs, "doc_id", pairs)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("Window"), plan.take(2000))
    // exactly ONE join remains in the assign tail (the left assignment join)
    assert("Join|BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin".r
      .findAllIn(plan).size <= 2, plan.take(2000))
    // and the rows are unchanged vs the aggregate definition of size
    val out = df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(out == Set(
      (0L, 0L, 1L), (1L, 1L, 3L), (3L, 1L, 3L), (5L, 1L, 3L),
      (2L, 2L, 1L), (4L, 4L, 1L), (6L, 6L, 1L),
      (7L, 7L, 2L), (8L, 7L, 2L), (9L, 9L, 1L)))
  }

  test("dedupClustersGuarded degree counts DISTINCT neighbors (dup pairs don't inflate)") {
    val docs = (0L to 3L).toDF("doc_id")
    // (0,1) listed 3 times in both orders: degree of 0 must stay 2
    val pairs = Seq[(Long, Long)]((0, 1), (1, 0), (0, 1), (0, 2), (2, 3))
      .toDF("id_a", "id_b")
    val out = Components.dedupClustersGuarded(docs, "doc_id", pairs,
        maxDegree = 2L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(out == Set((0L, 0L, 4L), (1L, 0L, 4L), (2L, 0L, 4L), (3L, 0L, 4L)))
  }
}
