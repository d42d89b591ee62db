package graft.operators

import graft.SparkSpecBase
import org.apache.spark.sql.functions._

/** Persist-lifecycle gate (r8 verdict item 5 / ADVICE r8): after a
  * materialize-and-release call path, NO intermediate persisted blocks may
  * remain — only (at most) the result's own eagerly-checkpointed RDD, whose
  * blocks are ContextCleaner-managed (they free when the caller drops the
  * DataFrame, unlike CacheManager entries which pin until session end). */
class CacheLifecycleSpec extends SparkSpecBase {
  import spark.implicits._

  private def docs = (0 until 120).map { i =>
    val fam = i % 12
    (i.toLong, s"alpha bravo charlie delta echo fam$fam token$i golf hotel " +
      s"india juliet kilo lima fam$fam mike november oscar")
  }.toDF("doc_id", "text")

  private def persistedIds: Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  private def withDelta(body: => Unit): Set[Int] = {
    val before = persistedIds
    body
    persistedIds -- before
  }

  test("CacheScope.releasing(jaccardPairs) leaves no intermediate blocks") {
    val plain = Dedup.jaccardPairs(docs, "doc_id", "text", 3, 0.3,
      maxDocFreq = Some(50L))
      .orderBy("id_a", "id_b").collect().toSeq
    // plain call: intermediates persist (documented one-shot default)
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = true))
    val delta = withDelta {
      val released = CacheScope.releasing(
        Dedup.jaccardPairs(docs, "doc_id", "text", 3, 0.3,
          maxDocFreq = Some(50L)))
      val got = released.orderBy("id_a", "id_b").collect().toSeq
      assert(got == plain, "released result differs from plain result")
      assert(got.nonEmpty)
    }
    assert(delta.size <= 1, // at most the result's own checkpoint RDD
      s"intermediates survived the releasing scope: $delta")
  }

  test("trainScoreLr: bare call shares the feature table, releasing drops it") {
    val labeled = docs.withColumn("label", col("doc_id") % 2 === 0)
    // bare call (one-shot/bench default, the pair-generator convention since
    // r11): the feature table stays warm — at most its CacheManager entry
    // plus the result's own checkpoint RDD
    val delta = withDelta {
      val scored = Classifier.trainScoreLr(labeled, "doc_id", "text",
        col("label"), buckets = 64, iters = 2)
      assert(scored.count() == 120)
    }
    assert(delta.size <= 2,
      s"trainScoreLr left entries beyond feature table + checkpoint: $delta")
    // a second plan-identical call (the p57/p62/p71 family) must REUSE the
    // warm feature table: only its own checkpoint RDD may appear
    val delta2 = withDelta {
      val scored = Classifier.trainScoreLr(labeled, "doc_id", "text",
        col("label"), buckets = 64, iters = 2)
      assert(scored.count() == 120)
    }
    assert(delta2.size <= 1,
      s"second trainScoreLr call re-persisted the feature table: $delta2")
    // long-lived sessions: the releasing scope drops the feature-table
    // CacheManager entry; only ContextCleaner-managed checkpoint RDDs remain
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = true))
    val delta3 = withDelta {
      val scored = CacheScope.releasing(
        Classifier.trainScoreLr(labeled, "doc_id", "text",
          col("label"), buckets = 64, iters = 2))
      assert(scored.count() == 120)
    }
    // inner trainScoreLr checkpoint + releasing-scope checkpoint
    assert(delta3.size <= 2,
      s"releasing(trainScoreLr) left the feature table cached: $delta3")
  }

  test("releasing(snapshotDedupNear) drops both shingle-set caches") {
    val corpus = docs.filter($"doc_id" < 60)
    val snap = docs.filter($"doc_id" >= 60)
    // plain call is the documented lazy default (one-shot/bench path): the
    // r10 fix reverted the unconditional eager release that regressed p72.
    val plain = Dedup.snapshotDedupNear(snap, corpus, "doc_id", "text",
      n = 3, minJaccard = 0.3).select("doc_id").orderBy("doc_id").collect().toSeq
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = true))
    val delta = withDelta {
      val out = CacheScope.releasing(
        Dedup.snapshotDedupNear(snap, corpus, "doc_id", "text",
          n = 3, minJaccard = 0.3))
      val got = out.select("doc_id").orderBy("doc_id").collect().toSeq
      assert(got == plain, "released result differs from plain result")
    }
    assert(delta.size <= 1,
      s"snapshotDedupNear left its shingle sets persisted: $delta")
  }

  test("releasing drops tracked persists when the body throws") {
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = true))
    val delta = withDelta {
      intercept[RuntimeException] {
        CacheScope.releasing {
          CacheScope.persistTracked(docs).count() // tracked + materialized
          throw new RuntimeException("operator failure")
        }
      }
    }
    assert(delta.isEmpty,
      s"a failed releasing body pinned CacheManager entries: $delta")
  }
}
