package graft.operators

import graft.SparkSpecBase
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

/** Correctness specs for the approximate / non-SQL-expressible operators:
  * MinHash-LSH vs exact Jaccard, SimHash behavior on perturbed docs, ANN
  * recall vs brute force, as-of join vs a hand oracle, multimodal
  * determinism. Near-duplicates are synthesized by perturbing the driver
  * corpus (test-side only; inputs themselves are never regenerated). */
class DedupSpec extends SparkSpecBase {
  import spark.implicits._

  /** documents + a near-dup of each doc 0..9 (drop last 2 words) and an exact
    * dup of doc 0. */
  private lazy val corpus = {
    val docs = spark.read.parquet(sf() + "/documents.parquet")
      .select("doc_id", "text").cache()
    val near = docs.filter($"doc_id" < 10)
      .select(($"doc_id" + 10000).as("doc_id"),
        expr("array_join(slice(split(text, ' '), 1, size(split(text, ' ')) - 2), ' ')").as("text"))
    val exact = docs.filter($"doc_id" === 0)
      .select(($"doc_id" + 20000).as("doc_id"), $"text")
    docs.unionByName(near).unionByName(exact).cache()
  }

  test("dedupExact keeps one row per distinct text (min id)") {
    val out = Dedup.dedupExact(corpus, "doc_id", "text")
    assert(out.count() == corpus.count() - 1) // one exact dup removed
    assert(out.filter($"doc_id" === 20000).count() == 0)
    assert(out.filter($"doc_id" === 0).count() == 1)
  }

  test("minhash-LSH finds every pair exact Jaccard finds (high threshold)") {
    val exact = Dedup.jaccardPairs(corpus, "doc_id", "text", 3, 0.7)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.minhashLshPairs(corpus, "doc_id", "text", 3, 0.7)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty, "synthesized near-dups should produce pairs")
    // verification makes precision exact; recall at j>=0.7 with b=16,r=4
    // is >0.998 per the LSH curve — on this corpus it must be total
    assert(lsh == exact, s"missing=${exact -- lsh} spurious=${lsh -- exact}")
  }

  test("DISK_ONLY storage level yields identical pairs (100 TB spill path)") {
    import org.apache.spark.storage.StorageLevel
    val default = Dedup.minhashLshPairs(corpus, "doc_id", "text", 3, 0.7)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val disk = Dedup.minhashLshPairs(corpus, "doc_id", "text", 3, 0.7,
        storage = StorageLevel.DISK_ONLY)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(disk == default)
    val diskJac = Dedup.jaccardPairs(corpus, "doc_id", "text", 3, 0.7,
        maxDocFreq = Some(50), storage = StorageLevel.DISK_ONLY)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(diskJac.nonEmpty)
  }

  test("rowMinhashSig (map-only) equals the minhash_sketch aggregate signature") {
    val sets = Dedup.shingleSets(corpus, "doc_id", "text", 3)
    val agg = Dedup.minhashSigTable(sets, 64).collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val row = sets.select($"id", Dedup.rowMinhashSig($"shingles", 64).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(row.keySet == agg.keySet)
    row.foreach { case (id, sig) => assert(sig == agg(id), s"sig mismatch doc $id") }
  }

  test("minhash signatures of identical texts are identical") {
    val sets = Dedup.shingleSets(corpus.filter($"doc_id".isin(0, 20000)), "doc_id", "text", 3)
    val sigs = Dedup.minhashSigTable(sets, 64)
      .orderBy("id").collect().map(_.getSeq[Long](1))
    assert(sigs.length == 2 && sigs(0) == sigs(1))
  }

  test("dedupNear removes the synthesized near-dups, keeps one survivor each") {
    val out = Dedup.dedupNear(corpus, "doc_id", "text", minJaccard = 0.7)
    // every synthesized near-dup (10000+) and the exact dup (20000) lose to
    // their lower-id original
    assert(out.filter($"doc_id" >= 10000).count() == 0)
    // survivors = corpus minus the higher ids of ALL near-dup pairs (the
    // original corpus has natural near-dups too)
    val losers = Dedup.minhashLshPairs(corpus, "doc_id", "text", 3, 0.7)
      .select("id_b").distinct().count()
    assert(out.count() == corpus.count() - losers)
  }

  test("simhash: identical texts collide; perturbed docs are close") {
    val pairs = Dedup.simhashPairs(corpus, "doc_id", "text", maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    // the exact dup pair must appear at hamming 0
    assert(pairs.exists(p => p._1 == 0 && p._2 == 20000 && p._3 == 0))
  }

  test("decontaminate removes exactly the docs sharing shingles with the benchmark") {
    // bench = originals 0..4; corpus = everything else incl. the near-dups
    // of docs 0..9 (those of 0..4 share shingles with the bench -> removed)
    val bench = corpus.filter($"doc_id" < 5)
    val train = corpus.filter($"doc_id" >= 5)
    val hits = Dedup.contaminationHits(train, "doc_id", "text", bench, "text")
      .collect().map(_.getLong(0)).toSet
    // the near-dups of bench docs (ids 10000..10004) must be caught
    (10000L to 10004L).foreach(id => assert(hits.contains(id), s"near-dup $id not flagged"))
    val survivors = Dedup.decontaminate(train, "doc_id", "text", bench, "text")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // survivors and hits partition the corpus
    assert(survivors.intersect(hits).isEmpty)
    assert((survivors ++ hits) == train.select("doc_id").collect().map(_.getLong(0)).toSet)
  }

  test("jaccardPairs maxDocFreq cap drops hot shingles but keeps output shape") {
    val capped = Dedup.jaccardPairs(corpus, "doc_id", "text", 3, 0.7, maxDocFreq = Some(50))
    assert(capped.columns.toSeq == Seq("id_a", "id_b", "inter", "uni", "jaccard"))
    capped.collect() // runs
  }

  test("minhashLshPairs maxBucket drops boilerplate-cluster buckets, keeps the rest") {
    import org.apache.spark.sql.functions._
    // inject a 6-copy boilerplate cluster: its docs share EVERY band bucket,
    // so every cluster bucket has size >= 6 and a cap of 5 removes the
    // 15 intra-cluster pairs; pairs among the original docs must survive
    val boiler = (0 until 6).map(i =>
      (900000L + i, "the same boilerplate footer text repeated verbatim here"))
      .toDF("doc_id", "text")
    val df = corpus.select("doc_id", "text").unionByName(boiler)
    val uncapped = Dedup.minhashLshPairs(df, "doc_id", "text", 3, 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val capped = Dedup.minhashLshPairs(df, "doc_id", "text", 3, 0.5,
        maxBucket = Some(5L))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val boilerPairs = uncapped.filter(p => p._1 >= 900000L && p._2 >= 900000L)
    assert(boilerPairs.size == 15, s"expected the 6-clique, got ${boilerPairs.size}")
    assert(capped.intersect(boilerPairs).isEmpty, "capped buckets still paired")
    assert(capped == uncapped -- boilerPairs,
      "cap must only remove the oversized buckets' pairs")
  }

  test("simhashPairs maxBucket caps chunk buckets deterministically") {
    val capped = Dedup.simhashPairs(corpus, "doc_id", "text",
      maxHamming = 3, maxBucket = Some(100L))
    assert(capped.columns.toSeq == Seq("id_a", "id_b", "hamming"))
    capped.collect() // runs
  }

  // ---- snapshotDedup ------------------------------------------------------

  test("snapshotDedup: drops corpus-seen and keeps first-in-snapshot") {
    val snap = Seq(
      (10L, "alpha"), (11L, "alpha"),   // in-snapshot dup: keep 10
      (12L, "beta"),                    // already in corpus: drop
      (13L, "gamma"),                   // fresh: keep
      (14L, "delta"), (15L, "delta")    // in-snapshot dup of a fresh text
    ).toDF("doc_id", "text")
    val corpusFps = Seq("beta", "zeta").toDF("t")
      .select(TextOps.fingerprint($"t").as("fp"))
    val out = Dedup.snapshotDedup(snap, corpusFps, "doc_id", "text")
      .select("doc_id").as[Long].collect().sorted
    assert(out.toSeq == Seq(10L, 13L, 14L))
  }

  test("snapshotDedup: surviving fps appended to the corpus close the loop") {
    val snap1 = Seq((1L, "a"), (2L, "b")).toDF("doc_id", "text")
    val corpus0 = Seq.empty[String].toDF("fp")
    val kept1 = Dedup.snapshotDedup(snap1, corpus0, "doc_id", "text")
    assert(kept1.count() == 2)
    // next snapshot re-crawls "a": the appended fingerprints reject it
    val corpus1 = corpus0.unionByName(kept1.select("fp"))
    val snap2 = Seq((3L, "a"), (4L, "c")).toDF("doc_id", "text")
    val kept2 = Dedup.snapshotDedup(snap2, corpus1, "doc_id", "text")
      .select("doc_id").as[Long].collect().toSeq
    assert(kept2 == Seq(4L))
  }

  // ---- snapshotDedupNear --------------------------------------------------

  test("snapshotDedupNear: drops corpus near-dups and exact dups, keeps fresh") {
    val corpus = spark.read.parquet(sf() + "/documents.parquet")
      .select("doc_id", "text").filter($"doc_id" < 100)
    // snapshot: a near-dup of corpus doc 0 (last 2 words dropped), an exact
    // copy of corpus doc 1, a fresh unrelated doc, and a too-short doc
    val nearText = corpus.filter($"doc_id" === 0)
      .select(expr("array_join(slice(split(text, ' '), 1, " +
        "size(split(text, ' ')) - 2), ' ')")).as[String].head()
    val exactText = corpus.filter($"doc_id" === 1)
      .select("text").as[String].head()
    val snap = Seq(
      (1000L, nearText),
      (1001L, exactText),
      (1002L, "qq ww ee rr tt yy uu ii oo pp aa ss dd ff gg hh"),
      (1003L, "xy zz")).toDF("doc_id", "text")
    val kept = Dedup.snapshotDedupNear(snap, corpus, "doc_id", "text",
      n = 3, minJaccard = 0.5)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(kept == Seq(1002L, 1003L), kept)
  }

  test("snapshotDedupNear: maxBucket cap drops hot buckets whole (p32 contract)") {
    // a boilerplate cluster: 40 corpus copies of one text put its band
    // buckets far over the cap; the capped run must NOT match the snapshot
    // twin against them (the bucket is dropped whole), while the uncapped
    // run drops it
    val boiler = "aa bb cc dd ee ff gg hh ii jj kk ll mm nn oo pp"
    val corpus = (0L until 40L).map(i => (i, boiler)).toDF("doc_id", "text")
    val snap = Seq((1000L, boiler),
      (1001L, "zz yy xx ww vv uu tt ss rr qq pp oo nn mm ll kk"))
      .toDF("doc_id", "text")
    val uncapped = Dedup.snapshotDedupNear(snap, corpus, "doc_id", "text",
      n = 3, minJaccard = 0.5)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(uncapped == Seq(1001L), uncapped)
    val capped = Dedup.snapshotDedupNear(snap, corpus, "doc_id", "text",
      n = 3, minJaccard = 0.5, maxBucket = Some(10L))
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(capped == Seq(1000L, 1001L), capped)
  }
}

class SimilaritySpec extends SparkSpecBase {
  import spark.implicits._

  private lazy val emb = spark.read.parquet(sf() + "/embeddings.parquet").cache()

  test("knnBruteForce: self is rank 1 with sim ~ 1") {
    val out = Similarity.knnBruteForce(emb, "vec_id",
      emb.filter($"vec_id" < 3), "vec_id", "embedding", k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
    (0L until 3L).foreach { q =>
      val top = out.filter(_._1 == q).minBy(_._4)
      assert(top._2 == q && math.abs(top._3 - 1.0) < 1e-9)
    }
    assert(out.count(_._1 == 0L) == 5)
  }

  test("annLshTopK: every returned neighbor is genuine (sim matches brute force); rank-1 self found") {
    val bf = Similarity.knnBruteForce(emb, "vec_id", emb.filter($"vec_id" < 5),
      "vec_id", "embedding", 10)
      .select($"q_id", $"id", $"sim").collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    val ann = Similarity.annLshTopK(emb, "vec_id", emb.filter($"vec_id" < 5),
      "vec_id", "embedding", k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
    // self-match always in the same bucket -> rank 1 per query
    (0L until 5L).foreach { q =>
      assert(ann.exists(a => a._1 == q && a._2 == q && a._4 == 1), s"self missing for $q")
    }
    // any (q,id) that brute force also ranked must carry the identical sim
    ann.foreach { case (q, id, sim, _) =>
      bf.get((q, id)).foreach(bfSim => assert(bfSim == sim))
    }
  }

  test("hammingTopK: self at rank 1 (hamming 0); sims exact; recall measured") {
    val bf = Similarity.knnBruteForce(emb, "vec_id", emb.filter($"vec_id" < 5),
      "vec_id", "embedding", 10)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    val hq = Similarity.hammingTopK(emb, "vec_id", emb.filter($"vec_id" < 5),
      "vec_id", "embedding", k = 10, rerank = 150)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3), r.getInt(4)))
    (0L until 5L).foreach { q =>
      val self = hq.find(a => a._1 == q && a._2 == q)
      assert(self.exists(s => s._3 == 0 && s._5 == 1), s"self not rank-1/hamming-0 for $q")
    }
    hq.foreach { case (q, id, _, sim, _) =>
      bf.get((q, id)).foreach(bfSim => assert(bfSim == sim)) // exact same cosine
    }
    val recall = hq.count(a => bf.contains((a._1, a._2))).toDouble / bf.size
    assert(recall >= 0.5, s"hamming recall@10 $recall (rerank=150)")
  }

  test("ivfTopK: self found at rank 1; sims match brute force; recall measured") {
    val bf = Similarity.knnBruteForce(emb, "vec_id", emb.filter($"vec_id" < 5),
      "vec_id", "embedding", 10)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    val ivf = Similarity.ivfTopK(emb, "vec_id", emb.filter($"vec_id" < 5),
      "vec_id", "embedding", k = 10, nCentroids = 8, nProbe = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
    (0L until 5L).foreach { q =>
      assert(ivf.exists(a => a._1 == q && a._2 == q && a._4 == 1), s"self missing for $q")
    }
    ivf.foreach { case (q, id, sim, _) =>
      bf.get((q, id)).foreach(bfSim => assert(bfSim == sim)) // exact same cosine
    }
    val recall = ivf.count(a => bf.contains((a._1, a._2))).toDouble / bf.size
    assert(recall >= 0.5, s"IVF recall@10 $recall") // nProbe=4 of 8 cells
  }

  test("cosineNearDupLsh: precision 1 vs exact all-pairs; recall measured") {
    // exact all-pairs >= 0.3 (the ground truth the LSH variant approximates)
    val e = Similarity.withNorm(emb, "vec_id", "embedding")
    val exact = e.as("a").join(e.as("b"), $"a.vec_id" < $"b.vec_id")
      .select($"a.vec_id".as("id_a"), $"b.vec_id".as("id_b"),
        (Similarity.dot($"a.v", $"b.v") / ($"a.nrm" * $"b.nrm")).as("sim"))
      .filter($"sim" >= 0.3)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    val lsh = Similarity.cosineNearDupLsh(emb, "vec_id", "embedding", minSim = 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // every emitted pair is a true near-dup with the identical exact cosine
    lsh.foreach { case (a, b, sim) =>
      assert(exact.get((a, b)).contains(sim), s"false positive or sim drift ($a,$b)")
    }
    // recall is a banding-parameter trade: P(pair collides) =
    // 1-(1-(1-acos(s)/pi)^bits)^bands — ~12% at s=0.3 with 8x8 (these
    // synthetic pairs all sit near the 0.3 threshold), ~66% with 4-bit
    // bands. Assert both operating points behave as designed.
    val recall8 = lsh.count(p => exact.contains((p._1, p._2))).toDouble / exact.size
    assert(recall8 >= 0.1, s"LSH near-dup recall (8x8) $recall8")
    val lsh4 = Similarity.cosineNearDupLsh(emb, "vec_id", "embedding",
        minSim = 0.3, planesPerTable = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val recall4 = lsh4.count(exact.contains).toDouble / exact.size
    assert(recall4 >= 0.5, s"LSH near-dup recall (8x4) $recall4")
    assert(recall4 > recall8, "wider buckets must not lower recall")
  }

  test("cosineNearDupBlocked only pairs within a block") {
    val out = Similarity.cosineNearDupBlocked(emb, "vec_id", "embedding", "label", 0.0)
    val labels = emb.select($"vec_id", $"label").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    out.collect().foreach { r =>
      assert(labels(r.getLong(0)) == labels(r.getLong(1)))
      assert(r.getLong(0) < r.getLong(1))
    }
  }

  test("embeddingDecontaminate: zero-norm rows are never flagged (NaN guard)") {
    // corpus row 10 is the zero vector; pre-fix 0/0=NaN and Spark's
    // NaN-greatest ordering made `sim >= minSim` TRUE against every eval row
    val corpus = Seq(
      (10L, Array(0f, 0f, 0f)),
      (11L, Array(1f, 0f, 0f)),
      (12L, Array(0f, 1f, 0f))).toDF("id", "embedding")
    val test = Seq(
      (1L, Array(1f, 0f, 0f)),
      (2L, Array(0f, 0f, 0f))).toDF("id", "embedding") // zero eval vector too
    val out = Similarity.embeddingDecontaminate(corpus, "id", test, "id",
        "embedding", minSim = 0.9)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(3)))).toMap
    assert(out(10L) == ((0L, false)), s"zero-norm corpus row flagged: $out")
    assert(out(11L) == ((1L, true)))  // exact match with eval vector 1
    assert(out(12L) == ((0L, false)))
  }

  // a ragged block used to be truncated or zero-padded silently, giving
  // sims that diverge from the staged per-pair form
  test("block_cosine_pairs fails loudly on ragged dimensionality") {
    val df = Seq(
      (1L, 0, Array(1.0f, 0.0f, 0.0f, 0.0f)),
      (2L, 0, Array(1.0f, 0.0f, 0.0f, 0.0f)),
      (3L, 0, Array(1.0f, 0.0f)) // ragged: dim 2 in a dim-4 block
    ).toDF("vec_id", "label", "embedding")
    val ex = intercept[Throwable] {
      Similarity.cosineNearDupBlocked(df, "vec_id", "embedding", "label", 0.1)
        .collect()
    }
    def chain(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e => e.getMessage +: chain(e.getCause))
    assert(chain(ex).exists(m => m != null && m.contains("ragged block")),
      s"expected a ragged-block error, got: ${chain(ex).mkString(" | ")}")
    // uniform blocks keep working
    val ok = Similarity.cosineNearDupBlocked(
      df.filter($"vec_id" =!= 3L), "vec_id", "embedding", "label", 0.1)
      .collect()
    assert(ok.map(r => (r.getLong(0), r.getLong(1))).toSet == Set((1L, 2L)))
  }
}

class AsofJoinSpec extends SparkSpecBase {
  import spark.implicits._

  test("asof semantics: latest right <= left time, per key, inclusive") {
    val left = Seq(
      (1, 10L), (1, 20L), (1, 30L), (2, 15L), (3, 5L)
    ).toDF("k", "t")
    val r2 = Seq((1, 10L, "a"), (1, 25L, "b"), (2, 99L, "z")).toDF("k", "rt", "v")
    val out = AsofJoin.asofJoin(left, r2, Seq("k"), "t", "rt", Seq("v"))
      .orderBy("k", "t").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getAs[String]("v")))
    assert(out.toSeq == Seq(
      (1, 10L, "a"),   // inclusive: rt == t
      (1, 20L, "a"),
      (1, 30L, "b"),
      (2, 15L, null),  // right is in the future
      (3, 5L, null)))  // no right rows for key
  }
}

class MultimodalSpec extends SparkSpecBase {
  import spark.implicits._

  private lazy val docs = spark.read.parquet(sf() + "/documents.parquet")
    .select("doc_id", "text").limit(50)

  test("attachBinary produces binary content + typed meta struct") {
    val m = Multimodal.attachBinary(docs, "text", "image")
    assert(m.schema("content").dataType.typeName == "binary")
    assert(m.schema("meta").dataType.typeName == "struct")
    val row = m.select("text", "content").head()
    assert(new String(row.getAs[Array[Byte]]("content"), "UTF-8") == row.getString(0))
  }

  test("decodeMeta + extractFeatures are deterministic across runs and partitionings") {
    val m = Multimodal.attachBinary(docs, "text", "image")
    def run(parts: Int) =
      Multimodal.extractFeatures(
        Multimodal.decodeMeta(m.repartition(parts), "content"), "content", 8)
        .select("doc_id", "decoded_width", "decoded_height", "features")
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2),
          r.getSeq[Float](3))).sortBy(_._1).toSeq
    assert(run(1) == run(7))
  }

  test("stub codec shapes: resize stride, frame sampling") {
    val bytes = Array.tabulate[Byte](100)(_.toByte)
    assert(Multimodal.StubCodec.resize(bytes, 10).length == 10)
    val frames = Multimodal.StubCodec.sampleFrames(bytes, 4)
    assert(frames.size == 4 && frames.head.length == 25)
    assert(Multimodal.StubCodec.features(bytes, 8).length == 8)
  }
}

class SessionsSpec extends SparkSpecBase {
  import spark.implicits._

  test("session splits exactly at gap > threshold") {
    val ev = Seq(
      (1L, 0L), (1L, 1000L), (1L, 5000L), // gap 4000 > 3000 -> new session
      (2L, 0L)
    ).map { case (u, ms) => (u, new java.sql.Timestamp(ms), ms) }
      .toDF("user_id", "ts", "event_id")
    val out = Sessions.sessionize(ev, "user_id", "ts", "event_id", gapMicros = 3000000L)
      .select("user_id", "event_id", "session_id").orderBy("user_id", "event_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.toSeq == Seq((1L, 0L, 1L), (1L, 1000L, 1L), (1L, 5000L, 2L), (2L, 0L, 1L)))
  }
}

class TextOpsSpec extends SparkSpecBase {
  import spark.implicits._

  test("shingles: distinct word n-grams; short docs empty") {
    val df = Seq((1, "a b c d"), (2, "a b")).toDF("id", "text")
    val out = Dedup.shingleSets(df, "id", "text", 3).collect()
    assert(out.length == 1)
    assert(out(0).getSeq[String](1).toSet == Set("a b c", "b c d"))
  }

  test("quality score is in [0,1] and rewards stopwords") {
    val df = Seq((1, "the cat is on the mat and it is fine"),
      (2, "zzz qqq xxx www")).toDF("id", "text")
    val out = df.select(TextOps.qualityScore($"text").as("q")).collect().map(_.getDouble(0))
    assert(out.forall(q => q >= 0.0 && q <= 1.0))
    assert(out(0) > out(1))
  }

  test("winnowing: shared fingerprints between overlapping texts") {
    val df = Seq((1, "the quick brown fox jumps over the lazy dog"),
      (2, "xx the quick brown fox jumps over something"),
      (3, "completely different words here entirely")).toDF("id", "text")
    val fps = df
      .select($"id", TextOps.charCodes($"text").as("ch"))
      .select($"id", TextOps.kgramHashes($"ch").as("kg"))
      .select($"id", TextOps.winnowFromKgrams($"kg").as("fps"))
      .collect().map(r => r.getInt(0) -> r.getSeq[Long](1).toSet).toMap
    assert((fps(1) & fps(2)).nonEmpty)
    assert((fps(1) & fps(3)).isEmpty)
  }

  // ---- repeatedNgrams -----------------------------------------------------

  test("repeatedNgrams: document frequency, not occurrences; min-id example") {
    val docs = Seq(
      (1L, "the cookie banner says accept the cookie banner says"),
      (2L, "x the cookie banner says y"),
      (3L, "the cookie banner says"),
      (4L, "completely unrelated words here"),
      (5L, "too short")
    ).toDF("doc_id", "text")
    val out = TextOps.repeatedNgrams(docs, "doc_id", "text",
      n = 3, minDocs = 2L, topK = 10)
      .select("gram", "n_docs", "example_doc").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    // "the cookie banner" appears twice inside doc 1 but counts once per doc
    val top = out.find(_._1 == "the cookie banner").get
    assert(top._2 == 3L && top._3 == 1L)
    assert(out.find(_._1 == "cookie banner says").get._2 == 3L)
    // singleton grams (doc 4's) are pruned by minDocs
    assert(!out.exists(_._1.contains("unrelated")))
    // ranking: n_docs desc, gram asc
    assert(out.sortBy(r => (-r._2, r._1)).toSeq == out.toSeq)
  }

  // ---- filterAblation -----------------------------------------------------

  test("filterAblation: combo masses partition the corpus per stratum") {
    val docs = Seq(
      ("s1", 100L, true, true), ("s1", 50L, true, false),
      ("s1", 10L, false, false), ("s2", 7L, false, true),
      ("s2", 3L, false, true))
      .toDF("src", "tk", "a", "b")
    val out = TextOps.filterAblation(docs, "src",
      Seq("keep_a" -> $"a", "keep_b" -> $"b"), $"tk")
      .collect().map(r => ((r.getString(0), r.getBoolean(1), r.getBoolean(2)),
        (r.getLong(3), r.getLong(4)))).toMap
    assert(out(("s1", true, true)) == ((1L, 100L)))
    assert(out(("s1", true, false)) == ((1L, 50L)))
    assert(out(("s1", false, false)) == ((1L, 10L)))
    assert(out(("s2", false, true)) == ((2L, 10L)))
    // every doc lands in exactly one combo row
    assert(out.values.map(_._1).sum == 5L)
  }

  // ---- evalReport ---------------------------------------------------------

  test("evalReport: hand-checked AUC, tie half-credit, confusion counts") {
    // scores far apart → each lands in its own logit bin (binWidth 2^22):
    // pos z = {3,1}·2^30, neg z = {2,-1}·2^30. Pairwise: (3>2),(3>-1),
    // (1<2 miss),(1>-1) → AUC = 3/4. Threshold z>=0: tp=2 fp=1 tn=1 fn=0.
    val g = 1L << 30
    val scored = Seq(
      (1L, 3L * g, true), (2L, 1L * g, true),
      (3L, 2L * g, false), (4L, -1L * g, false))
      .toDF("doc_id", "z_sum", "label")
      .withColumn("predicted", $"z_sum" >= 0L)
    val r = Classifier.evalReport(scored).collect().head
    assert(r.getLong(0) == 2 && r.getLong(1) == 2)           // n_pos, n_neg
    assert((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)) ==
      ((2L, 1L, 1L, 0L)))                                    // tp fp tn fn
    assert(r.getDouble(7) == 0.75, r)
    // ties: a pos and a neg in the SAME bin take half credit → AUC 0.5
    val tied = Seq((1L, 5L, true), (2L, 7L, false))
      .toDF("doc_id", "z_sum", "label")
      .withColumn("predicted", $"z_sum" >= 0L)
    assert(Classifier.evalReport(tied).collect().head.getDouble(7) == 0.5)
    // perfect separation → AUC 1.0
    val sep = Seq((1L, 10L * g, true), (2L, -10L * g, false))
      .toDF("doc_id", "z_sum", "label")
      .withColumn("predicted", $"z_sum" >= 0L)
    assert(Classifier.evalReport(sep).collect().head.getDouble(7) == 1.0)
  }

  // ---- hardNegatives ------------------------------------------------------

  test("hardNegatives: top-k nearest with a different label, exact ranks") {
    val emb = spark.read.parquet(sf() + "/embeddings.parquet")
    val queries = emb.filter($"vec_id" < 3)
    val out = Similarity.hardNegatives(emb, "vec_id", queries, "vec_id",
      "embedding", "label", k = 5)
      .select("q_id", "q_label", "id", "label", "sim", "rnk").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getInt(3),
        r.getDouble(4), r.getInt(5)))
    assert(out.length == 15)
    out.foreach { case (_, ql, _, l, _, _) => assert(l != ql) }
    // against brute-force kNN with the label filter applied afterwards:
    // the mined negatives are exactly the top-5 of the label-filtered list
    val qLabels = queries.select("vec_id", "label").as[(Long, Int)]
      .collect().toMap
    val knn = Similarity.knnBruteForce(emb, "vec_id", queries, "vec_id",
      "embedding", k = Int.MaxValue)
      .join(emb.select($"vec_id".as("id"), $"label"), Seq("id"))
      .select("q_id", "id", "label", "sim").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3)))
    val expected = knn.groupBy(_._1).toSeq.flatMap { case (q, rows) =>
      rows.filter(_._3 != qLabels(q)).sortBy(r => (-r._4, r._2)).take(5)
        .map(r => (q, r._2)).toSeq
    }.toSet
    assert(out.map(r => (r._1, r._3)).toSet == expected)
  }
}

class ShardsSpec extends SparkSpecBase {
  import spark.implicits._

  test("assignSplit is deterministic and partitioning-invariant; proportions track permilles") {
    val docs = spark.read.parquet(sf() + "/documents.parquet").select("doc_id")
    val a = Shards.assignSplit(docs, "doc_id").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val b = Shards.assignSplit(docs.repartition(7), "doc_id").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(a == b) // map-only: immune to physical layout
    val n = a.size.toDouble
    val frac = a.values.groupBy(identity).view.mapValues(_.size / n).toMap
    assert(frac("train") > 0.7 && frac("test") > 0.02 && frac("val") > 0.02)
    // different salt re-deals
    val c = Shards.assignSplit(docs, "doc_id", salt = "other").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(c != a)
  }

  test("packShards: shards are contiguous, and within budget + one document") {
    val budget = 500L
    val docs = Seq(
      ("s1", 1L, 200L), ("s1", 2L, 200L), ("s1", 3L, 200L), ("s1", 4L, 450L),
      ("s2", 5L, 600L), ("s2", 6L, 100L))
      .toDF("source", "doc_id", "tk")
    val out = Shards.packShards(docs, "source", "doc_id", "tk", budget)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // s1: cum-excl 0,200,400,600 -> shards 0,0,0,1; s2: 0,600 -> 0,1
    val shard = out.map { case (s, id, _, sh) => (s, id) -> sh }.toMap
    assert(shard(("s1", 1L)) == 0 && shard(("s1", 3L)) == 0 && shard(("s1", 4L)) == 1)
    assert(shard(("s2", 5L)) == 0 && shard(("s2", 6L)) == 1)
    // bound: every shard's total minus its last doc is < budget
    val perShard = out.groupBy { case (s, _, _, sh) => (s, sh) }
    perShard.values.foreach { rows =>
      val toks = rows.sortBy(_._2).map(_._3)
      assert(toks.sum - toks.last < budget)
    }
  }

  test("packSequences: spans tile every sequence exactly and cover each doc") {
    val ctx = 100L
    val docs = Seq(
      ("s1", 1L, 30L), ("s1", 2L, 0L), ("s1", 3L, 250L), ("s1", 4L, 20L),
      ("s2", 5L, 100L), ("s2", 6L, 1L))
      .toDF("source", "doc_id", "tk")
    val out = Shards.packSequences(docs, "source", "doc_id", "tk", ctx)
      .select("source", "doc_id", "tk", "seq_id", "span_start", "span_len")
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    // zero-token doc emits nothing
    assert(!out.exists(_._2 == 2L))
    // per doc: spans are contiguous from 0 and sum to tk
    out.groupBy(_._2).foreach { case (_, rows) =>
      val spans = rows.sortBy(_._4).map(r => (r._5, r._6))
      assert(spans.head._1 == 0L)
      spans.toSeq.sliding(2).foreach {
        case Seq((s0, l0), (s1, _)) => assert(s0 + l0 == s1); case _ => }
      assert(spans.map(_._2).sum == rows.head._3)
    }
    // per (partition, sequence): spans fill exactly ctx tokens, except the
    // final (partial) sequence of each partition which holds the remainder
    val totals = Map("s1" -> 300L, "s2" -> 101L)
    out.groupBy(r => (r._1, r._4)).foreach { case ((src, seq), rows) =>
      val filled = rows.map(_._6).sum
      val lastSeq = (totals(src) - 1) / ctx
      if (seq < lastSeq) assert(filled == ctx, s"$src seq $seq: $filled")
      else assert(filled == totals(src) - lastSeq * ctx)
    }
    // doc 3 (250 toks starting at offset 30) crosses two boundaries
    assert(out.count(_._2 == 3L) == 3)
  }

  test("spanCorruptionPlan: spans in bounds, non-overlapping, exact rate") {
    val docs = Seq((1L, 100L), (2L, 19L), (3L, 20L), (4L, 1000L), (5L, 0L))
      .toDF("doc_id", "tk")
    val out = Shards.spanCorruptionPlan(docs, "doc_id", "tk")
      .select("doc_id", "tk", "n_spans", "span_ix", "span_start", "span_len")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    // n_spans = tk*150 div 3000 = tk div 20; below 20 tokens -> no rows
    assert(!out.exists(r => r._1 == 2L || r._1 == 5L))
    out.groupBy(_._1).foreach { case (_, rows) =>
      val tk = rows.head._2
      assert(rows.length == (tk / 20).toInt)
      rows.foreach { r =>
        assert(r._6 == 3L && r._5 >= 0 && r._5 + 3 <= tk, r) }
      // non-overlap: sorted span starts are >= 3 apart
      rows.map(_._5).sorted.toSeq.sliding(2).foreach {
        case Seq(a, b) => assert(b - a >= 3, s"overlap at $a,$b"); case _ => }
    }
    // determinism: a different salt moves spans, same salt reproduces
    val again = Shards.spanCorruptionPlan(docs, "doc_id", "tk")
      .select("doc_id", "span_ix", "span_start").collect().toSeq
    val other = Shards.spanCorruptionPlan(docs, "doc_id", "tk", salt = "x")
      .select("doc_id", "span_ix", "span_start").collect().toSeq
    assert(again.toSet == Shards.spanCorruptionPlan(docs, "doc_id", "tk")
      .select("doc_id", "span_ix", "span_start").collect().toSet)
    assert(again.toSet != other.toSet)
  }

  test("mixtureDraw quotas survive targetRows*s beyond Long range") {
    // s ≈ sqrt(20)*1e6 ≈ 4.5e6 per stratum; targetRows = 2^62 makes the
    // naive BIGINT product overflow by far. The decimal-staged quota is
    // min(n, huge) = n, so EVERY row must be drawn; the pre-fix negative
    // quota silently emptied both strata.
    val df = (0 until 40).map(i => (i.toLong, if (i % 2 == 0) "a" else "b"))
      .toDF("id", "src")
    val out = Shards.mixtureDraw(df, "id", "src", lit(1L),
      targetRows = Long.MaxValue / 2)
    val got = out.groupBy("src").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == Map("a" -> 20L, "b" -> 20L), s"strata dropped: $got")
    assert(out.select("quota").distinct().collect().forall(_.getLong(0) == 20L))
  }
}
