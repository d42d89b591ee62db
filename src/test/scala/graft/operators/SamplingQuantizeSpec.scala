package graft.operators

import graft.SparkSpecBase
import org.apache.spark.sql.functions._

/** Sampling determinism/statistics, int8 quantization edge cases and the
  * FIM split plan. */
class SamplingQuantizeSpec extends SparkSpecBase {
  import spark.implicits._

  private lazy val docs = spark.read.parquet(sf("sf0.01") + "/documents.parquet")

  test("stratified sample is deterministic and respects per-stratum fractions") {
    val fr = Map("src0" -> 0.8, "src1" -> 0.2)
    val a = Shards.sampleStratified(docs, "doc_id", "source", fr, 0.4, salt = "s1")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val b = Shards.sampleStratified(docs, "doc_id", "source", fr, 0.4, salt = "s1")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(a == b, "same salt must draw the same sample")
    val c = Shards.sampleStratified(docs, "doc_id", "source", fr, 0.4, salt = "s2")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(a != c, "a different salt should re-deal")
    // 25 docs per stratum: src0 keeps most, src1 keeps few (binomial, wide tolerance)
    val bySrc = Shards.sampleStratified(docs, "doc_id", "source", fr, 0.4, salt = "s1")
      .groupBy("source").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(bySrc.getOrElse("src0", 0L) >= 14, bySrc.toString)
    assert(bySrc.getOrElse("src1", 0L) <= 11, bySrc.toString)
  }

  test("mixture fractions flatten the stratum distribution as alpha shrinks") {
    // skewed strata: 100 'big' rows, 10 'small' rows
    val df = ((1 to 100).map(i => (i.toLong, "big")) ++
      (101 to 110).map(i => (i.toLong, "small"))).toDF("id", "src")
    // targetRows low enough that neither stratum caps at fraction 1
    val fr = Shards.mixtureFractions(df, "src", alpha = 0.5, targetRows = 30)
      .collect().map(r => r.getString(0) -> r.getDouble(2)).toMap
    // alpha 0.5: weights sqrt(100):sqrt(10) => per-row fraction for the small
    // stratum is sqrt(10) larger than the big one
    assert(fr("small") / fr("big") > 3.0 && fr("small") / fr("big") < 3.4, fr.toString)
    val kept = Shards.sampleMixture(df, "id", "src", alpha = 0.5, targetRows = 30)
    assert(kept.count() > 12 && kept.count() < 48) // ~30 expected
    // alpha = 1 is proportional sampling: equal per-row fractions
    val fr1 = Shards.mixtureFractions(df, "src", alpha = 1.0, targetRows = 50)
      .collect().map(r => r.getString(0) -> r.getDouble(2)).toMap
    assert(math.abs(fr1("small") - fr1("big")) < 1e-12, fr1.toString)
  }

  test("mixtureDraw: sqrt-temperature quotas, exact-k per stratum, tiny strata whole") {
    // skewed strata: 400 big / 100 mid / 4 tiny rows
    val df = ((1 to 400).map(i => (i.toLong, "big")) ++
      (401 to 500).map(i => (i.toLong, "mid")) ++
      (501 to 504).map(i => (i.toLong, "tiny"))).toDF("id", "src")
    val out = Shards.mixtureDraw(df, "id", "src", lit(1L), targetRows = 60)
    val byS = out.groupBy("src").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // integer quotas: s = floor(sqrt(n)*1e6) -> 20e6 / 10e6 / 2e6, sum 32e6
    // quota = min(n, 60*s div 32e6) -> 37 / 18 / 3
    assert(byS == Map("big" -> 37L, "mid" -> 18L, "tiny" -> 3L), byS.toString)
    // sqrt temperature up-weights small strata: mid gets 18/100, big 37/400
    assert(18.0 / 100 > 37.0 / 400 * 1.5)
    // deterministic: same draw twice
    val again = Shards.mixtureDraw(df, "id", "src", lit(1L), targetRows = 60)
      .orderBy("id").collect().toSeq
    assert(again == out.orderBy("id").collect().toSeq)
    // quota caps at the stratum size when target is large
    val all = Shards.mixtureDraw(df, "id", "src", lit(1L), targetRows = 5000)
      .groupBy("src").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(all == Map("big" -> 400L, "mid" -> 100L, "tiny" -> 4L), all.toString)
  }

  test("PQ encode + ADC distance: hand-computed tiny example is exact") {
    // 4-dim vectors, m=2 subspaces of 2 dims, k=2 codebook entries
    val cbs: Seq[Seq[Seq[Double]]] = Seq(
      Seq(Seq(0.0, 0.0), Seq(10.0, 10.0)), // subspace 0
      Seq(Seq(0.0, 5.0), Seq(5.0, 0.0)))   // subspace 1
    val corpus = Seq(
      (1L, Seq(1.0f, 1.0f, 0.0f, 4.0f)),  // sub0 -> cb0 (d=2 vs 162); sub1 -> cb0 (1 vs 41)
      (2L, Seq(9.0f, 9.0f, 6.0f, 1.0f))   // sub0 -> cb1 (2 vs 162); sub1 -> cb1 (2 vs 52)
    ).toDF("id", "v")
    val enc = corpus.select($"id", Quantize.pqEncode($"v", cbs).as("codes"))
    val codes = enc.collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    assert(codes(1L) == Seq(0, 0) && codes(2L) == Seq(1, 1), codes.toString)

    // ADC for query (0,0,0,0): LUT0 = [0, 200], LUT1 = [25, 25]
    val queries = Seq((7L, Seq(0.0f, 0.0f, 0.0f, 0.0f))).toDF("q_id", "v")
    val out = Quantize.pqAdcTopK(enc, "id", "codes", queries, "q_id", "v", cbs, k = 2)
      .collect().map(r => (r.getLong(1), r.getDouble(2), r.getInt(3))).toList
    assert(out == List((1L, 25.0, 1), (2L, 225.0, 2)), out.toString)
  }

  test("PQ on real embeddings: self-query ranks own code block first") {
    val corpus = spark.read.parquet(sf("sf0.001") + "/embeddings.parquet")
    val cbs = Quantize.pqCodebooks(corpus, "vec_id", "embedding", m = 8, k = 16)
    val enc = corpus.select($"vec_id",
      Quantize.pqEncode($"embedding", cbs).as("codes")).cache()
    val queries = corpus.filter($"vec_id" < 3)
      .select($"vec_id".as("q_id"), $"embedding")
    val top = Quantize.pqAdcTopK(enc, "vec_id", "codes", queries, "q_id",
      "embedding", cbs, k = 10)
    val rows = top.collect()
    assert(rows.length == 30)
    // distances ascend within each query
    rows.groupBy(_.getLong(0)).values.foreach { g =>
      val ds = g.sortBy(_.getInt(3)).map(_.getDouble(2))
      assert(ds.zip(ds.tail).forall { case (a, b) => a <= b })
    }
  }

  test("int8 quantization: codes bounded, zero vector safe, error small") {
    val df = Seq(
      (1L, Seq(1.0f, -2.0f, 0.5f, 127.5f)),
      (2L, Seq(0.0f, 0.0f, 0.0f, 0.0f)),      // zero vector -> scale 0, codes 0
      (3L, Seq(-1e-8f, 1e-8f, 0.0f, 0.0f))     // tiny but nonzero scale
    ).toDF("id", "v")
    val out = df.select($"id", Quantize.int8QuantStruct($"v").as("o"))
      .select($"id", $"o.scale", $"o.q", $"o.err")
      .collect().map(r => (r.getLong(0), r.getDouble(1),
        r.getSeq[Int](2), r.getDouble(3))).toList.sortBy(_._1)
    val (_, s1, q1, e1) = out(0)
    assert(q1.forall(c => c >= -127 && c <= 127))
    assert(q1.last == 127, q1.toString) // the max element maps to full scale
    assert(e1 <= s1 * math.sqrt(q1.size) / 2 + 1e-12) // per-dim error <= scale/2
    val (_, s2, q2, e2) = out(1)
    assert(s2 == 0.0 && q2.forall(_ == 0) && e2 == 0.0)
    val (_, _, q3, _) = out(2)
    assert(q3.take(2) == Seq(-127, 127), q3.toString)
  }

  test("lengthBucketBatches: log2 buckets bound padding, budget bounds batches, repartition-stable") {
    import org.apache.spark.sql.functions.{col, lit}
    val rnd = new scala.util.Random(11)
    val df = (1 to 500).map { i =>
      (i.toLong, s"s${i % 3}", (rnd.nextInt(2000) + (if (i % 40 == 0) 0 else 1)).toLong)
    }.toDF("id", "src", "tk")
    val out = Shards.lengthBucketBatches(df, "src", "id", "tk", budget = 4096L)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    // bucket invariant: within a bucket max < 2*min (bit-length tiers), so
    // padding to the batch max wastes < 50% of the padded tokens
    out.filter(_._3 > 0).groupBy(r => (r._2, r._4)).foreach { case (k, rs) =>
      val lens = rs.map(_._3)
      assert(lens.max < 2 * lens.min, s"$k: ${lens.min}..${lens.max}")
    }
    // zero-token rows land in bucket 0
    assert(out.filter(_._3 == 0).forall(_._4 == 0L))
    // budget: a batch's token sum < budget + its max item (integral-cumsum
    // boundary property), and batch ids are contiguous from 0 per group
    out.groupBy(r => (r._2, r._4)).foreach { case (_, rs) =>
      rs.groupBy(_._5).foreach { case (_, batch) =>
        assert(batch.map(_._3).sum < 4096L + batch.map(_._3).max)
      }
      val ids = rs.map(_._5).distinct.sorted.toList
      assert(ids == (0L until ids.size.toLong).toList, ids.toString)
    }
    // pure function of the data: a different physical partitioning yields
    // the identical plan output
    val re = Shards.lengthBucketBatches(df.repartition(17, col("id") + lit(3)),
        "src", "id", "tk", budget = 4096L)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    assert(out.sortBy(_._1).toSeq == re.sortBy(_._1).toSeq)
  }

  // ---- fimSplitPlan -------------------------------------------------------

  test("fimSplitPlan: pieces partition the doc, modes follow the hash deal") {
    val docs = (0L until 400L).map(i => (i, 10L + i % 90)).toDF("doc_id", "tk")
    val out = Shards.fimSplitPlan(docs, "doc_id", "tk")
      .select("doc_id", "tk", "fim_mode", "prefix_len", "middle_len",
        "suffix_len")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    assert(out.length == 400)
    out.foreach { case (id, tk, mode, p, m, sfx) =>
      assert(p >= 0 && m >= 0 && sfx >= 0, s"doc $id negative piece")
      assert(p + m + sfx == tk, s"doc $id pieces don't sum to tk")
      if (mode == "ar") assert(p == tk && m == 0 && sfx == 0, s"doc $id ar")
      assert(Set("ar", "psm", "spm").contains(mode))
    }
    // the 900-permille FIM deal holds roughly (md5-uniform over 400 docs)
    val nFim = out.count(_._3 != "ar")
    assert(nFim > 300 && nFim < 400, s"fim count $nFim")
    // and PSM/SPM split the FIM mass both ways
    assert(out.exists(_._3 == "psm") && out.exists(_._3 == "spm"))
  }

  test("fimSplitPlan: deterministic per salt, tiny docs stay legal") {
    val docs = Seq((1L, 0L), (2L, 1L), (3L, 2L), (4L, 1000L))
      .toDF("doc_id", "tk")
    val a = Shards.fimSplitPlan(docs, "doc_id", "tk").collect().toSet
    val b = Shards.fimSplitPlan(docs, "doc_id", "tk").collect().toSet
    assert(a == b)
    // tk=0: all three pieces are 0 regardless of mode
    val z = Shards.fimSplitPlan(docs, "doc_id", "tk")
      .filter($"doc_id" === 1L).select("prefix_len", "middle_len", "suffix_len")
      .as[(Long, Long, Long)].head()
    assert(z == ((0L, 0L, 0L)))
    // a different salt re-deals at least one cut among the 4 docs
    val c = Shards.fimSplitPlan(docs, "doc_id", "tk", salt = "other")
      .collect().toSet
    assert(a != c)
  }

  test("fimSplitPlan: fimPermille=0 is pure AR, 1000 is pure FIM") {
    val docs = (0L until 50L).map(i => (i, 100L)).toDF("doc_id", "tk")
    val ar = Shards.fimSplitPlan(docs, "doc_id", "tk", fimPermille = 0L)
    assert(ar.filter($"fim_mode" =!= "ar").count() == 0)
    val fim = Shards.fimSplitPlan(docs, "doc_id", "tk", fimPermille = 1000L)
    assert(fim.filter($"fim_mode" === "ar").count() == 0)
  }
}
