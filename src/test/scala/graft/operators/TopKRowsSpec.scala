package graft.operators

import graft.SparkSpecBase
import org.apache.spark.sql.functions._

/** The topk_rows SQL registration validates arity, null literals and struct
  * field count at analysis time instead of failing lazily on executors
  * (IndexOutOfBounds in schema.fields(1), NPE in the builder), and its
  * codegen'd comparator keeps window-equivalent ordering. */
class TopKRowsSpec extends SparkSpecBase {
  import spark.implicits._

  private def analyze(sql: String): Unit =
    spark.sql(sql).queryExecution.analyzed

  private val t = {
    Seq((1L, 2.0), (2L, 1.0)).toDF("id", "score").createOrReplaceTempView("advr11_t")
    "advr11_t"
  }

  test("topk_rows: wrong arity fails at analysis with a clear message") {
    val e = intercept[Exception] {
      analyze(s"SELECT topk_rows(struct(score, id)) FROM $t")
    }
    assert(e.getMessage.contains("3 arguments"), e.getMessage)
  }

  test("topk_rows: null k literal fails with a named-parameter message, not an NPE") {
    // bare NULL is a Literal(null); CAST(NULL AS INT) is a Cast — both must
    // produce a clear analysis-time error, neither an NPE
    val e = intercept[Exception] {
      analyze(s"SELECT topk_rows(struct(score, id), NULL, true) FROM $t")
    }
    assert(e.getMessage.contains("non-null literal integer"), e.getMessage)
    val e2 = intercept[Exception] {
      analyze(s"SELECT topk_rows(struct(score, id), CAST(NULL AS INT), true) FROM $t")
    }
    assert(e2.getMessage.contains("literal integer"), e2.getMessage)
  }

  test("topk_rows: null direction literal fails clearly, not with an NPE") {
    val e = intercept[Exception] {
      analyze(s"SELECT topk_rows(struct(score, id), 2, NULL) FROM $t")
    }
    assert(e.getMessage.contains("non-null literal boolean"), e.getMessage)
    val e2 = intercept[Exception] {
      analyze(s"SELECT topk_rows(struct(score, id), 2, CAST(NULL AS BOOLEAN)) FROM $t")
    }
    assert(e2.getMessage.contains("literal boolean"), e2.getMessage)
  }

  test("topk_rows: a single-field struct is rejected at analysis time") {
    val e = intercept[Exception] {
      spark.sql(s"SELECT topk_rows(struct(score), 2, true) FROM $t").collect()
    }
    assert(e.getMessage.contains("at least 2 fields"), e.getMessage)
  }

  test("topk_rows: the codegen'd comparator keeps window-equivalent semantics") {
    // NaN greatest, nulls last under DESC, id ASC tie-break — exactly the
    // row_number window contract the aggregate replaced (r11); this pins the
    // r12 GenerateOrdering swap to the same semantics
    val df = Seq(
      (1L, Double.NaN), (2L, 3.0), (3L, 3.0), (4L, -0.0),
      (5L, 0.0), (6L, 7.5)
    ).toDF("id", "s").withColumn("sn",
      when(col("id") === 5L, lit(null).cast("double")).otherwise(col("s")))
    df.createOrReplaceTempView("advr11_cmp")
    val got = spark.sql(
      "SELECT topk_rows(struct(sn, id), 4, true) AS a FROM advr11_cmp")
      .selectExpr("inline(a)").collect().map(r => r.getLong(1)).toSeq
    // DESC: NaN (greatest) first, then 7.5, then the 3.0 tie broken by id
    assert(got == Seq(1L, 6L, 2L, 3L), got.toString)
  }
}
