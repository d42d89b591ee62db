package graft.operators

import graft.SparkSpecBase
import org.apache.spark.sql.functions._

/** Hand-computed oracles for the repetition statistics and PII redaction. */
class TextExtrasSpec extends SparkSpecBase {
  import spark.implicits._

  test("repetition stats on crafted docs") {
    val df = Seq(
      (1L, "a b c d"),            // no repeats
      (2L, "a a a b"),            // "a" x3 of 4 tokens; bigram "a a" x2 of 3
      (3L, "x y x y x y"),        // "x" 3/6; bigrams: "x y" x3, "y x" x2 -> 3/5
      (4L, "solo"),               // 1 token, 0 bigrams
      (5L, "")                    // empty text -> [""] after split
    ).toDF("id", "text")
    val out = df.select($"id",
        TextOps.dupTokenFrac(TextOps.tokens($"text")).as("dup"),
        TextOps.topTokenFrac(TextOps.tokens($"text")).as("topw"),
        TextOps.top2gramFrac(TextOps.tokens($"text")).as("topg"))
      .collect().map(r => r.getLong(0) ->
        (r.getDouble(1), r.getDouble(2), r.getDouble(3))).toMap
    assert(out(1L) == (0.0, 0.25, 1.0 / 3))   // all bigrams distinct: top=1 of 3
    assert(out(2L) == (0.5, 0.75, 2.0 / 3))
    assert(out(3L) == (2.0 / 3, 0.5, 0.6))
    assert(out(4L) == (0.0, 1.0, 0.0))
    assert(out(5L) == (0.0, 1.0, 0.0))
  }

  test("maxMultiplicity is the max element count, empty array is 0") {
    val df = Seq(
      (1L, Seq("b", "a", "b", "c", "b")),
      (2L, Seq.empty[String]),
      (3L, Seq("z"))
    ).toDF("id", "arr")
    val out = df.select($"id", TextOps.maxMultiplicity($"arr").as("m"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(1L -> 3L, 2L -> 0L, 3L -> 1L))
  }

  test("max_multiplicity tolerates null array elements") {
    val df = Seq(1).toDF("i").select(
      call_function("max_multiplicity",
        array(lit("a"), lit(null), lit("a"), lit("b"), lit(null))).as("m"),
      call_function("max_multiplicity",
        array(lit(null).cast("string"))).as("allNull"))
    val r = df.collect().head
    assert(r.getLong(0) == 2L) // nulls skipped: a,a,b -> 2
    assert(r.getLong(1) == 0L) // only nulls -> 0, like an empty array
  }

  test("PII counts and redaction") {
    val text = "mail bob.smith+x@corp.example.org and carol@ex.io from 10.0.0.1 " +
      "call +1 555 0100 or +49-555-0101 port 999.999.999.999"
    val df = Seq((1L, text)).toDF("id", "text")
    val r = df.select(
      Pii.emailCount($"text").as("e"), Pii.ipv4Count($"text").as("i"),
      Pii.phoneCount($"text").as("p"), Pii.redact($"text").as("red")).head()
    assert(r.getInt(0) == 2)
    assert(r.getInt(1) == 2) // the regex is a format matcher, not a validator: 999.* matches
    assert(r.getInt(2) == 2)
    assert(r.getString(3) ==
      "mail <EMAIL> and <EMAIL> from <IP> call <PHONE> or <PHONE> port <IP>")
  }

  test("PII phone shapes: US local, parenthesized, international-parenthesized") {
    val text = "a 555-123-4567 b (555) 123-4567 c +1 (555) 123-4567 " +
      "d +49 555 123 4567 d2 +44 20 7946 0958 e 12345-123-45678"
    val df = Seq((1L, text)).toDF("id", "text")
    val r = df.select(Pii.phoneCount($"text").as("p"), Pii.redact($"text").as("red")).head()
    // a, b, c, d match; d2 (2-digit area group) and e (digit-run boundaries)
    // are documented out of scope and stay untouched
    assert(r.getInt(0) == 4, r.getString(1))
    assert(r.getString(1) ==
      "a <PHONE> b <PHONE> c <PHONE> d <PHONE> d2 +44 20 7946 0958 e 12345-123-45678")
  }

  test("PII address shape redacts; lowercase and bare numbers do not") {
    val df = Seq(
      (1L, "ship to 42 Oak Street today"),
      (2L, "ship to 42 oak street today"),     // lowercase: out of scope
      (3L, "number 123456 Oak Street")).toDF("id", "text") // 6 digits: no match
    val out = df.select($"id", Pii.addressCount($"text").as("a"),
      Pii.redact($"text").as("red")).collect().map(r =>
        r.getLong(0) -> (r.getInt(1), r.getString(2))).toMap
    assert(out(1L) == ((1, "ship to <ADDRESS> today")))
    assert(out(2L) == ((0, "ship to 42 oak street today")))
    assert(out(3L)._1 == 0)
  }

  test("paragraph dedup keeps first occurrence only and rebuilds in order") {
    val df = Seq(
      (1L, "alpha\nbeta\ngamma"),
      (2L, "beta\ndelta"),     // beta already in doc 1
      (3L, "alpha\nbeta"),     // everything already seen -> empty
      (4L, "gamma\nepsilon\nalpha")
    ).toDF("doc_id", "text")
    val out = Dedup.dedupParagraphs(df, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    assert(out(1L) == ("alpha\nbeta\ngamma", 3L))
    assert(out(2L) == ("delta", 1L))
    assert(out(3L) == ("", 0L))
    assert(out(4L) == ("epsilon", 1L))
  }

  test("clean text is untouched by redaction") {
    val df = Seq((1L, "no pii here just words")).toDF("id", "text")
    assert(df.select(Pii.redact($"text")).head().getString(0) ==
      "no pii here just words")
  }

  test("blocklist is word-exact and case-insensitive, never substring") {
    val df = Seq(
      (1L, "the class is large today"),   // "ass" inside "class": no trip
      (2L, "kick ass now"),               // exact word: trip
      (3L, "a SLOW afternoon"),           // case-insensitive both sides
      (4L, "perfectly fine words"),
      (5L, "kick ass."),                  // punctuation-adjacent: still trips
      (6L, "classes, classy!"),           // punctuation splits words, none blocked
      (7L, "an X-Rated film"),            // hyphenated phrase entry matches
      (8L, "x rated content"),            // same entry, space form: same runs
      (9L, "pixelated image"),            // "rated" inside a word: no trip
      (10L, "deeply unrated work")        // adjacent word != phrase: no trip
    ).toDF("doc_id", "text")
    val out = df.select($"doc_id",
        TextOps.hasBlockedToken($"text", Seq("Ass", "slow", "x-rated")).as("b"))
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(out == Map(1L -> false, 2L -> true, 3L -> true, 4L -> false,
      5L -> true, 6L -> false, 7L -> true, 8L -> true, 9L -> false,
      10L -> false))
  }

  test("line-wise corrections drop nav/counter/shouty lines, then guard the doc") {
    val df = Seq(
      // junk lines fall away, enough body survives -> kept
      (1L, "this is a perfectly normal sentence of text\nHOME\n3 likes\nanother decent line right here"),
      // uppercase-dominant long line drops even with many tokens
      (2L, "a real line with several words in it to keep\nTHIS IS AN ALL CAPS SHOUTY HEADER LINE"),
      // mostly junk by characters -> doc-level guard trips
      (3L, "ok line with three words\nNAV MENU HOME LOGIN NAV MENU HOME LOGIN NAV MENU HOME LOGIN"),
      // mixed case long line survives (not uppercase-dominant)
      (4L, "This Is Title Case But Mostly Lowercase Letters Overall")
    ).toDF("doc_id", "text")
    val out = TextOps.lineFilterRebuild(df, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), r.getLong(2), r.getBoolean(3)))).toMap
    assert(out(1L) == (("this is a perfectly normal sentence of text\nanother decent line right here", 2L, true)))
    assert(out(2L) == (("a real line with several words in it to keep", 1L, true)))
    assert(out(3L)._2 == 1L && !out(3L)._3)   // survives line-wise, fails doc guard
    assert(out(4L)._3 && out(4L)._2 == 1L)
  }

  test("Gopher rules: each rule trips in isolation, good prose passes") {
    // 56 words, mean length ~4.2, 4 distinct Gopher stopwords, no symbols
    val good = Array.fill(4)(
      "the quick brown fox jumps over that lazy dog with great energy and poise")
      .mkString(" ")
    val df = Seq(
      (1L, good),                                               // passes all
      (2L, "too short"),                                        // rule 1: < minWords
      (3L, good + "\n" + "- bullet item\n" * 9 + "- bullet item"), // rule 4: 10/11 bullet lines
      (4L, good + "\nread more...\nclick here...\nsubscribe now..."), // rule 5: 3/4 ellipsis
      (5L, good + " " + "#" * 20),                              // rule 3: symbols > 10%
      (6L, Array.fill(15)("alpha beta gamma delta").mkString(" ")), // rule 7: no stopwords
      (7L, (Array.fill(50)("extraordinarily") ++ Seq("the", "of")).mkString(" ")) // rule 2: mean len > 10
    ).toDF("doc_id", "text")
    val out = TextOps.gopherRules(df, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getAs[Boolean]("keep"))
    (2L to 7L).foreach(id => assert(!out(id).getAs[Boolean]("keep"), s"doc $id"))
    // spot-check the counters behind two of the trips
    assert(out(3L).getAs[Long]("n_bullet") == 10L &&
      out(3L).getAs[Long]("n_lines") == 11L)
    assert(out(5L).getAs[Long]("n_symbols") == 20L)
    assert(out(6L).getAs[Long]("n_stopwords") == 0L)
    assert(out(1L).getAs[Long]("n_words") == 56L &&
      out(1L).getAs[Long]("n_stopwords") == 4L)
  }

  test("TF-IDF top terms: hand-computed scores, ranks, and tie-breaks") {
    val df = Seq(
      (1L, "apple banana apple"),
      (2L, "banana cherry"),
      (3L, "apple date date date")
    ).toDF("doc_id", "text")
    // N=3; df: apple 2, banana 2, cherry 1, date 1
    val out = TextOps.tfIdfTopTerms(df, "doc_id", "text", k = 2)
      .collect().map(r => (r.getLong(0), r.getLong(5)) ->
        ((r.getString(1), r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    assert(out((1L, 1L)) == (("apple", 2L, 2L, 3.0)))   // 2*3/2
    assert(out((1L, 2L)) == (("banana", 1L, 2L, 1.5)))  // 1*3/2
    assert(out((2L, 1L)) == (("cherry", 1L, 1L, 3.0)))  // 1*3/1 beats banana 1.5
    assert(out((2L, 2L)) == (("banana", 1L, 2L, 1.5)))
    assert(out((3L, 1L)) == (("date", 3L, 1L, 9.0)))    // 3*3/1
    assert(out((3L, 2L)) == (("apple", 1L, 2L, 1.5)))
    // equal scores tie-break by token ascending
    val ties = TextOps.tfIdfTopTerms(Seq((9L, "zeta alpha")).toDF("doc_id", "text"),
      "doc_id", "text", k = 2).collect().map(r => r.getLong(5) -> r.getString(1)).toMap
    assert(ties == Map(1L -> "alpha", 2L -> "zeta"))
  }
  test("encoding artifacts: U+FFFD, C0 controls, mojibake sequences counted; clean flag") {
    val moji = "caf\u00C3\u00A9 said \u00E2\u0080\u009Chi\u00E2\u0080\u009D" // 3 sequences
    val df = Seq(
      (1L, "perfectly normal prose with plenty of words to dilute ratios"),
      (2L, "bad decode \uFFFD here and \uFFFD there"),              // 2 replacements
      (3L, moji),                                                   // 3 mojibake
      (4L, "ctl" + ("\u0001" * 5)),                                 // 5/8 chars are C0
      (5L, "tab\tand\nnewline\rare fine")                          // allowed whitespace
    ).toDF("id", "text")
    val out = df.select($"id", TextOps.encodingArtifacts($"text").as("ea"))
      .select($"id", $"ea.n_replacement", $"ea.n_control", $"ea.n_mojibake", $"ea.looks_clean")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getBoolean(4)))).toMap
    assert(out(1L) == ((0L, 0L, 0L, true)))
    assert(out(2L) == ((2L, 0L, 0L, false)))
    assert(out(3L) == ((0L, 0L, 3L, false)))
    assert(out(4L) == ((0L, 5L, 0L, false))) // 200*5 > 8 chars
    assert(out(5L) == ((0L, 0L, 0L, true)))  // \t \n \r excluded from the class
  }

  test("bigram LM score: hand-computed smoothed probabilities") {
    // vocab V = {a,b,c,z1,z2} = 5; c(a,b)=3 c(b,a)=1 c(b,c)=1 c(z1,z2)=1;
    // contexts a=3 b=2 z1=1. Smoothed p = (c12+1)*1e6 div (c1+5):
    //   p(a,b)=4e6 div 8=500000, p(b,a)=p(b,c)=2e6 div 7=285714,
    //   p(z1,z2)=2e6 div 6=333333.
    val df = Seq(
      (1L, "a b a b"),   // (a,b)+(b,a)+(a,b) = 1285714, n=3
      (2L, "a b c"),     // 785714, n=2
      (3L, "z1 z2")      // 333333, n=1
    ).toDF("id", "text")
    val out = TextOps.lmBigramScore(df, "id", "text")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3), r.getBoolean(4)))).toMap
    assert(out(1L) == ((3L, 1285714L, 1285714.0 / 3, true)))
    assert(out(2L) == ((2L, 785714L, 392857.0, true)))
    assert(out(3L) == ((1L, 333333L, 333333.0, true)))
  }

  test("bigram LM score: gibberish below the band, boilerplate above it") {
    // The band is corpus-relative: add-one smoothing only penalizes
    // singleton transitions when V is large next to their context counts,
    // and boilerplate only stands out when its phrase mass dominates V —
    // so the corpus needs a realistic vocab/doc ratio (200 docs sharing a
    // sentence, each contributing 2 unique tokens → V ≈ 430).
    val normals = (1L to 200L).map { i =>
      (i, "the cat sat on the mat and the dog ran to the cat door again " +
        s"today u${i}a u${i}b")
    }
    val gib = (201L, (1 to 12).map(j => s"g201x$j").mkString(" "))
    val boiler = (202L, "click here to continue " * 2000)
    val df = (normals :+ gib :+ boiler).toDF("id", "text")
    val out = TextOps.lmBigramScore(df, "id", "text")
      .collect().map(r => r.getLong(0) -> ((r.getDouble(3), r.getBoolean(4)))).toMap
    (1L to 200L).foreach(i => assert(out(i)._2, s"normal doc $i should keep"))
    assert(!out(201L)._2 && !out(202L)._2)
    assert(out(201L)._1 < out(1L)._1 && out(1L)._1 < out(202L)._1)
  }

  test("duplication rate: shared shingles counted, short docs null out") {
    val df = Seq(
      (1L, "a b c d e f"),   // shingles "a b c d e","b c d e f"; first shared
      (2L, "a b c d e z"),   // shares "a b c d e" with doc 1
      (3L, "p q r s t u"),   // all unique
      (4L, "x y")            // < 5 tokens: no shingles
    ).toDF("id", "text")
    val out = TextOps.duplicationRate(df, "id", "text")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), if (r.isNullAt(2)) None else Some(r.getLong(2)),
          if (r.isNullAt(3)) None else Some(r.getDouble(3)), r.getBoolean(4)))).toMap
    assert(out(1L) == ((2L, Some(1L), Some(0.5), true)))
    assert(out(2L) == ((2L, Some(1L), Some(0.5), true)))
    assert(out(3L) == ((2L, Some(0L), Some(0.0), true)))
    assert(out(4L) == ((0L, None, None, false)))
  }

  test("BPE training: the paper's corpus learns the expected merges in order") {
    // Sennrich et al.'s worked example: low x5, lower x2, newest x6,
    // widest x3. Hand-computed rounds (tie-break count DESC, pair lex ASC):
    //   r0: (e,s) 9  (ties (s,t) 9, lex lower wins)
    //   r1: (es,t) 9
    //   r2: (l,o) 7  (ties (o,w) 7)
    //   r3: (lo,w) 7
    val text = (Seq.fill(5)("low") ++ Seq.fill(2)("lower") ++
      Seq.fill(6)("newest") ++ Seq.fill(3)("widest")).mkString(" ")
    val df = Seq((1L, text)).toDF("id", "text")
    val merges = Bpe.train(df, "text", nMerges = 4)
      .orderBy("rank")
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2),
        r.getString(3), r.getLong(4)))
    assert(merges.toSeq == Seq(
      (0, "e", "s", "es", 9L),
      (1, "es", "t", "est", 9L),
      (2, "l", "o", "lo", 7L),
      (3, "lo", "w", "low", 7L)))
  }

  test("BPE merge fold is left-to-right non-overlapping") {
    val df = Seq((1L, Seq("a", "a", "a")), (2L, Seq("a", "b", "a", "b")),
      (3L, Seq("x", "a", "a", "y"))).toDF("id", "syms")
    val aa = df.select($"id", Bpe.mergeStep($"syms", "a", "a").as("m"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1).toSeq).toMap
    assert(aa(1L) == Seq("aa", "a"))         // no overlap re-use
    assert(aa(3L) == Seq("x", "aa", "y"))
    val ab = df.select($"id", Bpe.mergeStep($"syms", "a", "b").as("m"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1).toSeq).toMap
    assert(ab(2L) == Seq("ab", "ab"))        // both occurrences merge
  }

  test("p75 fertility is NULL (not inf/nan) for a zero-word source") {
    // a source whose docs are all whitespace: words = 0 after tokenize —
    // Spark Divide yields NULL, DuckDB IEEE division yields inf; the guard
    // must make both engines emit NULL (oracle uses NULLIF)
    val dir = java.nio.file.Files.createTempDirectory("p75guard").toString
    val docs = Seq(
      (0L, "srcA", "low low low lower lower newest newest widest widest"),
      (1L, "srcA", "low low lower lower newest newest newest widest"),
      (2L, "srcB", "   "),
      (3L, "srcB", "")
    ).toDF("doc_id", "source", "text")
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = graft.SparkEntry.queries("p75_bpe_fertility")(spark, dir)
      .collect().map(r => r.getString(0) -> r).toMap
    assert(out("srcB").isNullAt(out("srcB").fieldIndex("fertility")),
      s"zero-word source must have NULL fertility: ${out("srcB")}")
    val a = out("srcA")
    assert(!a.isNullAt(a.fieldIndex("fertility")) &&
      a.getDouble(a.fieldIndex("fertility")) >= 1.0,
      s"non-empty source keeps a real fertility: $a")
  }

  test("DSIR weights: disjoint-vocab target docs selected, others not") {
    // Two sub-corpora with disjoint vocabularies; target = ids 1-10. Target
    // features have t_f = r_f → ratio ≈ (r_tot+B)/(t_tot+B) ≈ 2×scale;
    // non-target features have t_f = 0 → ratio ≈ scale/(r_f+1) ≪ scale.
    val target = (1L to 10L).map(i =>
      (i, s"the quick brown fox jumps over the lazy dog number ${i % 2}"))
    val other = (11L to 20L).map(i =>
      (i, s"der schnelle braune fuchs springt ueber den faulen hund nr ${i % 2}"))
    val df = (target ++ other).toDF("id", "text")
    val out = TextOps.dsirWeights(df, "id", "text", $"id" <= 10L)
      .collect().map(r => r.getLong(0) -> ((r.getDouble(3), r.getBoolean(4)))).toMap
    (1L to 10L).foreach(i => assert(out(i)._2, s"target doc $i"))
    (11L to 20L).foreach(i => assert(!out(i)._2, s"non-target doc $i"))
    assert(out(1L)._1 > 3 * out(11L)._1)
  }
}
