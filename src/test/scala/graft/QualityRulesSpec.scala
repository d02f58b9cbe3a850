package graft

import org.apache.spark.sql.{functions => F}
import graft.operators.{QualityRules, QualityRulesTwins}
import graft.operators.QualityRules.GopherThresholds

/** E16/E17 — the published Gopher and C4 rule gates. Every measure is
  * pinned against a hand-computed reference on a crafted corpus where
  * each rule fires both ways, and both operators are asserted
  * map-only (one projection, no Exchange).
  */
class QualityRulesSpec extends SparkSuite {
  import spark.implicits._

  private val docs = Seq(
    // 0: clean prose — passes everything under the test thresholds
    (0L, "the quick brown fox jumps over and over with the lazy dog of note"),
    // 1: too few words
    (1L, "the and of"),
    // 2: numeric salad — fails alpha-word fraction and mean length
    (2L, "the 12345678901 22345678901 32345678901 42345678901 52345678901 and 62345678901 72345678901 82345678901 92345678901 10345678901"),
    // 3: bullet-heavy — fails the bullet-line fraction
    (3L, "the heading line with and\n• one\n• two\n* three\n- four\n• five\n• six\n• seven\n• eight\n• nine\n• ten"),
    // 4: ellipsis-heavy + symbols — fails ellipsis fraction and symbol ratio
    (4L, "the start with and of it...\nmore to come...\nstill going...\n### #"),
    // 5: no stopwords at all
    (5L, "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu")
  ).toDF("doc_id", "text")

  private val thresholds = GopherThresholds(
    minWords = 5, maxWords = 100, minMeanWordLen = 2.0, maxMeanWordLen = 8.0,
    maxSymbolWordRatio = 0.1, maxBulletLineFrac = 0.5, maxEllipsisLineFrac = 0.3,
    minAlphaWordFrac = 0.8, minStopwords = 2,
    stopwords = Seq("the", "and", "of", "with", "to"))

  test("gopher: every measure matches a hand-computed reference") {
    val r = QualityRules.gopher(docs, "doc_id", "text", thresholds)
      .orderBy("doc_id").collect()

    val d0 = r(0)
    assert(d0.getAs[Long]("n_words") == 14)
    assert(d0.getAs[Long]("n_stop_distinct") == 4) // the, and, with, of
    assert(d0.getAs[Boolean]("pass"))

    val d1 = r(1)
    assert(d1.getAs[Long]("n_words") == 3)
    assert(!d1.getAs[Boolean]("pass_words") && !d1.getAs[Boolean]("pass"))

    val d2 = r(2)
    // 10 digit runs of length 11 + "the"/"and": alpha frac = 2/12
    assert(d2.getAs[Long]("n_words") == 12)
    assert(math.abs(d2.getAs[Double]("alpha_word_frac") - 2.0 / 12.0) < 1e-15)
    assert(!d2.getAs[Boolean]("pass_alpha_words"))
    assert(d2.getAs[Double]("mean_word_len") > 8.0 && !d2.getAs[Boolean]("pass_mean_word_len"))

    val d3 = r(3)
    assert(d3.getAs[Double]("bullet_line_frac") === 10.0 / 11.0)
    assert(!d3.getAs[Boolean]("pass_bullet_lines"))

    val d4 = r(4)
    assert(d4.getAs[Double]("ellipsis_line_frac") === 3.0 / 4.0)
    assert(!d4.getAs[Boolean]("pass_ellipsis_lines"))
    // '#'×4 + '...'×3 over 13 words
    assert(math.abs(d4.getAs[Double]("symbol_word_ratio") - 7.0 / 13.0) < 1e-15)
    assert(!d4.getAs[Boolean]("pass_symbol_ratio"))

    val d5 = r(5)
    assert(d5.getAs[Long]("n_stop_distinct") == 0)
    assert(!d5.getAs[Boolean]("pass_stopwords") && !d5.getAs[Boolean]("pass"))
  }

  test("gopher: blank document is one zero-length token, fails loudly not crashes") {
    val r = QualityRules.gopher(Seq((9L, "   ")).toDF("doc_id", "text"),
      "doc_id", "text", thresholds).collect().head
    assert(r.getAs[Long]("n_words") == 1)
    assert(r.getAs[Double]("mean_word_len") == 0.0)
    assert(!r.getAs[Boolean]("pass"))
  }

  test("c4: line and page rules match a hand-computed reference") {
    val pages = Seq(
      // 2 good lines, one unpunctuated, one short, one javascript
      (0L, "This line ends with a period.\nno terminal punctuation here\nToo short.\nPlease enable JavaScript to continue.\nAnother proper sentence right here!"),
      // page killed by lorem ipsum despite good lines
      (1L, "A fine sentence stands here.\nSecond fine sentence stands here.\nThird fine sentence with Lorem Ipsum inside.\nFourth fine sentence stands here."),
      // page killed by curly brace
      (2L, "First acceptable sentence here.\nfunction f() { return 1; }\nSecond acceptable sentence here.\nThird acceptable sentence here."),
      // too few kept lines
      (3L, "Only one good sentence here.\nbare words\nmore bare words")
    ).toDF("doc_id", "text")

    val r = QualityRules.c4Filters(pages, "doc_id", "text",
      minLineWords = 3, minKeptLines = 2).orderBy("doc_id").collect()

    val d0 = r(0)
    assert(d0.getAs[Long]("n_kept_lines") == 2)
    assert(d0.getAs[String]("clean_text") ==
      "This line ends with a period.\nAnother proper sentence right here!")
    assert(d0.getAs[Boolean]("keep"))

    val d1 = r(1)
    assert(d1.getAs[Long]("n_kept_lines") == 4)
    assert(d1.getAs[Boolean]("has_lorem") && !d1.getAs[Boolean]("keep"))

    val d2 = r(2)
    assert(d2.getAs[Boolean]("has_brace") && !d2.getAs[Boolean]("keep"))

    val d3 = r(3)
    assert(d3.getAs[Long]("n_kept_lines") == 1)
    assert(!d3.getAs[Boolean]("keep"))
  }

  test("c4: quote-terminated and question/exclamation lines survive; whitespace line is 0 words") {
    val pages = Seq(
      (0L, "He said \"stop right there.\"\nIs this a question with words?\nYes it certainly is!\n    \nend")
    ).toDF("doc_id", "text")
    val r = QualityRules.c4Filters(pages, "doc_id", "text", 3, 1).collect().head
    assert(r.getAs[Long]("n_kept_lines") == 3)
    assert(r.getAs[Boolean]("keep"))
  }

  test("gopherRepetition: measures match a hand-computed reference") {
    // doc 0: "a b\nc d\na b\ne f" — line "a b" duplicated once
    //   dup_line_frac = 1/4; chars: total 12, distinct 9 → 3/12
    //   grams: "a b"×2 (from the flattened token stream: a b c d a b e f
    //   → "a b" appears twice, also "b c","d a","b e"… top2 = "a b"
    //   count 2, len 3 → 6/len(text)=6/15
    val docs = Seq(
      (0L, "a b\nc d\na b\ne f"),
      // doc 1: heavy phrase run — "x x" bigram count 5, "x x x" count 4
      (1L, "x x x x x x"),
      // doc 2: no repetition at all
      (2L, "alpha beta gamma delta")
    ).toDF("doc_id", "text")
    val r = QualityRules.gopherRepetition(docs, "doc_id", "text")
      .orderBy("doc_id").collect()

    val d0 = r(0)
    assert(d0.getAs[Double]("dup_line_frac") === 0.25)
    assert(d0.getAs[Double]("dup_line_char_frac") === 3.0 / 12.0)
    assert(d0.getAs[Double]("top2gram_char_frac") === 6.0 / 15.0)

    val d1 = r(1)
    assert(d1.getAs[Double]("top2gram_char_frac") === (5.0 * 3.0) / 11.0)
    assert(d1.getAs[Double]("top3gram_char_frac") === (4.0 * 5.0) / 11.0)
    assert(!d1.getAs[Boolean]("pass"))

    val d2 = r(2)
    assert(d2.getAs[Double]("dup_line_frac") === 0.0)
    // every bigram unique: count 1 — "alpha beta" len 10 over 22 chars
    assert(d2.getAs[Double]("top2gram_char_frac") === 10.0 / 22.0)
  }

  test("gopherRepetition: top-gram count ties resolve to the lexicographically smallest gram") {
    // "b a b a" → bigrams: "b a"×2, "a b"×1  → top = "b a" (count wins)
    // "c d a b c d a b" → "c d"×2, "a b"×2, "d a"×2, "b c"×1 → tie on 2
    //   → smallest gram "a b" (len 3): frac = 6/15
    val docs = Seq((0L, "c d a b c d a b")).toDF("doc_id", "text")
    val r = QualityRules.gopherRepetition(docs, "doc_id", "text").collect().head
    assert(r.getAs[Double]("top2gram_char_frac") === 6.0 / 15.0)
  }

  test("gopherRepetition is map-only and fires both ways on the decorated fixture") {
    val base = spark.read.parquet(s"$sf/documents.parquet")
    val g = QualityRules.gopherRepetition(
      base.withColumn("text", faces.Kit.repetitionDecorated), "doc_id", "text")
    assert(!g.queryExecution.executedPlan.toString.contains("Exchange"))
    val flags = Seq("pass_dup_lines", "pass_dup_line_chars",
      "pass_top2gram", "pass_top3gram", "pass_top4gram")
    val agg = g.agg(F.count(F.lit(1)).as("n"),
      flags.map(f => F.sum(F.when(F.col(f), 1).otherwise(0)).as(f)): _*).collect().head
    val n = agg.getAs[Long]("n")
    for (f <- flags) {
      val k = agg.getAs[Long](f)
      assert(k > 0 && k < n, s"rule $f must fire both ways on the fixture: $k/$n")
    }
  }

  test("gopherDupNGrams: coverage union matches a hand-computed reference") {
    val docs = Seq(
      // "a b c d e" repeated with an x tail: dup 5-gram "a b c d e" at
      // gram positions 1 and 6 of 7; coverage union = tokens 1..10 of
      // 11 → 10 covered chars / 11 total; no dup 6..10-grams
      (0L, "a b c d e a b c d e x"),
      // 6 identical tokens: both 5-gram windows equal → all 6 tokens
      // covered → frac 1.0; single 6-gram window can't duplicate → 0
      (1L, "x x x x x x"),
      // empty text tokenizes to [""] with zero total chars → all 0.0,
      // all rules pass (vacuously clean, not a crash)
      (2L, "")
    ).toDF("doc_id", "text")
    val r = QualityRules.gopherDupNGrams(docs, "doc_id", "text")
      .orderBy("doc_id").collect()

    val d0 = r(0)
    assert(d0.getAs[Double]("dup5gram_char_frac") === 10.0 / 11.0)
    for (n <- 6 to 10)
      assert(d0.getAs[Double](s"dup${n}gram_char_frac") === 0.0, s"n=$n")
    assert(!d0.getAs[Boolean]("pass_dup5gram") && d0.getAs[Boolean]("pass_dup6gram"))

    val d1 = r(1)
    assert(d1.getAs[Double]("dup5gram_char_frac") === 1.0)
    assert(d1.getAs[Double]("dup6gram_char_frac") === 0.0)

    val d2 = r(2)
    for (n <- 5 to 10)
      assert(d2.getAs[Double](s"dup${n}gram_char_frac") === 0.0, s"n=$n")
    assert(d2.getAs[Boolean]("pass"))
  }

  test("gopherDupNGrams: overlapping duplicate windows count characters once") {
    // "p q r s t p q r s t p q r s t" (period-5 run of 15 tokens):
    // every 5..10-gram window inside the run repeats 5 positions later,
    // so ALL 15 tokens are covered for n=5..10 → frac 1.0 everywhere —
    // a sum over occurrences would exceed 1, the union cannot
    val docs = Seq((0L, "p q r s t p q r s t p q r s t")).toDF("doc_id", "text")
    val r = QualityRules.gopherDupNGrams(docs, "doc_id", "text").collect().head
    for (n <- 5 to 10)
      assert(r.getAs[Double](s"dup${n}gram_char_frac") === 1.0, s"n=$n")
  }

  test("gopherDupNGrams: native coverage expression is bit-identical to the HOF spelling") {
    val base = spark.read.parquet(s"$sf/documents.parquet")
      .withColumn("text", faces.Kit.dupNGramDecorated)
    val crafted = Seq((9000L, "a b c d e a b c d e x"), (9001L, ""),
      (9002L, "p q r s t p q r s t p q r s t"), (9003L, "lone"))
      .toDF("doc_id", "text").withColumn("lang", F.lit("en"))
      .withColumn("source", F.lit("t")).withColumn("n_chars", F.length(F.col("text")))
    val docs = base.unionByName(crafted.select(base.columns.map(F.col): _*))
    val a = QualityRules.gopherDupNGrams(docs, "doc_id", "text").orderBy("doc_id").collect()
    val b = QualityRulesTwins.gopherDupNGramsHof(docs, "doc_id", "text").orderBy("doc_id").collect()
    assert(a.toSeq === b.toSeq)
  }

  test("gopherDupNGrams is map-only and fires both ways on the decorated fixture") {
    val base = spark.read.parquet(s"$sf/documents.parquet")
    val g = QualityRules.gopherDupNGrams(
      base.withColumn("text", faces.Kit.dupNGramDecorated), "doc_id", "text")
    assert(!g.queryExecution.executedPlan.toString.contains("Exchange"))
    val flags = (5 to 10).map(n => s"pass_dup${n}gram")
    val agg = g.agg(F.count(F.lit(1)).as("n"),
      flags.map(f => F.sum(F.when(F.col(f), 1).otherwise(0)).as(f)): _*).collect().head
    val n = agg.getAs[Long]("n")
    for (f <- flags) {
      val k = agg.getAs[Long](f)
      assert(k > 0 && k < n, s"rule $f must fire both ways on the fixture: $k/$n")
    }
  }

  test("gopherPass gate column is bit-identical to the report's pass column") {
    val report = QualityRules.gopher(docs, "doc_id", "text", thresholds)
      .select("doc_id", "pass")
    val gate = docs.select(F.col("doc_id"),
      QualityRules.gopherPass(F.col("text"), thresholds).as("pass"))
    assert(report.exceptAll(gate).isEmpty && gate.exceptAll(report).isEmpty)
  }

  test("both operators are map-only: no Exchange in the plan") {
    for (df <- Seq(
        QualityRules.gopher(docs, "doc_id", "text", thresholds),
        QualityRules.c4Filters(docs, "doc_id", "text"))) {
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), s"must be map-only:\n${plan.take(800)}")
    }
  }

  test("fixture corpus: decorated driver queries split on every rule both ways") {
    val base = spark.read.parquet(s"$sf/documents.parquet")
    // the driver-query decoration (kept in sync with SparkEntry)
    val g = QualityRules.gopher(
      base.withColumn("text", faces.Kit.gopherDecorated), "doc_id", "text",
      faces.Kit.gopherDriverThresholds)
    val flags = Seq("pass_words", "pass_mean_word_len", "pass_symbol_ratio",
      "pass_bullet_lines", "pass_ellipsis_lines", "pass_alpha_words", "pass_stopwords")
    val agg = g.agg(F.count(F.lit(1)).as("n"),
      flags.map(f => F.sum(F.when(F.col(f), 1).otherwise(0)).as(f)): _*).collect().head
    val n = agg.getAs[Long]("n")
    for (f <- flags) {
      val k = agg.getAs[Long](f)
      assert(k > 0 && k < n, s"rule $f must fire both ways on the fixture: $k/$n")
    }
    val c = QualityRules.c4Filters(
      base.withColumn("text", faces.Kit.c4Decorated), "doc_id", "text")
    val kept = c.where(F.col("keep")).count()
    assert(kept > 0 && kept < c.count())
  }
}
