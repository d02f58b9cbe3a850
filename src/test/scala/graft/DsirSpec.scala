package graft

import org.apache.spark.sql.{functions => F}
import graft.operators.{Dsir, DsirTwins}

/** S11 — DSIR importance resampling. The fit's ln() is libm, so the
  * weight table is pinned against an independent driver-side
  * reference; scoring/selection are exact-integer and pinned across
  * both routing faces (literal fold vs explode+join) and against the
  * published semantics (target-like documents outrank raw-like ones).
  */
class DsirSpec extends SparkSuite {
  import spark.implicits._

  private val B = 512

  // independent md5 bucket reference (not Dsir.bucketOf)
  private def refBucket(g: String): Int = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(g.getBytes("UTF-8")).map("%02x".format(_)).mkString.substring(0, 13)
    (java.lang.Long.parseLong(hex, 16) % B).toInt
  }

  private def refGrams(text: String): Seq[String] = {
    val toks = text.trim.toLowerCase.split("\\s+", -1).toSeq
    toks ++ toks.zip(toks.drop(1)).map { case (a, b) => s"$a $b" }
  }

  private val target = Seq(
    (0L, "alpha beta alpha beta gamma"),
    (1L, "alpha beta delta alpha"),
    (2L, "beta alpha beta epsilon")
  ).toDF("doc_id", "text")

  private val raw = Seq(
    (10L, "omega psi chi omega psi"),
    (11L, "chi psi omega phi"),
    (12L, "alpha omega psi chi"),
    (13L, "psi chi phi omega upsilon")
  ).toDF("doc_id", "text")

  test("fit counts hashed unigram+bigram buckets exactly") {
    val got = Dsir.fit(target, "doc_id", "text", B)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want = Seq("alpha beta alpha beta gamma", "alpha beta delta alpha",
      "beta alpha beta epsilon")
      .flatMap(refGrams).groupBy(g => refBucket(g).toLong)
      .map { case (b, gs) => b -> gs.size.toLong }
    assert(got === want)
  }

  test("weights match an independent reference with Laplace smoothing") {
    val tf = Dsir.fit(target, "doc_id", "text", B)
    val rf = Dsir.fit(raw, "doc_id", "text", B)
    val w = Dsir.weights(spark, tf, rf, B)
    assert(w.count() === B.toLong)
    val got = Dsir.weightsArray(w, B)

    val tCounts = Seq("alpha beta alpha beta gamma", "alpha beta delta alpha",
      "beta alpha beta epsilon").flatMap(refGrams).groupBy(refBucket).map { case (b, g) => b -> g.size }
    val rCounts = Seq("omega psi chi omega psi", "chi psi omega phi",
      "alpha omega psi chi", "psi chi phi omega upsilon")
      .flatMap(refGrams).groupBy(refBucket).map { case (b, g) => b -> g.size }
    val tTot = tCounts.values.sum.toLong
    val rTot = rCounts.values.sum.toLong
    val want = (0 until B).map { b =>
      val p = (tCounts.getOrElse(b, 0) + 1).toDouble / (tTot + B)
      val q = (rCounts.getOrElse(b, 0) + 1).toDouble / (rTot + B)
      Math.round((Math.log(p) - Math.log(q)) * 1e5)
    }
    assert(got.toSeq === want)
  }

  test("target-like documents outscore raw-like documents under the fitted weights") {
    val w = Dsir.weightsArray(
      Dsir.weights(spark,
        Dsir.fit(target, "doc_id", "text", B),
        Dsir.fit(raw, "doc_id", "text", B), B), B)
    val probe = Seq((100L, "alpha beta alpha"), (101L, "omega psi chi"))
      .toDF("doc_id", "text")
    val s = Dsir.score(probe, "doc_id", "text", w)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(s(100L) > 0 && s(101L) < 0 && s(100L) > s(101L))
  }

  test("literal-fold and explode-join scoring are bit-identical, both broadcast and shuffle") {
    val w = Dsir.weightsArray(
      Dsir.weights(spark,
        Dsir.fit(target, "doc_id", "text", B),
        Dsir.fit(raw, "doc_id", "text", B), B), B)
    val docs = spark.read.parquet(s"$sf/documents.parquet").select("doc_id", "text")
    val wDf = w.toSeq.zipWithIndex
      .map { case (v, b) => (b.toLong, v) }.toDF("bucket", "w")
    val a = Dsir.score(docs, "doc_id", "text", w).orderBy("doc_id").collect()
    val b = DsirTwins.scoreJoin(docs, "doc_id", "text", wDf, B).orderBy("doc_id").collect()
    val c = DsirTwins.scoreJoin(docs, "doc_id", "text", wDf, B, broadcastWeights = false)
      .orderBy("doc_id").collect()
    assert(a.toSeq === b.toSeq)
    assert(a.toSeq === c.toSeq)
  }

  test("literal-route scoring is map-only; selection never plans a global sort") {
    val w = Array.fill(B)(1L)
    val docs = spark.read.parquet(s"$sf/documents.parquet").select("doc_id", "text")
    val scored = Dsir.score(docs, "doc_id", "text", w)
    assert(!scored.queryExecution.executedPlan.toString.contains("Exchange"))
    val sel = Dsir.selectTopK(scored, "doc_id", 10)
    assert(!sel.queryExecution.executedPlan.toString.contains("rangepartitioning"))
  }

  test("selectTopK equals the sort-based reference, ties to the smaller id") {
    val scored = Seq(
      (1L, 50L, 3), (2L, 90L, 3), (3L, 90L, 3), (4L, 10L, 3), (5L, 70L, 3)
    ).toDF("doc_id", "dsir_score", "n_grams")
    val got = Dsir.selectTopK(scored, "doc_id", 3)
      .select("doc_id", "dsir_score", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
    assert(got === Seq((2L, 90L, 1), (3L, 90L, 2), (5L, 70L, 3)))
  }

  test("sampleGumbel replays an exact driver-side fold and is score-monotone") {
    val scored = (1L to 40L).map(i => (i, i * 10L, 1))
      .toDF("doc_id", "dsir_score", "n_grams")
    val got = Dsir.sampleGumbel(scored, "doc_id", 8, seed = 42L)
      .select("doc_id", "rank").collect().map(r => (r.getLong(0), r.getInt(1))).toSeq

    // independent replay of key = score/scale + gumbel(md5(seed:id))
    def key(id: Long, score: Long): Double = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(s"42:$id".getBytes("UTF-8")).map("%02x".format(_))
        .mkString.substring(0, 13)
      val u = (java.lang.Long.parseLong(hex, 16).toDouble + 1.0) / 4.503599627370497e15
      score / 1e5 + -Math.log(-Math.log(u))
    }
    val want = (1L to 40L).map(i => (i, key(i, i * 10L)))
      .sortBy { case (id, k) => (-k, id) }.take(8).zipWithIndex
      .map { case ((id, _), r) => (id, r + 1) }
    assert(got === want)

    // monotonicity: boost a selected doc's score with noise fixed — it stays selected
    val boosted = (1L to 40L).map(i => (i, if (i == got.head._1) 100000L else i * 10L, 1))
      .toDF("doc_id", "dsir_score", "n_grams")
    val still = Dsir.sampleGumbel(boosted, "doc_id", 8, seed = 42L)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(still.contains(got.head._1))

    // different seed, different draw (same scores)
    val other = Dsir.sampleGumbel(scored, "doc_id", 8, seed = 7L)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(other !== got.map(_._1).toSet)
  }
}
