package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession, functions => F}
import graft.functions.{text => T, aggregates => A}

/** DSIR-style data selection — importance resampling over hashed
  * n-gram features (Xie et al. 2023, "Data Selection for Language
  * Models via Importance Resampling"). The published recipe for
  * picking pretraining data that LOOKS LIKE a target distribution
  * (e.g. select web pages that resemble Wikipedia+books):
  *
  *  1. FEATURES — each document is a bag of hashed unigrams+bigrams
  *     over `buckets` hash buckets;
  *  2. FIT — bucket-count histograms of a target corpus and the raw
  *     corpus give two multinomials p (target) and q (raw), Laplace
  *     smoothed;
  *  3. WEIGH — a document's log importance weight is
  *     Σ_grams (ln p_b − ln q_b): high = target-like, low = raw-like;
  *  4. SELECT — take the top-k by weight, or sample k WITHOUT
  *     replacement via the Gumbel-top-k trick for diversity.
  *
  * Scale shape (the part that matters at 100 TB): fitting is two
  * bucket-count aggregates with map-side partials whose output is
  * bounded by `buckets` (not corpus size); the per-bucket log-ratio
  * table is a persisted bounded artifact (the centroids/codebooks
  * lifecycle); SCORING is map-only — the weight table rides the plan
  * as a literal array (the E14 classifier pattern) and each document
  * folds its own gram stream against it, no join, no shuffle; and
  * selection is the bounded per-partition top-k aggregate (≤ k rows
  * of state per partition, one reduce — never a global sort).
  *
  * Weights are INTEGER centi-nats (scaled, rounded log-ratios — the
  * E14 trick): order-free integer sums make scoring and selection
  * bit-replayable by a SQL oracle, with the libm `ln` confined to the
  * fit step (spec-pinned against an independent reference; the
  * scoring/selection contract is exact given any weight table).
  *
  * Reference anchor: the reference selects rows by predicate/recency
  * (idempotent_fx_pipeline.py:160-172 "10 most recent"); this is the
  * corpus-scale generalization a training-data pipeline needs.
  */
object Dsir {

  /** 52-bit md5-prefix hash bucket of a gram (the S2 hash-law recipe:
    * engine-independent, so oracles replay it).
    */
  def bucketOf(g: Column, buckets: Int): Column =
    F.pmod(
      F.conv(F.substring(F.md5(g.cast("binary")), 1, 13), 16, 10).cast("long"),
      F.lit(buckets.toLong))

  /** Per-document hashed-feature stream: bucket ids of all unigrams
    * and bigrams, staged per the §4 HOF rule (tokens and the gram
    * stream are each their own projection, consumed through ≥2
    * references). Emits (idCol, carry..., __buckets array<long>).
    * `sep` is the bigram joiner — part of each caller's hash law
    * (DSIR uses " ", the E14 classifier "_"); `carry` threads payload
    * columns (e.g. a label) through the staged projections.
    */
  private[operators] def bucketStream(docs: DataFrame, idCol: String, textCol: String,
                                      buckets: Int, sep: String = " ",
                                      carry: Seq[String] = Nil): DataFrame = {
    val carried = carry.map(F.col)
    val s1 = docs.select(F.col(idCol) +: carried :+ T.tokens(F.col(textCol)).as("__toks"): _*)
    val toks = F.col("__toks")
    val bigrams = F.when(F.size(toks) >= 2,
      F.transform(F.sequence(F.lit(1), F.size(toks) - 1),
        (i: Column) => F.concat_ws(sep, F.element_at(toks, i), F.element_at(toks, i + 1))))
      .otherwise(F.array().cast("array<string>"))
    val s2 = s1.select(F.col(idCol) +: carried :+ F.concat(toks, bigrams).as("__grams"): _*)
    s2.select(F.col(idCol) +: carried :+
      F.when(F.size(F.col("__grams")) === 0, F.array().cast("array<long>"))
        .otherwise(F.transform(F.col("__grams"),
          (g: Column) => bucketOf(g, buckets))).as("__buckets"): _*)
  }

  /** Bucket-count histogram of a corpus: (bucket, cnt), ≤ `buckets`
    * rows out of one explode + keyed count (map-side partials; the
    * corpus is touched once). This is the whole "fit" pass of DSIR —
    * run it on the target corpus and on (a sample of) the raw corpus.
    */
  def fit(docs: DataFrame, idCol: String, textCol: String, buckets: Int): DataFrame =
    bucketStream(docs, idCol, textCol, buckets)
      .select(F.explode(F.col("__buckets")).as("bucket"))
      .groupBy("bucket").agg(F.count(F.lit(1)).as("cnt"))

  /** Per-bucket integer centi-nat importance weights from two fitted
    * histograms: round(scale × (ln p_b − ln q_b)) with Laplace
    * smoothing p_b = (target_b + 1)/(T + buckets). Emits exactly
    * `buckets` rows (absent buckets get the shared smoothed ratio) —
    * a bounded artifact to persist and reuse across scoring runs.
    */
  def weights(spark: SparkSession, target: DataFrame, raw: DataFrame,
              buckets: Int, scale: Double = 1e5): DataFrame = {
    val all = spark.range(buckets).select(F.col("id").cast("long").as("bucket"))
    val t = target.select(F.col("bucket"), F.col("cnt").as("__tc"))
    val r = raw.select(F.col("bucket"), F.col("cnt").as("__rc"))
    // totals are single-row aggregates, broadcast by construction
    val tTot = target.agg(F.sum("cnt").cast("long").as("__tt"))
    val rTot = raw.agg(F.sum("cnt").cast("long").as("__rt"))
    val joined = all
      .join(F.broadcast(t), Seq("bucket"), "left")
      .join(F.broadcast(r), Seq("bucket"), "left")
      .crossJoin(F.broadcast(tTot)).crossJoin(F.broadcast(rTot))
    val p = (F.coalesce(F.col("__tc"), F.lit(0L)) + 1L).cast("double") /
      (F.col("__tt") + buckets).cast("double")
    val q = (F.coalesce(F.col("__rc"), F.lit(0L)) + 1L).cast("double") /
      (F.col("__rt") + buckets).cast("double")
    joined.select(F.col("bucket"),
      F.round((F.log(p) - F.log(q)) * scale).cast("long").as("w"))
  }

  /** Weight table → dense array indexed by bucket (bounded collect —
    * the persisted-artifact lifecycle, like centroids/codebooks).
    */
  def weightsArray(w: DataFrame, buckets: Int): Array[Long] = {
    val arr = Array.ofDim[Long](buckets)
    w.select("bucket", "w").collect()
      .foreach(r => arr(r.getLong(0).toInt) = r.getLong(1))
    arr
  }

  /** Map-only scoring: each document's integer importance score
    * Σ_grams w[bucket(gram)] via an in-row fold against the weight
    * table as a plan LITERAL (no join, no shuffle — the E14 classifier
    * shape; fine up to ~1M buckets of literal). Emits
    * (idCol, dsir_score long, n_grams int).
    */
  def score(docs: DataFrame, idCol: String, textCol: String,
            w: Array[Long]): DataFrame = {
    // the fold is the native BucketVoteSum walk (r17) — one compiled
    // loop per row, bit-identical to the interpreted
    // aggregate+element_at HOF it replaces (an integer sum in index
    // order over the same buckets); empty arrays sum to 0 like the old
    // size()==0 branch
    bucketStream(docs, idCol, textCol, w.length)
      .select(F.col(idCol),
        graft.functions.native.bucket_vote_sum(F.col("__buckets"), w.toSeq)
          .as("dsir_score"),
        F.size(F.col("__buckets")).as("n_grams"))
  }

  /** Top-k documents by importance score, ties to the smaller id —
    * the deterministic "select the most target-like k" face. Bounded
    * per-partition top-k aggregate (≤ k rows of state per partition,
    * one reduce), never a global sort. Emits (idCol, dsir_score,
    * rank 1..k).
    */
  def selectTopK(scored: DataFrame, idCol: String, k: Int): DataFrame =
    scored
      .agg(A.top_k_payload(F.col("dsir_score"), F.col(idCol),
        F.struct(F.col(idCol), F.col("dsir_score")), k).as("__top"))
      .select(F.posexplode(F.col("__top")).as(Seq("__r", "__row")))
      .select(F.col(s"__row.$idCol").as(idCol),
        F.col("__row.dsir_score").as("dsir_score"),
        (F.col("__r") + 1).as("rank"))

  /** Gumbel-top-k sampling WITHOUT replacement, proportional to
    * exp(score/scale) — the paper's resampling face (top-k = argmax is
    * its zero-temperature limit). The Gumbel noise is derived from an
    * md5 hash of (seed, id) — RNG-free and reproducible like every
    * sampler in [[Sampling]]; libm `ln` makes this face rows-only
    * (DsirSpec replays the exact fold and pins monotonicity: raising a
    * score with noise held fixed never evicts a selected document).
    */
  def sampleGumbel(scored: DataFrame, idCol: String, k: Int,
                   seed: Long, scale: Double = 1e5): DataFrame = {
    val u = (F.conv(F.substring(F.md5(
      F.concat_ws(":", F.lit(seed), F.col(idCol)).cast("binary")), 1, 13), 16, 10)
      .cast("double") + 1.0) / 4.503599627370497e15 // (2^52 hash + 1) / (2^52 + 1) ∈ (0, 1]
    val gumbel = -F.log(-F.log(u))
    val key = F.col("dsir_score").cast("double") / scale + gumbel
    scored
      .agg(A.top_k_payload(key, F.col(idCol),
        F.struct(F.col(idCol), F.col("dsir_score")), k).as("__top"))
      .select(F.posexplode(F.col("__top")).as(Seq("__r", "__row")))
      .select(F.col(s"__row.$idCol").as(idCol),
        F.col("__row.dsir_score").as("dsir_score"),
        (F.col("__r") + 1).as("rank"))
  }
}
