package graft.operators

import org.apache.spark.sql.{Column, DataFrame, functions => F}
import graft.functions.{text => T}

/** Reference spellings that specs pin library routes against: each is
  * the plain composition a native or literal route replaced, kept as an
  * executable specification.
  */
object QualityRulesTwins {

  /** The Column-composed (HOF) spelling of [[QualityRules.gopherDupNGrams]] — kept
    * as the readable executable specification the native expression is
    * spec-pinned against (the WindowMd5/SortedJaccard discipline).
    */
  def gopherDupNGramsHof(docs: DataFrame, idCol: String, textCol: String,
                         t: QualityRules.DupNGramThresholds = QualityRules.DupNGramThresholds()): DataFrame = {
    val ns = t.maxFracs.map(_._1)
    require(ns.nonEmpty && ns.forall(_ >= 2), s"n-gram sizes must be >= 2: $ns")
    require(ns == ns.distinct, s"duplicate n-gram sizes: $ns")
    val nsSorted = ns.sorted

    def emptyStrings: Column = F.array().cast("array<string>")

    def gramsAt(toks: Column, n: Int): Column =
      F.when(F.size(toks) >= n,
        F.transform(F.sequence(F.lit(1), F.size(toks) - (n - 1)),
          (i: Column) => F.concat_ws(" ",
            (0 until n).map(o => F.element_at(toks, i + o)): _*)))
        .otherwise(emptyStrings)

    // gram_n[i] = gram_p[i] ⊕ toks[i+p .. i+n-1] — extends the staged
    // shorter gram instead of re-concatenating n tokens. The when
    // guard keeps `sequence` ascending (size(prev) == n−p would flip
    // it) and doubles as the second reference that pins the stage.
    def gramsFrom(prev: Column, toks: Column, p: Int, n: Int): Column =
      F.when(F.size(prev) >= (n - p + 1),
        F.transform(F.sequence(F.lit(1), F.size(prev) - (n - p)),
          (i: Column) => F.concat_ws(" ",
            F.element_at(prev, i) +: (p until n).map(o => F.element_at(toks, i + o)): _*)))
        .otherwise(emptyStrings)

    // distinct grams occurring >= 2 times: run-length fold over the
    // sorted gram array, appending each gram exactly when its run hits 2
    def dupGrams(grams: Column): Column = {
      val zero = F.struct(F.lit("").as("prev"), F.lit(0L).as("run"),
        emptyStrings.as("dups"))
      F.aggregate(F.array_sort(grams), zero,
        (a: Column, g: Column) => {
          val run = F.when(g === a.getField("prev"), a.getField("run") + 1L).otherwise(F.lit(1L))
          F.struct(g.as("prev"), run.as("run"),
            F.when(run === 2L, F.array_append(a.getField("dups"), g))
              .otherwise(a.getField("dups")).as("dups"))
        },
        s => s.getField("dups"))
    }

    // per-gram-position duplicate flags; the empty-dictionary branch is
    // both the fast path and the second __d reference that keeps the
    // dup fold staged (inlined once-referenced, it re-runs PER ELEMENT)
    def dupFlags(n: Int): Column =
      F.when(F.size(F.col(s"__d$n")) === 0,
        F.array_repeat(F.lit(false), F.size(F.col(s"__g$n"))))
        .otherwise(F.transform(F.col(s"__g$n"),
          (g: Column) => F.array_contains(F.col(s"__d$n"), g)))

    // covered token chars: position j (1-based) is covered iff any gram
    // window [j-n+1, j] ∩ [1, m] carries a duplicate flag; gated on
    // `exists` so clean rows never pay the O(tokens × n) fold
    def coveredChars(toks: Column, flags: Column, n: Int): Column = {
      val m = F.size(flags)
      val fold = F.aggregate(F.sequence(F.lit(1), F.size(toks)), F.lit(0L),
        (acc: Column, j: Column) => {
          val lo = F.greatest(F.lit(1), j - (n - 1))
          val hi = F.least(j, m)
          val window = F.slice(flags, lo, F.greatest(hi - lo + 1, F.lit(0)))
          acc + F.when(F.exists(window, (x: Column) => x),
            F.length(F.element_at(toks, j)).cast("long")).otherwise(0L)
        })
      F.when(F.exists(flags, (x: Column) => x), fold).otherwise(F.lit(0L))
    }

    val s1 = docs.select(F.col(idCol), T.tokens(F.col(textCol)).as("__toks"))
    // chained gram stages, shortest n first
    val n0 = nsSorted.head
    var grams = s1.select(F.col(idCol), F.col("__toks"),
      gramsAt(F.col("__toks"), n0).as(s"__g$n0"))
    for ((p, n) <- nsSorted.zip(nsSorted.tail)) {
      val keep = F.col(idCol) +: F.col("__toks") +:
        nsSorted.takeWhile(_ <= p).map(b => F.col(s"__g$b"))
      grams = grams.select(keep :+
        gramsFrom(F.col(s"__g$p"), F.col("__toks"), p, n).as(s"__g$n"): _*)
    }
    val s3 = grams.select(F.col(idCol) +: F.col("__toks") +:
      nsSorted.map(n => F.col(s"__g$n")) ++:
      nsSorted.map(n => dupGrams(F.col(s"__g$n")).as(s"__d$n")): _*)
    val s4 = s3.select(F.col(idCol) +: F.col("__toks") +:
      nsSorted.map(n => dupFlags(n).as(s"__f$n")): _*)
    val s5 = s4.select(F.col(idCol) +:
      charSumTokens(F.col("__toks")).as("__total_chars") +:
      nsSorted.map(n => coveredChars(F.col("__toks"), F.col(s"__f$n"), n).as(s"__c$n")): _*)
    QualityRules.dupNGramFinish(s5, idCol, t)
  }

  private def charSumTokens(toks: Column): Column =
    F.aggregate(toks, F.lit(0L),
      (acc: Column, x: Column) => acc + F.length(x).cast("long"))
}

object DsirTwins {

  /** Join-route scoring for bucket spaces too large to ride the plan
    * as a literal: explode the bucket stream, join the weight frame
    * (broadcast by default; `broadcastWeights = false` shuffles both
    * sides for weight tables past broadcast size), and re-aggregate
    * per document. Bit-identical to [[Dsir.score]] (integer sums are
    * order-free; spec-pinned).
    */
  def scoreJoin(docs: DataFrame, idCol: String, textCol: String,
                w: DataFrame, buckets: Int,
                broadcastWeights: Boolean = true): DataFrame = {
    val wSide = if (broadcastWeights) F.broadcast(w) else w
    val exploded = Dsir.bucketStream(docs, idCol, textCol, buckets)
      .select(F.col(idCol), F.posexplode_outer(F.col("__buckets")).as(Seq("__p", "bucket")))
    exploded.join(wSide, Seq("bucket"), "left")
      .groupBy(idCol)
      .agg(
        F.coalesce(F.sum(F.when(F.col("__p").isNotNull, F.col("w"))), F.lit(0L))
          .cast("long").as("dsir_score"),
        F.count(F.col("__p")).cast("int").as("n_grams"))
  }
}
