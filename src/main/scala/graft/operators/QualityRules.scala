package graft.operators

import org.apache.spark.sql.{Column, DataFrame, functions => F}
import graft.functions.{text => T}

/** The two canonical published web-corpus filter rule sets, as
  * map-only report operators: the Gopher quality rules (Rae et al.
  * 2021, "Scaling Language Models: ... Gopher", Appendix A1.1) and
  * the C4 line/page filters (Raffel et al. 2020, "Exploring the
  * Limits of Transfer Learning...", §2.2). Every serious LLM data
  * pipeline runs one or both before the statistical signals (E1
  * quality score, E10/E15 LM surprisal, E14 learned classifier);
  * these are the deterministic rule-based gates that remove the
  * obviously-broken pages first.
  *
  * Both operators emit one row per document with every rule's
  * MEASURE and pass FLAG (plus the conjunction), not just a filtered
  * corpus — the report shape is what a pipeline needs to tune
  * thresholds and audit what a gate dropped (the A26 Constraints
  * philosophy). Filtering is `.where(col("pass"))` on top.
  *
  * Scale shape: both are ONE map-only projection — token/line
  * statistics are in-row array folds over the split text, thresholds
  * are plan literals; no shuffle, no UDF, no state. 100 TB filters at
  * scan speed, and the rules compose with any downstream plan.
  *
  * Everything is integer counts and exactly-rounded IEEE divisions
  * of integers (the corpus_mix discipline), so a SQL oracle replays
  * every measure and flag bit-for-bit.
  */
object QualityRules {

  /** Gopher rule thresholds (defaults = the published Appendix A1.1
    * values). `stopwords` is the "must contain ≥ minStopwords
    * distinct members" list — Gopher's is (the, be, to, of, and,
    * that, have, with); callers tune it per corpus.
    */
  final case class GopherThresholds(
      minWords: Int = 50,
      maxWords: Int = 100000,
      minMeanWordLen: Double = 3.0,
      maxMeanWordLen: Double = 10.0,
      maxSymbolWordRatio: Double = 0.1,
      maxBulletLineFrac: Double = 0.9,
      maxEllipsisLineFrac: Double = 0.3,
      minAlphaWordFrac: Double = 0.8,
      minStopwords: Int = 2,
      stopwords: Seq[String] =
        Seq("the", "be", "to", "of", "and", "that", "have", "with"))

  /** Per-document Gopher rule report: measures
    * (n_words, mean_word_len, symbol_word_ratio, bullet_line_frac,
    * ellipsis_line_frac, alpha_word_frac, n_stop_distinct), one
    * boolean per rule, and `pass` = all rules hold.
    *
    * Rule semantics (each a published Gopher filter):
    *  - word count within [minWords, maxWords];
    *  - mean word length within [minMeanWordLen, maxMeanWordLen];
    *  - symbol-to-word ratio ('#' chars + '...' occurrences, counted
    *    by replace-shrinkage so an oracle replays it) ≤ max;
    *  - fraction of lines starting (after left-trim) with a bullet
    *    ('•', '-', '*') ≤ max;
    *  - fraction of lines ending (after right-trim) with '...' or
    *    '…' ≤ max;
    *  - fraction of words containing ≥1 ASCII letter ≥ min
    *    (tokens are lowercased, so [a-z] covers the alphabet);
    *  - ≥ minStopwords DISTINCT members of `stopwords` present.
    *
    * Tokenization is the corpus-wide E3 trim+lower+whitespace-split
    * convention; lines split on '\n' of the RAW text. A blank
    * document tokenizes to one empty token (n_words=1, zero-length),
    * matching every other operator in the engine.
    */
  def gopher(docs: DataFrame, idCol: String, textCol: String,
             t: GopherThresholds = GopherThresholds()): DataFrame =
    docs.select(F.col(idCol) +:
      gopherCols(F.col(textCol), t).map { case (n, c) => c.as(n) }: _*)

  /** The gate face: ONE boolean column — the conjunction of every
    * Gopher rule — for inline use in a filter (the CorpusPipeline
    * stage-1 hook). Bit-identical to the report's `pass` column by
    * construction (same column tree).
    */
  def gopherPass(c: Column, t: GopherThresholds = GopherThresholds()): Column =
    gopherCols(c, t).last match { case ("pass", col) => col }

  private def gopherCols(txt: Column, t: GopherThresholds): Seq[(String, Column)] = {
    val toks = T.tokens(txt)
    val lines = F.split(txt, "\n")

    val nWords = F.size(toks).cast("long")
    val wordChars = F.aggregate(toks, F.lit(0L),
      (acc: Column, tk: Column) => acc + F.length(tk).cast("long"))
    val meanWordLen = wordChars.cast("double") / nWords.cast("double")

    val hashCnt =
      (F.length(txt) - F.length(F.replace(txt, F.lit("#"), F.lit("")))).cast("long")
    val ellipsisCnt =
      ((F.length(txt) - F.length(F.replace(txt, F.lit("..."), F.lit("")))) / 3).cast("long")
    val symbolRatio = (hashCnt + ellipsisCnt).cast("double") / nWords.cast("double")

    val nLines = F.size(lines).cast("long")
    val bulletLines = F.size(F.filter(lines, (l: Column) => {
      val lt = F.ltrim(l)
      lt.startsWith("•") || lt.startsWith("-") || lt.startsWith("*")
    })).cast("long")
    val ellipsisLines = F.size(F.filter(lines, (l: Column) => {
      val rt = F.rtrim(l)
      rt.endsWith("...") || rt.endsWith("…")
    })).cast("long")
    val bulletFrac = bulletLines.cast("double") / nLines.cast("double")
    val ellipsisFrac = ellipsisLines.cast("double") / nLines.cast("double")

    val alphaWords =
      F.size(F.filter(toks, (tk: Column) => tk.rlike("[a-z]"))).cast("long")
    val alphaFrac = alphaWords.cast("double") / nWords.cast("double")

    val stopDistinct = F.size(F.array_intersect(
      F.array_distinct(toks),
      F.array(t.stopwords.map(F.lit): _*))).cast("long")

    val passWords = nWords >= t.minWords && nWords <= t.maxWords
    val passMeanLen =
      meanWordLen >= t.minMeanWordLen && meanWordLen <= t.maxMeanWordLen
    val passSymbol = symbolRatio <= t.maxSymbolWordRatio
    val passBullet = bulletFrac <= t.maxBulletLineFrac
    val passEllipsis = ellipsisFrac <= t.maxEllipsisLineFrac
    val passAlpha = alphaFrac >= t.minAlphaWordFrac
    val passStop = stopDistinct >= t.minStopwords

    Seq(
      "n_words" -> nWords,
      "mean_word_len" -> meanWordLen,
      "symbol_word_ratio" -> symbolRatio,
      "bullet_line_frac" -> bulletFrac,
      "ellipsis_line_frac" -> ellipsisFrac,
      "alpha_word_frac" -> alphaFrac,
      "n_stop_distinct" -> stopDistinct,
      "pass_words" -> passWords,
      "pass_mean_word_len" -> passMeanLen,
      "pass_symbol_ratio" -> passSymbol,
      "pass_bullet_lines" -> passBullet,
      "pass_ellipsis_lines" -> passEllipsis,
      "pass_alpha_words" -> passAlpha,
      "pass_stopwords" -> passStop,
      "pass" -> (passWords && passMeanLen && passSymbol && passBullet &&
        passEllipsis && passAlpha && passStop))
  }

  /** Gopher repetition-rule thresholds (defaults = the published
    * Appendix A1.1 repetition table values).
    */
  final case class RepetitionThresholds(
      maxDupLineFrac: Double = 0.30,
      maxDupLineCharFrac: Double = 0.20,
      maxTop2GramCharFrac: Double = 0.20,
      maxTop3GramCharFrac: Double = 0.18,
      maxTop4GramCharFrac: Double = 0.16)

  /** The OTHER half of the Gopher rule set — the repetition filters
    * (Rae et al. 2021, Appendix A1.1 repetition table), complementing
    * [[gopher]]'s quality rules. Within-document repetition is the
    * signature of templated/spammy/looping pages, and these rules are
    * the published cut-offs:
    *  - duplicate-LINE fraction: (n_lines − n_distinct_lines)/n_lines
    *    — the share of line occurrences beyond each line's first;
    *  - duplicate-line CHARACTER fraction: the same mass weighted by
    *    line length (total line chars − distinct-line chars)/total;
    *  - top n-gram character fraction (n = 2, 3, 4): occurrences of the
    *    most frequent token n-gram × its character length (tokens
    *    joined with one space), over the document's character length —
    *    ties on count resolve to the lexicographically smallest gram
    *    (both sides scan grams in sorted order, so the tie rule is
    *    "first in sort order", engine-independent for ASCII tokens).
    * (Gopher also cuts on duplicate PARAGRAPHS; with the corpus-wide
    * one-line-per-unit rendering, paragraphs ≡ lines here — callers
    * with blank-line-separated paragraphs re-split and reuse the same
    * line rules. The duplicated-n-gram tail of the table (n = 5..10,
    * ALL duplicate grams rather than the top one) is
    * [[gopherDupNGrams]]; the E6 repetition signal and C12 span dedup
    * cover the duplicated-window family corpus-wide.)
    *
    * Map-only like [[gopher]]: line stats are in-row array folds, the
    * top-gram search is an in-row fold over the SORTED gram array
    * (run-length of equal neighbors — no per-doc hash map, no
    * shuffle). Integer counts + exact IEEE divisions ⇒ a SQL oracle
    * replays every measure and flag.
    *
    * Every HOF input is staged as its own projection so lambda bodies
    * only dereference row slots (the Dedup perf rule): an un-staged
    * `split` under `transform` re-tokenizes the document once PER GRAM
    * — O(tokens²) interpreted work per doc (measured 153 s vs ~1 s at
    * sf0.1). The multiple lambda-body references to each staged array
    * keep CollapseProject from re-inlining the split.
    */
  def gopherRepetition(docs: DataFrame, idCol: String, textCol: String,
                       t: RepetitionThresholds = RepetitionThresholds()): DataFrame = {
    // sorted n-gram array from a STAGED token-array slot
    def gramsSorted(toks: Column, n: Int): Column =
      F.array_sort(
        F.when(F.size(toks) >= n,
          F.transform(F.sequence(F.lit(1), F.size(toks) - (n - 1)),
            (i: Column) => F.concat_ws(" ",
              (0 until n).map(o => F.element_at(toks, i + o)): _*)))
          .otherwise(F.array().cast("array<string>")))

    def charSum(arr: Column): Column = F.aggregate(arr, F.lit(0L),
      (acc: Column, l: Column) => acc + F.length(l).cast("long"))

    // most-frequent gram via a run-length fold over the sorted array:
    // (prev, run, best_run, best_gram); a later gram only replaces on a
    // STRICTLY longer run, so equal counts keep the lexicographically
    // smallest (first-in-sort-order) gram
    def topRun(grams: Column): Column = {
      val zero = F.struct(F.lit("").as("prev"), F.lit(0L).as("run"),
        F.lit(0L).as("best_run"), F.lit("").as("best_gram"))
      F.aggregate(grams, zero,
        (a: Column, g: Column) => {
          val run = F.when(g === a.getField("prev"), a.getField("run") + 1L).otherwise(F.lit(1L))
          val better = run > a.getField("best_run")
          F.struct(g.as("prev"), run.as("run"),
            F.when(better, run).otherwise(a.getField("best_run")).as("best_run"),
            F.when(better, g).otherwise(a.getField("best_gram")).as("best_gram"))
        })
    }

    def topFrac(best: Column, txtLen: Column): Column =
      F.when(txtLen === 0 || best.getField("best_run") === 0, F.lit(0.0))
        .otherwise(
          (best.getField("best_run") * F.length(best.getField("best_gram")).cast("long"))
            .cast("double") / txtLen.cast("double"))

    val stats = docs
      .select(F.col(idCol), F.col(textCol).as("__txt"),
        T.tokens(F.col(textCol)).as("__toks"),
        F.split(F.col(textCol), "\n").as("__lines"))
      .select(F.col(idCol), F.length(F.col("__txt")).as("__txt_len"),
        F.col("__lines"), F.array_distinct(F.col("__lines")).as("__lines_d"),
        gramsSorted(F.col("__toks"), 2).as("__g2"),
        gramsSorted(F.col("__toks"), 3).as("__g3"),
        gramsSorted(F.col("__toks"), 4).as("__g4"))
      .select(F.col(idCol), F.col("__txt_len"),
        F.size(F.col("__lines")).cast("long").as("__n_lines"),
        F.size(F.col("__lines_d")).cast("long").as("__n_distinct"),
        charSum(F.col("__lines")).as("__total_chars"),
        charSum(F.col("__lines_d")).as("__distinct_chars"),
        topRun(F.col("__g2")).as("__t2"),
        topRun(F.col("__g3")).as("__t3"),
        topRun(F.col("__g4")).as("__t4"))

    val dupLineFrac = (F.col("__n_lines") - F.col("__n_distinct")).cast("double") /
      F.col("__n_lines").cast("double")
    val dupLineCharFrac = F.when(F.col("__total_chars") === 0, F.lit(0.0))
      .otherwise((F.col("__total_chars") - F.col("__distinct_chars")).cast("double") /
        F.col("__total_chars").cast("double"))
    val top2 = topFrac(F.col("__t2"), F.col("__txt_len"))
    val top3 = topFrac(F.col("__t3"), F.col("__txt_len"))
    val top4 = topFrac(F.col("__t4"), F.col("__txt_len"))

    val passDupLines = dupLineFrac <= t.maxDupLineFrac
    val passDupChars = dupLineCharFrac <= t.maxDupLineCharFrac
    val passTop2 = top2 <= t.maxTop2GramCharFrac
    val passTop3 = top3 <= t.maxTop3GramCharFrac
    val passTop4 = top4 <= t.maxTop4GramCharFrac

    stats.select(
      F.col(idCol),
      dupLineFrac.as("dup_line_frac"),
      dupLineCharFrac.as("dup_line_char_frac"),
      top2.as("top2gram_char_frac"),
      top3.as("top3gram_char_frac"),
      top4.as("top4gram_char_frac"),
      passDupLines.as("pass_dup_lines"),
      passDupChars.as("pass_dup_line_chars"),
      passTop2.as("pass_top2gram"),
      passTop3.as("pass_top3gram"),
      passTop4.as("pass_top4gram"),
      (passDupLines && passDupChars && passTop2 && passTop3 && passTop4).as("pass"))
  }

  /** Thresholds for the duplicated-n-gram tail of the Gopher
    * repetition table (defaults = the published Appendix A1.1 values
    * for n = 5..10).
    */
  final case class DupNGramThresholds(
      maxFracs: Seq[(Int, Double)] = Seq(
        5 -> 0.15, 6 -> 0.14, 7 -> 0.13, 8 -> 0.12, 9 -> 0.11, 10 -> 0.10))

  /** The duplicated-n-gram tail of the Gopher repetition table (Rae et
    * al. 2021, Appendix A1.1): for each n (published: 5..10), the
    * fraction of characters contained within ALL duplicate n-grams —
    * not just the most frequent one as in [[gopherRepetition]]'s
    * n = 2..4 rules. Exact semantics here (documented because the
    * paper leaves the accounting to the implementer):
    *
    *  - a token n-gram is DUPLICATE iff it occurs ≥ 2 times in the
    *    document's token stream;
    *  - a token position is COVERED iff at least one of the ≤ n gram
    *    windows containing it is a duplicate gram (overlapping
    *    coverage counted ONCE — a union, not a sum, so the fraction
    *    can never exceed 1);
    *  - the fraction is covered token characters / total token
    *    characters (the concatenated-words view — whitespace is
    *    layout, not content; 0.0 for the empty document).
    *
    * Map-only, fully staged (the Dedup HOF rule): positional gram
    * arrays (built INCREMENTALLY — gram n extends gram n−1 with one
    * token, so the string assembly is O(m) per n, not O(m·n)), the
    * per-doc duplicate-gram dictionary (run-length fold over the
    * sorted grams, appending each gram once when its run hits 2),
    * per-position duplicate flags, and the covered-char fold (a
    * windowed `exists` over the flag array — O(tokens × n) per doc, no
    * per-doc hash map) are each their own projection. Staging here
    * needs care beyond the split rule: CollapseProject re-inlines any
    * column REFERENCED ONCE into its consumer, so a staged fold that a
    * later lambda uses once gets re-evaluated per array element (the
    * dup dictionary inside the flags transform turned O(m) into O(m²)
    * — 189 s at sf0.1). Every staged column is therefore referenced
    * at least twice by its consumer (a cheap guard on the same column
    * blocks the collapse), and the covered-char fold short-circuits
    * through an `exists` gate — most documents have no duplicate
    * grams at the larger n, so the O(tokens × n) fold only runs on
    * offending rows. No shuffle; all-integer counts ⇒ a SQL oracle
    * replays every measure and flag.
    */
  def gopherDupNGrams(docs: DataFrame, idCol: String, textCol: String,
                      t: DupNGramThresholds = DupNGramThresholds()): DataFrame = {
    val ns = t.maxFracs.map(_._1).sorted
    val s1 = docs.select(F.col(idCol), T.tokens(F.col(textCol)).as("__toks"))
    val s2 = s1.select(F.col(idCol),
      graft.functions.native.dup_ngram_coverage(F.col("__toks"), ns).as("__cov"))
    val s5 = s2.select(F.col(idCol) +:
      F.col("__cov").getField("total_chars").as("__total_chars") +:
      ns.zipWithIndex.map { case (n, ix) =>
        F.element_at(F.col("__cov").getField("covered"), ix + 1).as(s"__c$n")
      }: _*)
    dupNGramFinish(s5, idCol, t)
  }

  /** Shared finish: (id, __total_chars, __c{n}…) → fracs + flags. */
  private[operators] def dupNGramFinish(s5: DataFrame, idCol: String,
                                         t: DupNGramThresholds): DataFrame = {
    val fracs = t.maxFracs.map { case (n, _) =>
      n -> F.when(F.col("__total_chars") === 0, F.lit(0.0))
        .otherwise(F.col(s"__c$n").cast("double") / F.col("__total_chars").cast("double"))
    }
    val flags = t.maxFracs.map { case (n, mx) => n -> (fracs.toMap.apply(n) <= mx) }

    s5.select(F.col(idCol) +:
      (fracs.map { case (n, c) => c.as(s"dup${n}gram_char_frac") } ++
        flags.map { case (n, c) => c.as(s"pass_dup${n}gram") } :+
        flags.map(_._2).reduce(_ && _).as("pass")): _*)
  }

  /** C4 line/page filters (Raffel et al. 2020 §2.2), as a
    * per-document report with the cleaned text:
    *  - a LINE survives iff, after trimming, it ends in a terminal
    *    punctuation mark ('.', '!', '?', or a closing double quote),
    *    has ≥ minLineWords words, and does not contain the word
    *    "javascript" (case-insensitive) — the published
    *    boilerplate/code-chrome line rules;
    *  - the PAGE survives iff its raw text contains neither
    *    "lorem ipsum" (case-insensitive) nor a curly brace '{', and
    *    ≥ minKeptLines lines survived.
    * (C4 also applies a bad-word blocklist; that is a policy list,
    * not an algorithm — callers compose it as one more
    * `lower(text) NOT LIKE` conjunct or an A24 Bloom droplist.)
    *
    * Output: id, clean_text (surviving lines joined with '\n'; empty
    * string when none survive), n_lines, n_kept_lines, has_lorem,
    * has_brace, and keep = the page rule. Word counting treats an
    * all-whitespace line as 0 words (CASE-guarded identically in the
    * oracle). Map-only: one projection, in-row list filter + join.
    */
  def c4Filters(docs: DataFrame, idCol: String, textCol: String,
                minLineWords: Int = 3, minKeptLines: Int = 3): DataFrame = {
    val txt = F.col(textCol)
    val lines = F.split(txt, "\n")

    def lineWords(l: Column): Column =
      F.when(F.trim(l) === "", F.lit(0))
        .otherwise(F.size(F.split(F.trim(l), "\\s+")))

    def keptLine(l: Column): Column = {
      val rt = F.rtrim(l)
      val terminal = rt.endsWith(".") || rt.endsWith("!") ||
        rt.endsWith("?") || rt.endsWith("\"")
      terminal && lineWords(l) >= minLineWords &&
        !F.lower(l).contains("javascript")
    }

    val kept = F.filter(lines, keptLine _)
    val nLines = F.size(lines).cast("long")
    val nKept = F.size(kept).cast("long")
    val hasLorem = F.lower(txt).contains("lorem ipsum")
    val hasBrace = txt.contains("{")
    val keep = !hasLorem && !hasBrace && nKept >= minKeptLines

    docs.select(
      F.col(idCol),
      F.array_join(kept, "\n").as("clean_text"),
      nLines.as("n_lines"),
      nKept.as("n_kept_lines"),
      hasLorem.as("has_lorem"),
      hasBrace.as("has_brace"),
      keep.as("keep"))
  }
}
