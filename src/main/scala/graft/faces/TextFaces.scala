package graft
package faces

import org.apache.spark.sql.{DataFrame, functions => F}
import graft.sources.Tables
import graft.functions.{text => T}
import Kit._

/** Driver faces of section E, text analysis. */
private[graft] object TextFaces {

  val all: Seq[Face] = Seq(
    // the E7 scrub as a driver-gated query: the corpus carries no PII,
    // so each document gets a deterministic PII-bearing suffix, then
    // redact + audit-count run over it; the oracle replays the exact
    // pattern chain (Java-regex ∩ RE2 dialect) in SQL
    Face("text_redact", (s, d) => {
      val decorated = F.concat(F.col("text"), F.lit(
        " Contact: alice@example.com or (555) 123-4567, id 123456789, at https://ex.com/a?b=1&c=2 end"))
      Tables.documents(s, d, fanOut = true).select(
          F.col("doc_id"),
          T.redact(decorated).as("redacted"),
          T.redactionCount(decorated).cast("long").as("n_redactions"))
        .orderBy("doc_id")
    }, Oracle(
      // staged CTEs replay redact's sequential-count contract exactly:
      // pattern i counts on the text with patterns < i already applied
        """WITH w AS (SELECT doc_id,
          |  text || ' Contact: alice@example.com or (555) 123-4567, id 123456789, at https://ex.com/a?b=1&c=2 end' AS t
          |  FROM documents),
          |s1 AS (SELECT doc_id, t AS t0, regexp_replace(t, 'https?://[^\s]+', '<URL>', 'g') AS t FROM w),
          |s2 AS (SELECT doc_id, t0, t AS t1, regexp_replace(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g') AS t FROM s1),
          |s3 AS (SELECT doc_id, t0, t1, t AS t2, regexp_replace(t, '[0-9]{7,}', '<NUM>', 'g') AS t FROM s2),
          |s4 AS (SELECT doc_id, t0, t1, t2, t AS t3, regexp_replace(t, '(?:\+[0-9]{1,2}[\- ]?)?(?:\(?[0-9]{3}\)?[\- ]){1,2}[0-9]{4}', '<PHONE>', 'g') AS t FROM s3)
          |SELECT doc_id, t AS redacted,
          |  len(regexp_extract_all(t0, 'https?://[^\s]+'))
          |  + len(regexp_extract_all(t1, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))
          |  + len(regexp_extract_all(t2, '[0-9]{7,}'))
          |  + len(regexp_extract_all(t3, '(?:\+[0-9]{1,2}[\- ]?)?(?:\(?[0-9]{3}\)?[\- ]){1,2}[0-9]{4}')) AS n_redactions
          |FROM s4 ORDER BY doc_id""".stripMargin)),
    // markup extraction: each document rendered into a deterministic
    // HTML page (tags, chrome comment, script, entities), then
    // stripped back to text — the web-crawl extraction stage; the
    // oracle replays the identical wrap+strip in SQL
    Face("text_strip_markup", (s, d) => {
      val page = F.concat(
        F.lit("<!DOCTYPE html><html><head><style>p{color:red}</style>" +
          "<script>if(1<2)track(\"x\")</script></head><body>" +
          "<h1>Q&amp;A &lt;notes&gt;</h1><!-- chrome --><p class=\"lead\">"),
        F.col("text"),
        F.lit("</p></body></html>"))
      Tables.documents(s, d)
        .select(F.col("doc_id"), T.stripMarkup(page).as("clean"))
        .withColumn("clean_len", F.length(F.col("clean")))
        .orderBy("doc_id")
    }, Oracle(
        """WITH w AS (SELECT doc_id,
          |  '<!DOCTYPE html><html><head><style>p{color:red}</style><script>if(1<2)track("x")</script></head><body><h1>Q&amp;A &lt;notes&gt;</h1><!-- chrome --><p class="lead">'
          |    || text || '</p></body></html>' AS h
          |  FROM documents),
          |s AS (SELECT doc_id,
          |  regexp_replace(regexp_replace(regexp_replace(regexp_replace(h,
          |    '(?s)<!--.*?-->', ' ', 'g'),
          |    '(?is)<script[^>]*>.*?</script>', ' ', 'g'),
          |    '(?is)<style[^>]*>.*?</style>', ' ', 'g'),
          |    '<[^>]*>', ' ', 'g') AS h FROM w),
          |e AS (SELECT doc_id,
          |  replace(replace(replace(replace(replace(replace(h,
          |    '&nbsp;', ' '), '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&#39;', ''''), '&amp;', '&') AS h
          |  FROM s)
          |SELECT doc_id, trim(regexp_replace(h, '[ \t\r\n]+', ' ', 'g')) AS clean,
          |       length(trim(regexp_replace(h, '[ \t\r\n]+', ' ', 'g'))) AS clean_len
          |FROM e ORDER BY doc_id""".stripMargin)),
    // B31: BigQuery's SEARCH() scalar, registered under its own name
    // so migrating WHERE SEARCH(col, 'terms') text runs verbatim —
    // the ASCII analyzer (lowercase, non-alphanumeric splits, full
    // token containment; punctuation in the query is analyzer noise,
    // exercised by q3). DuckDB replays the analyzer with
    // list_has_all over the same split — hash-green
    Face("q_search_fn", (s, d) => {
      graft.functions.SqlFunctions.register(s)
      Tables.documents(s, d).createOrReplaceTempView("search_docs")
      graft.GraftSql.load(s,
        """SELECT 'q1_and' AS q, COUNT(*) AS n FROM search_docs WHERE SEARCH(text, 'the data')
          |UNION ALL
          |SELECT 'q2_miss' AS q, COUNT(*) AS n FROM search_docs WHERE SEARCH(text, 'zz9qx')
          |UNION ALL
          |SELECT 'q3_punct' AS q, COUNT(*) AS n FROM search_docs WHERE SEARCH(text, 'Merge, JOIN!')
          |UNION ALL
          |SELECT 'q4_empty' AS q, COUNT(*) AS n FROM search_docs WHERE SEARCH(text, '--')
          |ORDER BY q""".stripMargin)
    }, Oracle(
      // SEARCH replay: the same ASCII analyzer as list arithmetic —
      // list_has_all(data tokens, query tokens); empty token sets
      // match vacuously
        """WITH t AS (
          |  SELECT list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
          |                     x -> x <> '') AS toks
          |  FROM documents),
          |m AS (
          |  SELECT 'q1_and' AS q, COUNT(*) FILTER (WHERE list_has_all(toks, ['the','data'])) AS n FROM t
          |  UNION ALL
          |  SELECT 'q2_miss', COUNT(*) FILTER (WHERE list_has_all(toks, ['zz9qx'])) FROM t
          |  UNION ALL
          |  SELECT 'q3_punct', COUNT(*) FILTER (WHERE list_has_all(toks, ['merge','join'])) FROM t
          |  UNION ALL
          |  SELECT 'q4_empty', COUNT(*) FROM t)
          |SELECT q, n FROM m ORDER BY q""".stripMargin)),

    // E21: the classifier-evaluation sweep — label from a
    // deterministic token rule (the SEARCH analyzer), score from
    // n_chars; per-distinct-score confusion counts via ONE keyed
    // aggregate + a window over the bounded score-level frame. Counts
    // integer, ratios exactly-rounded integer divisions — the whole
    // curve replays in DuckDB under the hash gate
    // E21c (round 13): reliability bins — the PR-curve edge
    // arithmetic (floor/multiply/divide over min-max, single IEEE ops)
    // keys equal-width score bins; integer counts + one int-ratio
    // division per bin replay bit-for-bit in DuckDB
    Face("eval_calibration", (s, d) => {
      val scored = Tables.documents(s, d).select(
        F.when(F.col("text").contains("data"), 1L).otherwise(-1L).as("y"),
        F.col("n_chars").cast("double").as("s"))
      graft.operators.Eval.calibrationBins(scored, "y", "s", bins = 12)
    }, Oracle(
      // PR-curve replay: per-score confusion counts + cumulative
      // window, ratios as exactly-rounded integer divisions
      // bin edges replay as the identical IEEE fold: lo + least(
      // floor((s - lo) / width), bins-1) * width with width = (hi-lo)/12
        """WITH r AS (
          |  SELECT CASE WHEN strpos(text, 'data') > 0 THEN 1 ELSE -1 END AS y,
          |         CAST(n_chars AS DOUBLE) AS s
          |  FROM documents),
          |t AS (SELECT MIN(s) AS lo, MAX(s) AS hi FROM r),
          |k AS (SELECT y,
          |        (SELECT lo FROM t) + CAST(least(floor((s - (SELECT lo FROM t))
          |          / (((SELECT hi FROM t) - (SELECT lo FROM t)) / 12)), 11) AS DOUBLE)
          |          * (((SELECT hi FROM t) - (SELECT lo FROM t)) / 12) AS bin_lo
          |      FROM r)
          |SELECT bin_lo, CAST(COUNT(*) AS BIGINT) AS n,
          |       CAST(SUM(CASE WHEN y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
          |       CAST(SUM(CASE WHEN y = 1 THEN 1 ELSE 0 END) AS DOUBLE)
          |         / CAST(COUNT(*) AS DOUBLE) AS frac_pos
          |FROM k GROUP BY bin_lo ORDER BY bin_lo""".stripMargin)),

    // E21b (round 13): exact ROC AUC by Mann-Whitney average ranks —
    // all-integer to u_x2, ONE double division at the end in a fixed
    // order, so DuckDB replays the statistic bit-for-bit (ties on
    // n_chars exercise the average-rank correction)
    Face("eval_roc_auc", (s, d) => {
      val scored = Tables.documents(s, d).select(
        F.when(F.col("text").contains("data"), 1L).otherwise(-1L).as("y"),
        F.col("n_chars").cast("double").as("s"))
      graft.operators.Eval.binaryRocAuc(scored, "y", "s")
    }, Oracle(
      // the rank fold replays term-for-term: 2R1 = sum p(2cum + c + 1)
      // over distinct scores, 2U1 = 2R1 - n1(n1+1), one double division
        """WITH r AS (
          |  SELECT CASE WHEN strpos(text, 'data') > 0 THEN 1 ELSE -1 END AS y,
          |         CAST(n_chars AS DOUBLE) AS s
          |  FROM documents),
          |tot AS (SELECT CAST(SUM(CASE WHEN y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS pos,
          |               CAST(SUM(CASE WHEN y = -1 THEN 1 ELSE 0 END) AS BIGINT) AS neg
          |        FROM r),
          |ps AS (SELECT s, CAST(SUM(CASE WHEN y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS p,
          |              CAST(COUNT(*) AS BIGINT) AS c
          |       FROM r GROUP BY s),
          |rk AS (SELECT p, c,
          |         COALESCE(CAST(SUM(c) OVER (ORDER BY s ASC
          |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0) AS cum
          |       FROM ps),
          |agg AS (SELECT CAST(SUM(p * (2 * cum + c + 1)) AS BIGINT) AS r1x2,
          |               CAST(COUNT(*) AS BIGINT) AS n_points FROM rk)
          |SELECT (SELECT pos FROM tot) AS pos,
          |       (SELECT neg FROM tot) AS neg,
          |       n_points,
          |       r1x2 - (SELECT pos FROM tot) * ((SELECT pos FROM tot) + 1) AS u_x2,
          |       CAST(r1x2 - (SELECT pos FROM tot) * ((SELECT pos FROM tot) + 1) AS DOUBLE)
          |         / (2.0 * CAST((SELECT pos FROM tot) AS DOUBLE)
          |            * CAST((SELECT neg FROM tot) AS DOUBLE)) AS auc
          |FROM agg""".stripMargin)),

    Face("eval_pr_curve", (s, d) => {
      val scored = Tables.documents(s, d).select(
        F.when(F.col("text").contains("data"), 1L).otherwise(-1L).as("y"),
        F.col("n_chars").cast("double").as("s"))
      graft.operators.Eval.binaryPrCurve(scored, "y", "s")
        .orderBy(F.desc("threshold"))
    }, Oracle(
        """WITH r AS (
          |  SELECT CASE WHEN strpos(text, 'data') > 0 THEN 1 ELSE -1 END AS y,
          |         CAST(n_chars AS DOUBLE) AS s
          |  FROM documents),
          |tot AS (SELECT CAST(SUM(CASE WHEN y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS pos,
          |               CAST(SUM(CASE WHEN y = -1 THEN 1 ELSE 0 END) AS BIGINT) AS neg
          |        FROM r),
          |ps AS (SELECT s AS threshold,
          |              CAST(SUM(CASE WHEN y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS p,
          |              CAST(SUM(CASE WHEN y = -1 THEN 1 ELSE 0 END) AS BIGINT) AS q
          |       FROM r GROUP BY s),
          |c AS (SELECT threshold,
          |             CAST(SUM(p) OVER w AS BIGINT) AS tp,
          |             CAST(SUM(q) OVER w AS BIGINT) AS fp
          |      FROM ps
          |      WINDOW w AS (ORDER BY threshold DESC
          |                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
          |SELECT threshold, tp, fp,
          |       (SELECT pos FROM tot) - tp AS fn,
          |       (SELECT neg FROM tot) - fp AS tn,
          |       CAST(tp AS DOUBLE) / CAST(tp + fp AS DOUBLE) AS "precision",
          |       CAST(tp AS DOUBLE) / CAST((SELECT pos FROM tot) AS DOUBLE) AS recall
          |FROM c ORDER BY threshold DESC""".stripMargin)),

    // E20: Unicode normalization — each doc decorated with a suffix
    // cycling five byte-spelling classes (combining-mark accents,
    // double marks, composed, ASCII, combining cluster), then NFC'd
    // and accent-folded through the native NormalizeText expression.
    // DuckDB's nfc_normalize/strip_accents implement the same UAX #15
    // tables, so the full normalized TEXT (not just lengths) sits
    // under the hash gate byte-for-byte
    Face("text_normalize", (s, d) => {
      val suffix = F.element_at(F.array(
        F.lit("Café"), F.lit("Ångström"), F.lit("plain"),
        F.lit("mañana"), F.lit("élève")),
        (F.pmod(F.col("doc_id"), F.lit(5)) + 1).cast("int"))
      val deco = Tables.documents(s, d)
        .withColumn("raw", F.concat(F.col("text"), F.lit(" "), suffix))
      deco.select(F.col("doc_id"),
          F.length(F.col("raw")).cast("long").as("raw_len"),
          T.normalize(F.col("raw")).as("nfc"))
        .withColumn("nfc_len", F.length(F.col("nfc")).cast("long"))
        .withColumn("folded", T.foldAccents(F.col("nfc")))
        .orderBy("doc_id")
    }, Oracle(
      // normalization replay: the suffix rebuilds from chr() codepoints
      // (combining acute 769, ring 778, diaeresis 776, grave 768,
      // composed ñ 241), then nfc_normalize/strip_accents — the same
      // UAX #15 tables java.text.Normalizer implements
        """WITH deco AS (
          |  SELECT doc_id, text || ' ' || CASE CAST(doc_id % 5 AS INT)
          |    WHEN 0 THEN 'Cafe' || chr(769)
          |    WHEN 1 THEN 'A' || chr(778) || 'ngstro' || chr(776) || 'm'
          |    WHEN 2 THEN 'plain'
          |    WHEN 3 THEN 'ma' || chr(241) || 'ana'
          |    ELSE 'e' || chr(769) || 'le' || chr(768) || 've' END AS raw
          |  FROM documents),
          |n AS (SELECT doc_id, CAST(length(raw) AS BIGINT) AS raw_len,
          |             nfc_normalize(raw) AS nfc FROM deco)
          |SELECT doc_id, raw_len, nfc, CAST(length(nfc) AS BIGINT) AS nfc_len,
          |       strip_accents(lower(nfc)) AS folded
          |FROM n ORDER BY doc_id""".stripMargin)),
    Face("text_quality", (s, d) => {
      val t = F.col("text")
      Tables.documents(s, d).select(
        F.col("doc_id"), F.length(t).as("len"),
        T.tokenCount(t).as("n_tokens"),
        T.distinctTokenRatio(t).as("distinct_ratio"),
        T.stopwordRatio(t).as("stopword_ratio"),
        T.qualityScore(t).as("quality"))
        .orderBy("doc_id")
    }, Oracle(
        """SELECT doc_id, LENGTH(text) AS len,
          |  len(string_split_regex(lower(trim(text)), '\s+')) AS n_tokens,
          |  CAST(len(list_distinct(string_split_regex(lower(trim(text)), '\s+'))) AS DOUBLE)
          |    / len(string_split_regex(lower(trim(text)), '\s+')) AS distinct_ratio,
          |  CAST(len(list_filter(string_split_regex(lower(trim(text)), '\s+'),
          |        t -> t IN ('the','a','an','of','to','and','in','is','on','for','with','at','by'))) AS DOUBLE)
          |    / len(string_split_regex(lower(trim(text)), '\s+')) AS stopword_ratio,
          |  (LEAST(CAST(LENGTH(text) AS DOUBLE) / 500.0, 1.0) * 0.3)
          |   + ((CAST(len(list_distinct(string_split_regex(lower(trim(text)), '\s+'))) AS DOUBLE)
          |       / len(string_split_regex(lower(trim(text)), '\s+'))) * 0.4)
          |   + ((1.0 - ABS((CAST(len(list_filter(string_split_regex(lower(trim(text)), '\s+'),
          |        t -> t IN ('the','a','an','of','to','and','in','is','on','for','with','at','by'))) AS DOUBLE)
          |       / len(string_split_regex(lower(trim(text)), '\s+'))) - 0.3)) * 0.3) AS quality
          |FROM documents ORDER BY doc_id""".stripMargin)),
    // E14: learned-filter inference — fastText-shape hashed
    // bag-of-ngrams linear scorer, map-only, weights a plan literal;
    // integer vote sum ⇒ order-free ⇒ the whole model replays
    Face("text_classifier_score", (s, d) => {
      graft.operators.TextClassifier.score(Tables.documents(s, d), "doc_id", "text",
          graft.operators.TextClassifier.hashedWeights(4096))
        .orderBy("doc_id")
    }, Oracle(
      // replays the hashed linear model term-for-term: unigram+bigram
      // features, 52-bit md5 hash → bucket, the demo model's weight
      // FORMULA inlined where Spark reads the literal array
      // (hashedWeights(4096): ((b·2654435761) mod 1001) − 500), exact
      // integer vote sum, one exactly-rounded final division
        """WITH t AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS toks
          |           FROM documents),
          |f AS (SELECT doc_id, list_concat(toks,
          |        CASE WHEN len(toks) >= 2
          |             THEN [toks[i] || '_' || toks[i+1] for i in range(1, len(toks))]
          |             ELSE []::VARCHAR[] END) AS feats FROM t),
          |s AS (SELECT doc_id, len(feats) AS n,
          |        list_sum(list_transform(feats, x ->
          |          (((CAST(('0x' || substr(md5(x), 1, 13)) AS BIGINT) % 4096)
          |            * 2654435761) % 1001) - 500)) AS raw
          |      FROM f)
          |SELECT doc_id, CAST(n AS BIGINT) AS n_features,
          |       CAST(raw AS DOUBLE) / (CAST(n AS DOUBLE) * 1000.0) AS score
          |FROM s ORDER BY doc_id""".stripMargin)),
    // E14b: the TRAINING face of the classifier — full-batch
    // perceptron, integer end-to-end, so the whole trajectory
    // (2 epochs here) replays in DuckDB as chained CTEs: epoch 1 from
    // zero weights updates on every doc; epoch 2 re-scores under w1
    // and updates on the still-misclassified. Output = the nonzero
    // rows of the trained weight table (bounded by buckets)
    Face("text_classifier_train", (s, d) => {
      import s.implicits._
      val docs = Tables.documents(s, d)
        .withColumn("y", F.when(F.col("lang") === "en", 1L).otherwise(-1L))
      val (w, _) = graft.operators.TextClassifier.train(docs, "doc_id", "text", "y",
        buckets = 4096, epochs = 2)
      w.zipWithIndex.collect { case (x, b) if x != 0 => (b.toLong, x.toLong) }
        .toSeq.toDF("bucket", "w").orderBy("bucket")
    }, Oracle(
      // replays BOTH perceptron epochs: w1 = Σy over every feature
      // occurrence (zero weights misclassify everything), r1 = per-doc
      // raw under w1, m1 = still-missed docs, w2 = w1 + their update
        """WITH t AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS toks,
          |                  CASE WHEN lang = 'en' THEN 1 ELSE -1 END AS y FROM documents),
          |f AS (SELECT doc_id, y, list_concat(toks,
          |        CASE WHEN len(toks) >= 2
          |             THEN [toks[i] || '_' || toks[i+1] for i in range(1, len(toks))]
          |             ELSE []::VARCHAR[] END) AS feats FROM t),
          |fx AS (SELECT doc_id, y, CAST(('0x' || substr(md5(x), 1, 13)) AS BIGINT) % 4096 AS bucket
          |       FROM (SELECT doc_id, y, unnest(feats) AS x FROM f)),
          |w1 AS (SELECT bucket, SUM(y) AS w FROM fx GROUP BY bucket),
          |r1 AS (SELECT fx.doc_id, any_value(fx.y) AS y, SUM(w1.w) AS raw
          |       FROM fx JOIN w1 USING (bucket) GROUP BY fx.doc_id),
          |m1 AS (SELECT doc_id FROM r1 WHERE raw * y <= 0),
          |d1 AS (SELECT bucket, SUM(fx.y) AS d FROM fx JOIN m1 USING (doc_id) GROUP BY bucket),
          |w2 AS (SELECT COALESCE(w1.bucket, d1.bucket) AS bucket,
          |              COALESCE(w1.w, 0) + COALESCE(d1.d, 0) AS w
          |       FROM w1 FULL JOIN d1 ON w1.bucket = d1.bucket)
          |SELECT bucket, CAST(w AS BIGINT) AS w FROM w2 WHERE w != 0 ORDER BY bucket""".stripMargin)),
    // E18: TRAINED lang-id — the fastText-lang-id production slot
    // beside E2's stopword heuristic: K one-vs-rest integer perceptron
    // heads (one corpus pass per epoch for ALL heads) trained on the
    // documents' own lang labels, then argmax inference, ties to the
    // lowest class index. Integer end-to-end, so the ENTIRE K-class
    // train-then-predict trajectory replays in DuckDB with the class
    // axis as data (a 5-row VALUES table) — the oracle does not grow
    // with K
    Face("text_lang_id_trained", (s, d) => {
      val docs = Tables.documents(s, d)
      val classes = Seq("de", "en", "es", "fr", "zh")
      val (ws, _) = graft.operators.TextClassifier.trainOneVsRest(
        docs, "doc_id", "text", "lang", classes, buckets = 4096, epochs = 2)
      graft.operators.TextClassifier.predictClasses(docs, "doc_id", "text", classes, ws, 4096)
        .orderBy("doc_id")
    }, Oracle(
        """WITH cls AS (SELECT * FROM (VALUES ('de',0),('en',1),('es',2),('fr',3),('zh',4)) c(lang_c, k)),
          |t AS (SELECT doc_id, lang, string_split_regex(lower(trim(text)), '\s+') AS toks FROM documents),
          |f AS (SELECT doc_id, lang, list_concat(toks,
          |        CASE WHEN len(toks) >= 2
          |             THEN [toks[i] || '_' || toks[i+1] for i in range(1, len(toks))]
          |             ELSE []::VARCHAR[] END) AS feats FROM t),
          |fx AS (SELECT doc_id, lang, CAST(('0x' || substr(md5(x), 1, 13)) AS BIGINT) % 4096 AS bucket
          |       FROM (SELECT doc_id, lang, unnest(feats) AS x FROM f)),
          |fxk AS (SELECT doc_id, bucket, k, CASE WHEN lang = lang_c THEN 1 ELSE -1 END AS y
          |        FROM fx CROSS JOIN cls),
          |w1 AS (SELECT k, bucket, SUM(y) AS w FROM fxk GROUP BY k, bucket),
          |r1 AS (SELECT doc_id, k, any_value(y) AS y, SUM(w) AS raw
          |       FROM fxk JOIN w1 USING (k, bucket) GROUP BY doc_id, k),
          |m1 AS (SELECT doc_id, k FROM r1 WHERE raw * y <= 0),
          |d1 AS (SELECT fxk.k, fxk.bucket, SUM(fxk.y) AS d
          |       FROM fxk JOIN m1 USING (doc_id, k) GROUP BY fxk.k, fxk.bucket),
          |w2 AS (SELECT COALESCE(w1.k, d1.k) AS k, COALESCE(w1.bucket, d1.bucket) AS bucket,
          |              COALESCE(w1.w, 0) + COALESCE(d1.d, 0) AS w
          |       FROM w1 FULL JOIN d1 ON w1.k = d1.k AND w1.bucket = d1.bucket),
          |r2 AS (SELECT fx.doc_id, cls.k, COALESCE(SUM(w2.w), 0) AS raw
          |       FROM fx CROSS JOIN cls
          |       LEFT JOIN w2 ON w2.k = cls.k AND w2.bucket = fx.bucket
          |       GROUP BY fx.doc_id, cls.k),
          |nf AS (SELECT doc_id, COUNT(*) AS n_features FROM fx GROUP BY doc_id),
          |best AS (SELECT doc_id, k, raw,
          |                ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY raw DESC, k ASC) AS rn
          |         FROM r2)
          |SELECT d.doc_id, CAST(COALESCE(nf.n_features, 0) AS BIGINT) AS n_features,
          |       COALESCE(cls.lang_c, 'de') AS pred,
          |       CAST(COALESCE(best.raw, 0) AS BIGINT) AS best_raw
          |FROM documents d
          |LEFT JOIN nf ON d.doc_id = nf.doc_id
          |LEFT JOIN best ON d.doc_id = best.doc_id AND best.rn = 1
          |LEFT JOIN cls ON best.k = cls.k
          |ORDER BY d.doc_id""".stripMargin)),
    // A43's classification half (round 12): CREATE MODEL logistic_reg
    // over (doc_id, text, lang) — the E18 training loop behind the
    // BigQuery statement surface — then the confusion matrix from
    // ML.PREDICT crossed with ML.EVALUATE's macro metrics. Integer
    // votes end-to-end, metric doubles are fixed-order folds of
    // integer ratios, so DuckDB replays training, confusion AND
    // metrics term-for-term (epochs = 2, the E18 replay depth)
    Face("sql_ml_logistic", (s, d) => {
      // a quarter of the corpus: the statement face gates the SQL
      // surface + metric replay, not corpus-scale training (E18 does
      // that) — the subset keeps the bench sweep honest
      Tables.documents(s, d).filter(F.col("doc_id") % 4 === 0)
        .createOrReplaceTempView("lg_docs")
      graft.GraftSql.load(s,
        "CREATE OR REPLACE MODEL lg_model OPTIONS(model_type = 'logistic_reg', " +
          "input_label_cols = ['lang'], max_iterations = 2) " +
          "AS SELECT doc_id, text, lang FROM lg_docs")
      graft.GraftSql.load(s,
        """WITH p AS (SELECT lang, predicted_label
          |           FROM ML.PREDICT(MODEL lg_model, TABLE lg_docs)),
          |cm AS (SELECT lang, predicted_label, COUNT(*) AS n
          |       FROM p GROUP BY lang, predicted_label),
          |e AS (SELECT * FROM ML.EVALUATE(MODEL lg_model))
          |SELECT cm.lang, cm.predicted_label, cm.n,
          |       e.precision, e.recall, e.accuracy, e.f1_score
          |FROM cm CROSS JOIN e
          |ORDER BY cm.lang, cm.predicted_label""".stripMargin)
    }, Oracle(
        """WITH documents4 AS (SELECT * FROM documents WHERE doc_id % 4 = 0),
          |cls AS (SELECT * FROM (VALUES ('de',0),('en',1),('es',2),('fr',3),('zh',4)) c(lang_c, k)),
          |t AS (SELECT doc_id, lang, string_split_regex(lower(trim(text)), '\s+') AS toks FROM documents4),
          |f AS (SELECT doc_id, lang, list_concat(toks,
          |        CASE WHEN len(toks) >= 2
          |             THEN [toks[i] || '_' || toks[i+1] for i in range(1, len(toks))]
          |             ELSE []::VARCHAR[] END) AS feats FROM t),
          |fx AS (SELECT doc_id, lang, CAST(('0x' || substr(md5(x), 1, 13)) AS BIGINT) % 4096 AS bucket
          |       FROM (SELECT doc_id, lang, unnest(feats) AS x FROM f)),
          |fxk AS (SELECT doc_id, bucket, k, CASE WHEN lang = lang_c THEN 1 ELSE -1 END AS y
          |        FROM fx CROSS JOIN cls),
          |w1 AS (SELECT k, bucket, SUM(y) AS w FROM fxk GROUP BY k, bucket),
          |r1 AS (SELECT doc_id, k, any_value(y) AS y, SUM(w) AS raw
          |       FROM fxk JOIN w1 USING (k, bucket) GROUP BY doc_id, k),
          |m1 AS (SELECT doc_id, k FROM r1 WHERE raw * y <= 0),
          |d1 AS (SELECT fxk.k, fxk.bucket, SUM(fxk.y) AS d
          |       FROM fxk JOIN m1 USING (doc_id, k) GROUP BY fxk.k, fxk.bucket),
          |w2 AS (SELECT COALESCE(w1.k, d1.k) AS k, COALESCE(w1.bucket, d1.bucket) AS bucket,
          |              COALESCE(w1.w, 0) + COALESCE(d1.d, 0) AS w
          |       FROM w1 FULL JOIN d1 ON w1.k = d1.k AND w1.bucket = d1.bucket),
          |r2 AS (SELECT fx.doc_id, cls.k, COALESCE(SUM(w2.w), 0) AS raw
          |       FROM fx CROSS JOIN cls
          |       LEFT JOIN w2 ON w2.k = cls.k AND w2.bucket = fx.bucket
          |       GROUP BY fx.doc_id, cls.k),
          |best AS (SELECT doc_id, k, raw,
          |                ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY raw DESC, k ASC) AS rn
          |         FROM r2),
          |pred AS (SELECT d.lang, COALESCE(cls.lang_c, 'de') AS predicted_label
          |         FROM documents4 d
          |         LEFT JOIN best ON d.doc_id = best.doc_id AND best.rn = 1
          |         LEFT JOIN cls ON best.k = cls.k),
          |cm AS (SELECT lang, predicted_label, COUNT(*) AS n
          |       FROM pred GROUP BY lang, predicted_label),
          |byc AS (SELECT c.lang_c AS c,
          |          COALESCE((SELECT SUM(n) FROM cm WHERE lang = c.lang_c AND predicted_label = c.lang_c), 0) AS tp,
          |          COALESCE((SELECT SUM(n) FROM cm WHERE lang <> c.lang_c AND predicted_label = c.lang_c), 0) AS fp,
          |          COALESCE((SELECT SUM(n) FROM cm WHERE lang = c.lang_c AND predicted_label <> c.lang_c), 0) AS fn
          |        FROM cls c),
          |pm AS (SELECT c,
          |         CASE WHEN tp + fp = 0 THEN 0.0 ELSE CAST(tp AS DOUBLE) / (tp + fp) END AS p,
          |         CASE WHEN tp + fn = 0 THEN 0.0 ELSE CAST(tp AS DOUBLE) / (tp + fn) END AS r
          |       FROM byc),
          |pf AS (SELECT c, p, r,
          |         CASE WHEN p + r = 0.0 THEN 0.0 ELSE 2.0 * p * r / (p + r) END AS f1
          |       FROM pm),
          |met AS (SELECT
          |    ((SELECT p FROM pf WHERE c='de') + (SELECT p FROM pf WHERE c='en') +
          |     (SELECT p FROM pf WHERE c='es') + (SELECT p FROM pf WHERE c='fr') +
          |     (SELECT p FROM pf WHERE c='zh')) / 5 AS precision,
          |    ((SELECT r FROM pf WHERE c='de') + (SELECT r FROM pf WHERE c='en') +
          |     (SELECT r FROM pf WHERE c='es') + (SELECT r FROM pf WHERE c='fr') +
          |     (SELECT r FROM pf WHERE c='zh')) / 5 AS recall,
          |    CAST((SELECT COALESCE(SUM(n), 0) FROM cm WHERE lang = predicted_label) AS DOUBLE) /
          |      (SELECT SUM(n) FROM cm) AS accuracy,
          |    ((SELECT f1 FROM pf WHERE c='de') + (SELECT f1 FROM pf WHERE c='en') +
          |     (SELECT f1 FROM pf WHERE c='es') + (SELECT f1 FROM pf WHERE c='fr') +
          |     (SELECT f1 FROM pf WHERE c='zh')) / 5 AS f1_score
          |  )
          |SELECT cm.lang, cm.predicted_label, cm.n,
          |       met.precision, met.recall, met.accuracy, met.f1_score
          |FROM cm CROSS JOIN met
          |ORDER BY cm.lang, cm.predicted_label""".stripMargin)),
    // A48b (round 12): ML.WEIGHTS — the trained classifier's weight
    // table dumped through the statement surface; integer weights, so
    // DuckDB re-trains (the same replay as sql_ml_logistic) and reads
    // w2's nonzero rows straight off
    Face("sql_ml_weights", (s, d) => {
      Tables.documents(s, d).filter(F.col("doc_id") % 4 === 0)
        .createOrReplaceTempView("lgw_docs")
      graft.GraftSql.load(s,
        "CREATE OR REPLACE MODEL lgw_model OPTIONS(model_type = 'logistic_reg', " +
          "input_label_cols = ['lang'], max_iterations = 2) " +
          "AS SELECT doc_id, text, lang FROM lgw_docs")
      graft.GraftSql.load(s,
        "SELECT * FROM ML.WEIGHTS(MODEL lgw_model) ORDER BY class_label, bucket")
    }, Oracle(
      // replays the FULL K-class one-vs-rest trajectory (2 epochs) +
      // argmax inference with the class axis as data: fxk = feature
      // occurrences x classes with y=+1/-1 per head; w1 = epoch-1
      // update (zero weights miss every doc for every head); m1 =
      // still-missed (doc, head) pairs under w1; w2 = final weights;
      // r2 = per-(doc, head) raw; argmax ties -> lowest class index
      // ML.WEIGHTS replay: re-train through w2, read the nonzero rows
        """WITH documents4 AS (SELECT * FROM documents WHERE doc_id % 4 = 0),
          |cls AS (SELECT * FROM (VALUES ('de',0),('en',1),('es',2),('fr',3),('zh',4)) c(lang_c, k)),
          |t AS (SELECT doc_id, lang, string_split_regex(lower(trim(text)), '\s+') AS toks FROM documents4),
          |f AS (SELECT doc_id, lang, list_concat(toks,
          |        CASE WHEN len(toks) >= 2
          |             THEN [toks[i] || '_' || toks[i+1] for i in range(1, len(toks))]
          |             ELSE []::VARCHAR[] END) AS feats FROM t),
          |fx AS (SELECT doc_id, lang, CAST(('0x' || substr(md5(x), 1, 13)) AS BIGINT) % 4096 AS bucket
          |       FROM (SELECT doc_id, lang, unnest(feats) AS x FROM f)),
          |fxk AS (SELECT doc_id, bucket, k, CASE WHEN lang = lang_c THEN 1 ELSE -1 END AS y
          |        FROM fx CROSS JOIN cls),
          |w1 AS (SELECT k, bucket, SUM(y) AS w FROM fxk GROUP BY k, bucket),
          |r1 AS (SELECT doc_id, k, any_value(y) AS y, SUM(w) AS raw
          |       FROM fxk JOIN w1 USING (k, bucket) GROUP BY doc_id, k),
          |m1 AS (SELECT doc_id, k FROM r1 WHERE raw * y <= 0),
          |d1 AS (SELECT fxk.k, fxk.bucket, SUM(fxk.y) AS d
          |       FROM fxk JOIN m1 USING (doc_id, k) GROUP BY fxk.k, fxk.bucket),
          |w2 AS (SELECT COALESCE(w1.k, d1.k) AS k, COALESCE(w1.bucket, d1.bucket) AS bucket,
          |              COALESCE(w1.w, 0) + COALESCE(d1.d, 0) AS w
          |       FROM w1 FULL JOIN d1 ON w1.k = d1.k AND w1.bucket = d1.bucket)
          |SELECT cls.lang_c AS class_label, w2.bucket AS bucket, CAST(w2.w AS BIGINT) AS weight
          |FROM w2 JOIN cls ON w2.k = cls.k
          |WHERE w2.w <> 0
          |ORDER BY class_label, bucket""".stripMargin)),
    // A49 (round 13): CREATE MODEL linear_reg — closed-form
    // normal-equations OLS (graft.sql.LinearReg). The face keeps every
    // sum INTEGER-exact (quantity as BIGINT, price as cents), so both
    // engines fold identical exact sums into the SAME textual
    // closed-form doubles — predictions replay bit-for-bit. This is
    // the first fully independent cross-engine ML oracle: DuckDB
    // re-derives slope/intercept from raw data, no training unroll
    Face("sql_ml_linear", (s, d) => {
      Tables.lineitem(s, d)
        .select(F.col("l_orderkey"), F.col("l_linenumber"),
          F.col("l_quantity").cast("bigint").as("qty"),
          (F.col("l_extendedprice").cast("decimal(14,2)") * F.lit(100)).cast("bigint")
            .as("label"))
        .createOrReplaceTempView("linr_src")
      graft.GraftSql.load(s,
        "CREATE OR REPLACE MODEL linr_model OPTIONS(model_type = 'linear_reg') " +
          "AS SELECT qty, label FROM linr_src")
      graft.GraftSql.load(s,
        """SELECT l_orderkey, l_linenumber, qty, label, predicted_label
          |FROM ML.PREDICT(MODEL linr_model, TABLE linr_src)
          |ORDER BY l_orderkey, l_linenumber""".stripMargin)
    }, Oracle(
        """WITH src AS (SELECT l_orderkey, l_linenumber,
          |                    CAST(l_quantity AS BIGINT) AS qty,
          |                    CAST(CAST(l_extendedprice AS DECIMAL(14,2)) * 100 AS BIGINT) AS label
          |             FROM lineitem),
          |sums AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n,
          |                CAST(SUM(CAST(qty AS HUGEINT)) AS DOUBLE) AS sx,
          |                CAST(SUM(CAST(label AS HUGEINT)) AS DOUBLE) AS sy,
          |                CAST(SUM(CAST(qty AS HUGEINT) * CAST(qty AS HUGEINT)) AS DOUBLE) AS sxx,
          |                CAST(SUM(CAST(qty AS HUGEINT) * CAST(label AS HUGEINT)) AS DOUBLE) AS sxy
          |         FROM src),
          |c1 AS (SELECT n, sx, sy, (n * sxy - sx * sy) / (n * sxx - sx * sx) AS b1 FROM sums),
          |c2 AS (SELECT b1, (sy - b1 * sx) / n AS b0 FROM c1)
          |SELECT src.l_orderkey, src.l_linenumber, src.qty, src.label,
          |       c2.b0 + c2.b1 * CAST(src.qty AS DOUBLE) AS predicted_label
          |FROM src CROSS JOIN c2
          |ORDER BY l_orderkey, l_linenumber""".stripMargin)),
    // A52: ML.TRANSFORM (round 13) — the stored TRANSFORM select-list
    // re-applied to raw rows, BigQuery's pre-processing replay TVF;
    // the DuckDB oracle replays the TRANSFORM expressions textually,
    // fully independent of the model machinery
    Face("sql_ml_transform", (s, d) => {
      Tables.lineitem(s, d)
        .select(F.col("l_orderkey").as("k"), F.col("l_linenumber").as("ln"),
          F.col("l_quantity").cast("bigint").as("qty"),
          (F.col("l_extendedprice").cast("decimal(14,2)") * F.lit(100)).cast("bigint")
            .as("label"))
        .createOrReplaceTempView("mtf_src")
      graft.GraftSql.load(s,
        """CREATE OR REPLACE MODEL mtf_model
          |TRANSFORM(k * 10 + ln AS rid, qty + ln AS qsum, label)
          |OPTIONS(model_type = 'linear_reg')
          |AS SELECT k, ln, qty, label FROM mtf_src""".stripMargin)
      graft.GraftSql.load(s,
        """SELECT CAST(rid % 7 AS BIGINT) AS rb, COUNT(*) AS n,
          |       CAST(SUM(qsum) AS BIGINT) AS qsum_sum,
          |       CAST(SUM(label) AS BIGINT) AS label_sum,
          |       CAST(MIN(rid) AS BIGINT) AS rid_min, CAST(MAX(rid) AS BIGINT) AS rid_max
          |FROM ML.TRANSFORM(MODEL mtf_model, TABLE mtf_src)
          |GROUP BY rb ORDER BY rb""".stripMargin)
    }, Oracle(
      // the TRANSFORM expressions replay textually on the raw table —
      // fully independent of the model machinery
        """WITH t AS (
          |  SELECT l_orderkey * 10 + l_linenumber AS rid,
          |         CAST(l_quantity AS BIGINT) + l_linenumber AS qsum,
          |         CAST(CAST(l_extendedprice AS DECIMAL(14,2)) * 100 AS BIGINT) AS label
          |  FROM lineitem)
          |SELECT CAST(rid % 7 AS BIGINT) AS rb, COUNT(*) AS n,
          |       CAST(SUM(qsum) AS BIGINT) AS qsum_sum,
          |       CAST(SUM(label) AS BIGINT) AS label_sum,
          |       CAST(MIN(rid) AS BIGINT) AS rid_min, CAST(MAX(rid) AS BIGINT) AS rid_max
          |FROM t GROUP BY rb ORDER BY rb""".stripMargin)),

    // A53: ML.FEATURE_INFO + INFORMATION_SCHEMA.MODELS (round 13) —
    // per-feature training statistics captured at CREATE MODEL time;
    // mean/stddev derive from the stored EXACT sums by a fixed double
    // fold (sqrt is IEEE-correctly-rounded), so DuckDB recomputing
    // the same fold from the raw table matches bit-for-bit
    Face("sql_ml_feature_info", (s, d) => {
      Tables.lineitem(s, d)
        .select(F.col("l_quantity").cast("bigint").as("qty"),
          (F.col("l_extendedprice").cast("decimal(14,2)") * F.lit(100)).cast("bigint")
            .as("label"))
        .createOrReplaceTempView("finfo_src")
      graft.GraftSql.load(s,
        "CREATE OR REPLACE MODEL finfo_model OPTIONS(model_type = 'linear_reg') " +
          "AS SELECT qty, label FROM finfo_src")
      graft.GraftSql.load(s,
        """SELECT f.input, f.min, f.max, f.mean, f.median, f.stddev,
          |       f.category_count, f.null_count, m.model_type
          |FROM ML.FEATURE_INFO(MODEL finfo_model) f
          |CROSS JOIN (SELECT model_type FROM INFORMATION_SCHEMA.MODELS
          |            WHERE model_name = 'finfo_model') m
          |ORDER BY f.input""".stripMargin)
    }, Oracle(
      // the SQL-statement face of the same trained pipeline: the E18
      // replay through `best`, then confusion counts and the macro
      // metrics as the SAME fixed-order folds evaluateLogistic runs
      // (left-associative +, one division per ratio — bit-equal)
      // A49: the fully INDEPENDENT cross-engine ML oracle — DuckDB
      // re-derives the OLS coefficients from the raw table via the
      // same textual closed form over exact HUGEINT sums (the engine's
      // sums are exact decimals of the same integers; both convert to
      // doubles once, correctly rounded, then fold identically)
      // the training statistics recompute from the raw table with the
      // identical folds: exact HUGEINT sums cast to double at the same
      // points, the same sqrt((ss - s*s/n)/(n-1)) expression
        """WITH src AS (SELECT CAST(l_quantity AS BIGINT) AS qty FROM lineitem),
          |a AS (SELECT COUNT(qty) AS n,
          |             CAST(SUM(CAST(qty AS HUGEINT)) AS DOUBLE) AS s,
          |             CAST(SUM(CAST(qty AS HUGEINT) * qty) AS DOUBLE) AS ss,
          |             CAST(MIN(qty) AS DOUBLE) AS mn, CAST(MAX(qty) AS DOUBLE) AS mx,
          |             quantile_cont(qty, 0.5) AS med
          |      FROM src)
          |SELECT 'qty' AS input, mn AS min, mx AS max, s / n AS mean, med AS median,
          |       sqrt((ss - s * s / n) / (n - 1)) AS stddev,
          |       CAST(NULL AS BIGINT) AS category_count,
          |       CAST(0 AS BIGINT) AS null_count,
          |       'LINEAR_REGRESSION' AS model_type
          |FROM a""".stripMargin)),

    // A49b: ML.WEIGHTS (named inputs + __INTERCEPT__) × ML.EVALUATE
    // (mean_squared_error / r2_score) for the same model — the metric
    // fold is the stated algebraic SSE identity over the exact sums,
    // replayed term-for-term
    Face("sql_ml_linear_eval", (s, d) => {
      Tables.lineitem(s, d)
        .select(F.col("l_quantity").cast("bigint").as("qty"),
          (F.col("l_extendedprice").cast("decimal(14,2)") * F.lit(100)).cast("bigint")
            .as("label"))
        .createOrReplaceTempView("line_src")
      graft.GraftSql.load(s,
        "CREATE OR REPLACE MODEL line_model OPTIONS(model_type = 'linear_reg') " +
          "AS SELECT qty, label FROM line_src")
      graft.GraftSql.load(s,
        """SELECT w.processed_input, w.weight, e.mean_squared_error, e.r2_score
          |FROM ML.WEIGHTS(MODEL line_model) w
          |CROSS JOIN ML.EVALUATE(MODEL line_model) e
          |ORDER BY w.processed_input""".stripMargin)
    }, Oracle(
      // A49b: ML.WEIGHTS + ML.EVALUATE replay — the SSE fold is the
      // stated algebraic identity, term-for-term in the engine's
      // left-to-right order
        """WITH src AS (SELECT CAST(l_quantity AS BIGINT) AS qty,
          |                    CAST(CAST(l_extendedprice AS DECIMAL(14,2)) * 100 AS BIGINT) AS label
          |             FROM lineitem),
          |sums AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n,
          |                CAST(SUM(CAST(qty AS HUGEINT)) AS DOUBLE) AS sx,
          |                CAST(SUM(CAST(label AS HUGEINT)) AS DOUBLE) AS sy,
          |                CAST(SUM(CAST(qty AS HUGEINT) * CAST(qty AS HUGEINT)) AS DOUBLE) AS sxx,
          |                CAST(SUM(CAST(qty AS HUGEINT) * CAST(label AS HUGEINT)) AS DOUBLE) AS sxy,
          |                CAST(SUM(CAST(label AS HUGEINT) * CAST(label AS HUGEINT)) AS DOUBLE) AS syy
          |         FROM src),
          |c1 AS (SELECT *, (n * sxy - sx * sy) / (n * sxx - sx * sx) AS b1 FROM sums),
          |c2 AS (SELECT *, (sy - b1 * sx) / n AS b0 FROM c1),
          |e1 AS (SELECT *, syy - 2 * b0 * sy - 2 * b1 * sxy + b0 * b0 * n
          |                 + b0 * b1 * sx + b1 * b0 * sx + b1 * b1 * sxx AS sse FROM c2)
          |SELECT w.processed_input, w.weight, e1.sse / e1.n AS mean_squared_error,
          |       1 - e1.sse / (e1.syy - e1.sy * e1.sy / e1.n) AS r2_score
          |FROM (SELECT '__INTERCEPT__' AS processed_input, b0 AS weight FROM c2
          |      UNION ALL SELECT 'qty', b1 FROM c2) w
          |CROSS JOIN e1
          |ORDER BY w.processed_input""".stripMargin)),
    // A43b (round 12): ML.CENTROIDS — the kmeans model's state table;
    // exact-integer sums + one division per component, so the kc2
    // replay (the sql_ml_kmeans CTEs) unnests to the same doubles
    Face("sql_ml_centroids", (s, d) => {
      Tables.embeddings(s, d)
        .select(F.col("vec_id"), graft.functions.native.int8_quantize(F.col("embedding")).as("q"))
        .select(F.col("vec_id"), F.col("q.codes").cast("array<int>").as("vec"))
        .createOrReplaceTempView("mlc_src")
      graft.GraftSql.load(s,
        """CREATE OR REPLACE MODEL mlc_model
          |OPTIONS(model_type = 'kmeans', num_clusters = 8, max_iterations = 2)
          |AS SELECT vec_id, vec FROM mlc_src""".stripMargin)
      graft.GraftSql.load(s,
        "SELECT * FROM ML.CENTROIDS(MODEL mlc_model) ORDER BY centroid_id, feature")
    }, Oracle(
      // the statement route: same replay, BigQuery's 1-based centroid_id
      // the model-state dump: kc2 (the trained centroids) unnested to
      // 1-based (centroid_id, feature) positions
        s"""WITH qz AS (SELECT vec_id, embedding,
          |              list_max(list_transform(embedding, y -> abs(CAST(y AS DOUBLE)))) AS s
          |            FROM embeddings),
          |km_codes AS (SELECT vec_id,
          |               list_transform(embedding, e -> CAST(round(CAST(e AS DOUBLE) * 127 / s) AS BIGINT)) AS v
          |             FROM qz),
          |km_seeds AS (SELECT vec_id FROM km_codes ORDER BY vec_id LIMIT 8),
          |kc0 AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS cluster,
          |               list_transform(v, x -> CAST(x AS DOUBLE)) AS c
          |        FROM km_codes WHERE vec_id IN (SELECT vec_id FROM km_seeds)),
          |${kmIter(1)}
          |${kmIter(2)}
          |pos AS (SELECT cluster, c, unnest(range(1, len(c) + 1)) AS i FROM kc2)
          |SELECT CAST(cluster + 1 AS INT) AS centroid_id, CAST(i AS INT) AS feature,
          |       c[CAST(i AS INT)] AS numerical_value
          |FROM pos ORDER BY centroid_id, feature""".stripMargin)),
    // E13: the corpus health report — per-(source, lang) volume +
    // quality histogram in ONE scan; all measures exact/order-free
    // (integer sums, counts, double min/max), so it hash-replays
    Face("corpus_report", (s, d) => {
      graft.CorpusPipeline.sourceReport(Tables.documents(s, d), "text", "source", "lang")
        .orderBy("source", "lang")
    }, Oracle(
      // per-row quality replays bit-exactly (the text_quality row), so
      // the bucket counts and min/max fold to identical values
        """WITH d AS (SELECT source, lang, LENGTH(text) AS chars,
          |  len(string_split_regex(lower(trim(text)), '\s+')) AS toks,
          |  (LEAST(CAST(LENGTH(text) AS DOUBLE) / 500.0, 1.0) * 0.3)
          |   + ((CAST(len(list_distinct(string_split_regex(lower(trim(text)), '\s+'))) AS DOUBLE)
          |       / len(string_split_regex(lower(trim(text)), '\s+'))) * 0.4)
          |   + ((1.0 - ABS((CAST(len(list_filter(string_split_regex(lower(trim(text)), '\s+'),
          |        t -> t IN ('the','a','an','of','to','and','in','is','on','for','with','at','by'))) AS DOUBLE)
          |       / len(string_split_regex(lower(trim(text)), '\s+'))) - 0.3)) * 0.3) AS q
          |FROM documents)
          |SELECT source, lang, COUNT(*) AS n_docs,
          |       CAST(SUM(toks) AS BIGINT) AS total_tokens,
          |       CAST(SUM(chars) AS BIGINT) AS total_chars,
          |       MIN(q) AS min_quality, MAX(q) AS max_quality,
          |       CAST(COUNT(*) FILTER (q < 0.3) AS BIGINT) AS n_low,
          |       CAST(COUNT(*) FILTER (q >= 0.3 AND q < 0.7) AS BIGINT) AS n_mid,
          |       CAST(COUNT(*) FILTER (q >= 0.7) AS BIGINT) AS n_high
          |FROM d GROUP BY source, lang ORDER BY source, lang""".stripMargin)),
    Face("text_lang_id", (s, d) => {
      Tables.documents(s, d)
        .select(F.col("doc_id"), T.langGuess(F.col("text")).as("lang_guess"))
        .orderBy("doc_id")
    }, Oracle(
        """WITH t AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS toks FROM documents),
          |s AS (SELECT doc_id,
          |  CAST(len(list_filter(toks, x -> x IN ('the','and','of','to','is','in','that','it'))) AS DOUBLE) / greatest(len(toks),1) AS s_en,
          |  CAST(len(list_filter(toks, x -> x IN ('el','la','de','que','y','en','los','del'))) AS DOUBLE) / greatest(len(toks),1) AS s_es,
          |  CAST(len(list_filter(toks, x -> x IN ('der','die','und','das','ist','nicht','ein','zu'))) AS DOUBLE) / greatest(len(toks),1) AS s_de,
          |  CAST(len(list_filter(toks, x -> x IN ('le','la','les','des','est','une','que','dans'))) AS DOUBLE) / greatest(len(toks),1) AS s_fr
          |  FROM t)
          |SELECT doc_id,
          |  CASE WHEN greatest(s_en,s_es,s_de,s_fr) <= 0 THEN 'und'
          |       WHEN s_fr = greatest(s_en,s_es,s_de,s_fr) THEN 'fr'
          |       WHEN s_es = greatest(s_en,s_es,s_de,s_fr) THEN 'es'
          |       WHEN s_en = greatest(s_en,s_es,s_de,s_fr) THEN 'en'
          |       ELSE 'de' END AS lang_guess
          |FROM s ORDER BY doc_id""".stripMargin)),
    // sliding-window chunking — the embedding/retrieval prep stage;
    // map-only (explode over an in-row start sequence), all-integer
    // arithmetic so DuckDB replays the window algebra exactly
    Face("text_chunk", (s, d) => {
      graft.operators.Chunking.chunkByTokens(
        Tables.documents(s, d), "doc_id", "text", chunkTokens = 64, overlapTokens = 16)
        .orderBy("doc_id", "chunk_id")
    }, Oracle(
      // chunk=64 overlap=16 step=48; n_chunks = 1 for n<=64 else
      // 1 + ceil((n-64)/48); DuckDB list slicing is 1-based inclusive
      // and clamps at the end, same as Spark's slice
        """WITH t AS (
          |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
          |  FROM documents WHERE length(trim(text)) > 0
          |), s AS (
          |  SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS n_tokens,
          |         CASE WHEN len(toks) <= 64 THEN 1
          |              ELSE CAST(floor((len(toks) - 64 + 47) / 48) AS BIGINT) + 1 END AS n_chunks
          |  FROM t
          |), e AS (
          |  SELECT doc_id, toks, n_tokens,
          |         unnest(generate_series(0, n_chunks - 1)) AS chunk_id
          |  FROM s
          |)
          |SELECT doc_id, chunk_id, n_tokens,
          |       least(64, n_tokens - chunk_id * 48) AS chunk_len,
          |       array_to_string(toks[chunk_id * 48 + 1 : chunk_id * 48 + 64], ' ') AS chunk_text
          |FROM e ORDER BY doc_id, chunk_id""".stripMargin)),
    // E16: the published Gopher quality-rule gate over deterministically
    // decorated documents (the E7 recipe — the salad corpus gains
    // rule-triggering bullets/ellipses/symbols/numerics/long-words
    // keyed on doc_id); every measure is an integer count or an exact
    // IEEE division of integers, so the oracle replays measures AND
    // pass flags bit-for-bit
    Face("text_gopher_rules", (s, d) => {
      graft.operators.QualityRules.gopher(
          Tables.documents(s, d, fanOut = true).withColumn("text", gopherDecorated),
          "doc_id", "text", gopherDriverThresholds)
        .orderBy("doc_id")
    }, Oracle(
      // replays the Gopher gate end-to-end: the doc_id-keyed
      // decoration, every measure (integer counts, replace-shrinkage
      // symbol counting, exact IEEE divisions) and every pass flag
        """WITH dec AS (
          |  SELECT doc_id, text ||
          |    CASE WHEN doc_id % 4 = 0 THEN chr(10) || '• bullet point one' || chr(10) || '• bullet point two' || chr(10) || '* bullet item three' ELSE '' END ||
          |    CASE WHEN doc_id % 20 = 0 THEN array_to_string(list_transform(range(1, 13), i -> chr(10) || '• extra bullet ' || CAST(i AS VARCHAR)), '') ELSE '' END ||
          |    CASE WHEN doc_id % 13 = 0 THEN chr(10) || 'to be continued...' || chr(10) || 'and more soon...' || chr(10) || 'still more...' || chr(10) || 'nearly done...' || chr(10) || 'final thought...' ELSE '' END ||
          |    CASE WHEN doc_id % 6 = 0 THEN ' 1234567890 2234567890 3234567890 4234567890 5234567890 6234567890 7234567890 8234567890 9234567890 1034567890 1134567890 1234567891' ELSE '' END ||
          |    CASE WHEN doc_id % 11 = 0 THEN ' pneumonoultramicroscopicsilicovolcanoconiosis supercalifragilisticexpialidocious honorificabilitudinitatibus floccinaucinihilipilification antidisestablishmentarianism pseudopseudohypoparathyroidism' ELSE '' END ||
          |    CASE WHEN doc_id % 17 = 0 THEN ' ## ### #' ELSE '' END AS text
          |  FROM documents),
          |m AS (
          |  SELECT doc_id,
          |    string_split_regex(lower(trim(text)), '\s+') AS toks,
          |    string_split(text, chr(10)) AS ls,
          |    CAST(length(text) - length(replace(text, '#', '')) AS BIGINT) AS hash_cnt,
          |    CAST((length(text) - length(replace(text, '...', ''))) // 3 AS BIGINT) AS ell_cnt
          |  FROM dec),
          |g AS (
          |  SELECT doc_id,
          |    CAST(len(toks) AS BIGINT) AS n_words,
          |    CAST(list_sum(list_transform(toks, x -> length(x))) AS DOUBLE) / CAST(len(toks) AS DOUBLE) AS mean_word_len,
          |    CAST(hash_cnt + ell_cnt AS DOUBLE) / CAST(len(toks) AS DOUBLE) AS symbol_word_ratio,
          |    CAST(len(list_filter(ls, l -> starts_with(ltrim(l), '•') OR starts_with(ltrim(l), '-') OR starts_with(ltrim(l), '*'))) AS DOUBLE) / CAST(len(ls) AS DOUBLE) AS bullet_line_frac,
          |    CAST(len(list_filter(ls, l -> ends_with(rtrim(l), '...') OR ends_with(rtrim(l), '…'))) AS DOUBLE) / CAST(len(ls) AS DOUBLE) AS ellipsis_line_frac,
          |    CAST(len(list_filter(toks, t -> regexp_matches(t, '[a-z]'))) AS DOUBLE) / CAST(len(toks) AS DOUBLE) AS alpha_word_frac,
          |    CAST(len(list_intersect(list_distinct(toks), ['the','a','and','of','to'])) AS BIGINT) AS n_stop_distinct
          |  FROM m)
          |SELECT doc_id, n_words, mean_word_len, symbol_word_ratio,
          |  bullet_line_frac, ellipsis_line_frac, alpha_word_frac, n_stop_distinct,
          |  (n_words >= 40 AND n_words <= 100000) AS pass_words,
          |  (mean_word_len >= 3.0 AND mean_word_len <= 6.0) AS pass_mean_word_len,
          |  (symbol_word_ratio <= 0.1) AS pass_symbol_ratio,
          |  (bullet_line_frac <= 0.9) AS pass_bullet_lines,
          |  (ellipsis_line_frac <= 0.3) AS pass_ellipsis_lines,
          |  (alpha_word_frac >= 0.8) AS pass_alpha_words,
          |  (n_stop_distinct >= 2) AS pass_stopwords,
          |  (n_words >= 40 AND n_words <= 100000 AND mean_word_len >= 3.0
          |   AND mean_word_len <= 6.0 AND symbol_word_ratio <= 0.1
          |   AND bullet_line_frac <= 0.9 AND ellipsis_line_frac <= 0.3
          |   AND alpha_word_frac >= 0.8 AND n_stop_distinct >= 2) AS pass
          |FROM g ORDER BY doc_id""".stripMargin)),
    // E16b: the Gopher REPETITION rules over decorated documents
    // (repeated chrome lines for the dup-line rules, a spam-phrase run
    // for the top-gram rules); integer counts + exact divisions, the
    // top-gram tie resolved identically both sides (count desc, gram
    // asc) — hash-replayable
    Face("text_gopher_repetition", (s, d) => {
      graft.operators.QualityRules.gopherRepetition(
          Tables.documents(s, d, fanOut = true).withColumn("text", repetitionDecorated),
          "doc_id", "text")
        .orderBy("doc_id")
    }, Oracle(
      // replays the repetition rules: dup-line fractions in list
      // arithmetic, top n-gram via unnest + count + (count desc, gram
      // asc) pick — the same tie rule the in-row sorted fold applies
        """WITH dec AS (
          |  SELECT doc_id, text ||
          |    CASE WHEN doc_id % 8 = 0 THEN chr(10) || 'repeated chrome line here' || chr(10) || 'repeated chrome line here' || chr(10) || 'repeated chrome line here' ELSE '' END ||
          |    CASE WHEN doc_id % 12 = 0 THEN ' spam spam spam spam spam spam spam spam' ELSE '' END AS text
          |  FROM documents),
          |l AS (
          |  SELECT doc_id, text, string_split(text, chr(10)) AS ls,
          |         string_split_regex(lower(trim(text)), '\s+') AS toks
          |  FROM dec),
          |m AS (
          |  SELECT doc_id, text, toks,
          |    CAST(len(ls) AS BIGINT) AS n_lines,
          |    CAST(len(list_distinct(ls)) AS BIGINT) AS n_distinct,
          |    CAST(list_sum(list_transform(ls, x -> length(x))) AS BIGINT) AS total_chars,
          |    CAST(list_sum(list_transform(list_distinct(ls), x -> length(x))) AS BIGINT) AS distinct_chars
          |  FROM l),
          |b2 AS (
          |  SELECT doc_id, g, COUNT(*) AS c FROM (
          |    SELECT doc_id, unnest(CASE WHEN len(toks) >= 2
          |      THEN [toks[i] || ' ' || toks[i+1] for i in range(1, len(toks))]
          |      ELSE []::VARCHAR[] END) AS g FROM l)
          |  GROUP BY doc_id, g
          |  QUALIFY row_number() OVER (PARTITION BY doc_id ORDER BY c DESC, g) = 1),
          |b3 AS (
          |  SELECT doc_id, g, COUNT(*) AS c FROM (
          |    SELECT doc_id, unnest(CASE WHEN len(toks) >= 3
          |      THEN [toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] for i in range(1, len(toks) - 1)]
          |      ELSE []::VARCHAR[] END) AS g FROM l)
          |  GROUP BY doc_id, g
          |  QUALIFY row_number() OVER (PARTITION BY doc_id ORDER BY c DESC, g) = 1),
          |b4 AS (
          |  SELECT doc_id, g, COUNT(*) AS c FROM (
          |    SELECT doc_id, unnest(CASE WHEN len(toks) >= 4
          |      THEN [toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3] for i in range(1, len(toks) - 2)]
          |      ELSE []::VARCHAR[] END) AS g FROM l)
          |  GROUP BY doc_id, g
          |  QUALIFY row_number() OVER (PARTITION BY doc_id ORDER BY c DESC, g) = 1),
          |f AS (
          |  SELECT m.doc_id,
          |    CAST(m.n_lines - m.n_distinct AS DOUBLE) / CAST(m.n_lines AS DOUBLE) AS dup_line_frac,
          |    CASE WHEN m.total_chars = 0 THEN 0.0
          |         ELSE CAST(m.total_chars - m.distinct_chars AS DOUBLE) / CAST(m.total_chars AS DOUBLE) END AS dup_line_char_frac,
          |    COALESCE(CAST(b2.c * length(b2.g) AS DOUBLE) / CAST(length(m.text) AS DOUBLE), 0.0) AS top2gram_char_frac,
          |    COALESCE(CAST(b3.c * length(b3.g) AS DOUBLE) / CAST(length(m.text) AS DOUBLE), 0.0) AS top3gram_char_frac,
          |    COALESCE(CAST(b4.c * length(b4.g) AS DOUBLE) / CAST(length(m.text) AS DOUBLE), 0.0) AS top4gram_char_frac
          |  FROM m LEFT JOIN b2 ON m.doc_id = b2.doc_id LEFT JOIN b3 ON m.doc_id = b3.doc_id
          |         LEFT JOIN b4 ON m.doc_id = b4.doc_id)
          |SELECT doc_id, dup_line_frac, dup_line_char_frac, top2gram_char_frac, top3gram_char_frac, top4gram_char_frac,
          |  (dup_line_frac <= 0.30) AS pass_dup_lines,
          |  (dup_line_char_frac <= 0.20) AS pass_dup_line_chars,
          |  (top2gram_char_frac <= 0.20) AS pass_top2gram,
          |  (top3gram_char_frac <= 0.18) AS pass_top3gram,
          |  (top4gram_char_frac <= 0.16) AS pass_top4gram,
          |  (dup_line_frac <= 0.30 AND dup_line_char_frac <= 0.20
          |   AND top2gram_char_frac <= 0.20 AND top3gram_char_frac <= 0.18
          |   AND top4gram_char_frac <= 0.16) AS pass
          |FROM f ORDER BY doc_id""".stripMargin)),
    // E16c: the duplicated-n-gram tail (n=5..10) of the Gopher
    // repetition table over phrase-run decorated documents; union
    // char-coverage accounting is all-integer, so the oracle replays
    // the dup dictionary, per-position flags, and covered-char fold
    Face("text_gopher_dup_ngrams", (s, d) => {
      graft.operators.QualityRules.gopherDupNGrams(
          Tables.documents(s, d, fanOut = true).withColumn("text", dupNGramDecorated),
          "doc_id", "text")
        .orderBy("doc_id")
    },
      // replays the duplicated-n-gram tail per n: gram lists, the
      // dup dictionary (GROUP BY ... HAVING count >= 2), per-position
      // flags, and the windowed-exists covered-char fold — all list
      // arithmetic, joined across the six n values
      Oracle({
        val ns = Seq(5 -> "0.15", 6 -> "0.14", 7 -> "0.13", 8 -> "0.12",
          9 -> "0.11", 10 -> "0.10")
        val perN = ns.map { case (n, _) =>
          s"""g$n AS (
             |  SELECT doc_id, toks,
             |    CASE WHEN len(toks) >= $n
             |      THEN [array_to_string(toks[i:i+${n - 1}], ' ') for i in range(1, len(toks) - ${n - 2})]
             |      ELSE []::VARCHAR[] END AS gp
             |  FROM l),
             |d$n AS (
             |  SELECT doc_id, list(g) AS dups FROM (
             |    SELECT doc_id, g FROM (SELECT doc_id, unnest(gp) AS g FROM g$n) t$n
             |    GROUP BY doc_id, g HAVING COUNT(*) >= 2) h$n
             |  GROUP BY doc_id),
             |v$n AS (
             |  SELECT c.doc_id,
             |    CAST(list_sum(list_transform(range(1, len(c.toks) + 1),
             |      j -> CASE WHEN len(list_filter(c.f[greatest(1, j - ${n - 1}):least(j, len(c.f))], x -> x)) > 0
             |                THEN length(c.toks[j]) ELSE 0 END)) AS BIGINT) AS cov
             |  FROM (SELECT g$n.doc_id, toks,
             |          list_transform(gp, x -> coalesce(list_contains(d$n.dups, x), false)) AS f
             |        FROM g$n LEFT JOIN d$n ON g$n.doc_id = d$n.doc_id) c)""".stripMargin
        }
        val fracCols = ns.map { case (n, _) =>
          s"CASE WHEN total = 0 THEN 0.0 ELSE CAST(v$n.cov AS DOUBLE) / CAST(total AS DOUBLE) END AS dup${n}gram_char_frac"
        }
        val joins = ns.map { case (n, _) => s"JOIN v$n ON tot.doc_id = v$n.doc_id" }
        val flagCols = ns.map { case (n, thr) =>
          s"(dup${n}gram_char_frac <= $thr) AS pass_dup${n}gram"
        }
        val conj = ns.map { case (n, thr) => s"dup${n}gram_char_frac <= $thr" }
          .mkString(" AND ")
        s"""WITH dec AS (
           |  SELECT doc_id, text ||
           |    CASE WHEN doc_id % 4 = 0 THEN ' $dupPhraseLong $dupPhraseLong' ELSE '' END ||
           |    CASE WHEN doc_id % 6 = 0 THEN ' $dupPhraseShort $dupPhraseShort' ELSE '' END AS text
           |  FROM documents),
           |l AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS toks FROM dec),
           |${perN.mkString(",\n")},
           |tot AS (SELECT doc_id, CAST(list_sum(list_transform(toks, x -> length(x))) AS BIGINT) AS total FROM l),
           |fr AS (
           |  SELECT tot.doc_id, ${fracCols.mkString(",\n    ")}
           |  FROM tot ${joins.mkString(" ")})
           |SELECT doc_id, ${ns.map { case (n, _) => s"dup${n}gram_char_frac" }.mkString(", ")},
           |  ${flagCols.mkString(",\n  ")},
           |  ($conj) AS pass
           |FROM fr ORDER BY doc_id""".stripMargin
      })),
    // E17: the C4 line/page filter over deterministically rendered
    // pages; the line predicates are pure string tests (terminal
    // punctuation, word floor, javascript) the oracle replays
    Face("text_c4_filters", (s, d) => {
      graft.operators.QualityRules.c4Filters(
          Tables.documents(s, d).withColumn("text", c4Decorated),
          "doc_id", "text", minLineWords = 3, minKeptLines = 2)
        .orderBy("doc_id")
    }, Oracle(
      // replays the C4 gate: rendered page, line predicates (terminal
      // punctuation / word floor / javascript), page kills
        """WITH dec AS (
          |  SELECT doc_id,
          |    'Opening sentence number ' || CAST(doc_id AS VARCHAR) || ' stands here.' || chr(10) || text ||
          |    CASE WHEN doc_id % 3 = 0 THEN chr(10) || 'This sentence ends with a period too.' ELSE '' END ||
          |    CASE WHEN doc_id % 5 = 0 THEN chr(10) || 'Another good sentence appears right here!' ELSE '' END ||
          |    CASE WHEN doc_id % 9 = 0 THEN chr(10) || 'Please enable javascript for the dynamic view.' ELSE '' END ||
          |    CASE WHEN doc_id % 7 = 0 THEN chr(10) || 'Short one.' ELSE '' END ||
          |    CASE WHEN doc_id % 50 = 0 THEN chr(10) || 'lorem ipsum dolor sit amet.' ELSE '' END ||
          |    CASE WHEN doc_id % 41 = 0 THEN chr(10) || 'config = { debug: true }' ELSE '' END AS text
          |  FROM documents),
          |k AS (
          |  SELECT doc_id, text, string_split(text, chr(10)) AS ls,
          |    list_filter(string_split(text, chr(10)), l ->
          |      (ends_with(rtrim(l), '.') OR ends_with(rtrim(l), '!')
          |       OR ends_with(rtrim(l), '?') OR ends_with(rtrim(l), '"'))
          |      AND (CASE WHEN trim(l) = '' THEN 0
          |                ELSE len(string_split_regex(trim(l), '\s+')) END) >= 3
          |      AND NOT contains(lower(l), 'javascript')) AS kept
          |  FROM dec)
          |SELECT doc_id,
          |  array_to_string(kept, chr(10)) AS clean_text,
          |  CAST(len(ls) AS BIGINT) AS n_lines,
          |  CAST(len(kept) AS BIGINT) AS n_kept_lines,
          |  contains(lower(text), 'lorem ipsum') AS has_lorem,
          |  contains(text, '{') AS has_brace,
          |  (NOT contains(lower(text), 'lorem ipsum') AND NOT contains(text, '{')
          |   AND len(kept) >= 2) AS keep
          |FROM k ORDER BY doc_id""".stripMargin)),
    // E12b: line-boundary-respecting chunking over the rendered C4
    // pages (the multi-line fixture); the greedy fold is all-integer,
    // so the oracle replays it with a recursive CTE (the S5 recipe)
    Face("text_chunk_lines", (s, d) => {
      graft.operators.Chunking.chunkByLines(
          Tables.documents(s, d).withColumn("text", c4Decorated),
          "doc_id", "text", budgetTokens = 25)
        .orderBy("doc_id", "chunk_id")
    }, Oracle(
      // replays the greedy line-fold with a recursive CTE over the
      // same rendered pages: cid/acc advance one line per iteration
        """WITH RECURSIVE dec AS (
          |  SELECT doc_id,
          |    'Opening sentence number ' || CAST(doc_id AS VARCHAR) || ' stands here.' || chr(10) || text ||
          |    CASE WHEN doc_id % 3 = 0 THEN chr(10) || 'This sentence ends with a period too.' ELSE '' END ||
          |    CASE WHEN doc_id % 5 = 0 THEN chr(10) || 'Another good sentence appears right here!' ELSE '' END ||
          |    CASE WHEN doc_id % 9 = 0 THEN chr(10) || 'Please enable javascript for the dynamic view.' ELSE '' END ||
          |    CASE WHEN doc_id % 7 = 0 THEN chr(10) || 'Short one.' ELSE '' END ||
          |    CASE WHEN doc_id % 50 = 0 THEN chr(10) || 'lorem ipsum dolor sit amet.' ELSE '' END ||
          |    CASE WHEN doc_id % 41 = 0 THEN chr(10) || 'config = { debug: true }' ELSE '' END AS text
          |  FROM documents),
          |w AS (
          |  SELECT doc_id, string_split(text, chr(10)) AS ls,
          |    list_transform(string_split(text, chr(10)), x ->
          |      CASE WHEN trim(x) = '' THEN 0
          |           ELSE len(string_split_regex(trim(x), '\s+')) END) AS ws
          |  FROM dec),
          |f AS (
          |  SELECT doc_id, ls, ws, 1 AS i, 0 AS cid, ws[1] AS acc FROM w
          |  UNION ALL
          |  SELECT doc_id, ls, ws, i + 1,
          |    CASE WHEN acc + ws[i+1] > 25 AND acc > 0 THEN cid + 1 ELSE cid END,
          |    CASE WHEN acc + ws[i+1] > 25 AND acc > 0 THEN ws[i+1] ELSE acc + ws[i+1] END
          |  FROM f WHERE i < len(ws))
          |SELECT doc_id, CAST(cid AS BIGINT) AS chunk_id,
          |  CAST(COUNT(*) AS BIGINT) AS chunk_lines,
          |  CAST(SUM(ws[i]) AS BIGINT) AS chunk_tokens,
          |  string_agg(ls[i], chr(10) ORDER BY i) AS chunk_text
          |FROM f GROUP BY doc_id, cid ORDER BY doc_id, chunk_id""".stripMargin)),

    Face("text_tokens", (s, d) => {
      val t = F.col("text")
      Tables.documents(s, d).select(
        F.col("doc_id"),
        T.tokenCount(t).as("ws_tokens"),
        T.bpeishCount(t).as("bpeish_tokens"),
        F.length(t).as("n_chars_text"))
        .orderBy("doc_id")
    }, Oracle(
        """SELECT doc_id,
          |  len(string_split_regex(lower(trim(text)), '\s+')) AS ws_tokens,
          |  len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS bpeish_tokens,
          |  LENGTH(text) AS n_chars_text
          |FROM documents ORDER BY doc_id""".stripMargin)),
    Face("text_fingerprint", (s, d) => {
      Tables.documents(s, d)
        .select(F.col("doc_id"), T.fingerprint(F.col("text")).as("fp"),
          F.size(F.array_distinct(T.tokens(F.col("text")))).as("n_distinct_tokens"))
        .orderBy("doc_id")
    }, Oracle(
        """SELECT doc_id,
          |  md5(array_to_string(list_sort(list_distinct(string_split_regex(lower(trim(text)), '\s+'))), ' ')) AS fp,
          |  len(list_distinct(string_split_regex(lower(trim(text)), '\s+'))) AS n_distinct_tokens
          |FROM documents ORDER BY doc_id""".stripMargin)),
  )
}
