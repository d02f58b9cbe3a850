package graft.sql

import Lexer.isWord

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.GraftSql

/** BigQuery ML surface, split out of [[graft.GraftSql]] (round 13 —
  * mechanical move, same behavior): the CREATE MODEL statement family
  * (kmeans / logistic_reg / linear_reg), the ML.PREDICT / ML.EVALUATE /
  * ML.WEIGHTS / ML.CENTROIDS table functions, the analytic
  * preprocessing scalers, and DROP MODEL. Model registries are
  * session-keyed like the view registries in GraftSql.
  */
private[graft] object Models {
  /** BQML's analytic PREPROCESSING scalers (the TRANSFORM-clause
    * functions, in their standalone analytic form):
    * `ML.MIN_MAX_SCALER(x) OVER (...)` → (x−min)/(max−min) over the
    * window, 0.5 for a degenerate (min = max) range — the midpoint of
    * the target interval; `ML.STANDARD_SCALER(x) OVER (...)` →
    * (x−avg)/stddev_samp, NULL for a single-row window (sample stddev
    * undefined) and ±∞-free via NULLIF on a zero deviation. The OVER
    * text is DUPLICATED verbatim into each inner window function —
    * named windows, inline refinements and the empty global `OVER ()`
    * all ride through (B48 runs after this rewrite). The form without
    * OVER (CREATE MODEL TRANSFORM's training-statistics version) is
    * loud — spell the window.
    */
  private[graft] def rewriteMlScaler(sql: String): String = {
    val upper = sql.toUpperCase(java.util.Locale.ROOT)
    val names = Seq("ML.MIN_MAX_SCALER", "ML.STANDARD_SCALER",
      "ML.QUANTILE_BUCKETIZE", "ML.IMPUTER", "ML.ROBUST_SCALER",
      "ML.MAX_ABS_SCALER", "ML.ONE_HOT_ENCODER", "ML.LABEL_ENCODER")
    if (!names.exists(upper.contains)) return sql
    val out = new StringBuilder
    var i = 0
    while (i < sql.length) {
      val c = sql.charAt(i)
      val e = Lexer.opaqueEnd(sql, i)
      if (e > i) { out ++= sql.substring(i, e); i = e }
      else {
        val hit = if (c == 'M' || c == 'm') names.find(Lexer.wordAt(sql, _, i)) else None
        hit match {
          case Some(n) =>
            val p = Lexer.skipSpace(sql, i + n.length)
            require(p < sql.length && sql.charAt(p) == '(', s"$n must be called with (expr)")
            val q = Lexer.closeParen(sql, p) + 1
            require(q > 0, s"unbalanced parens in $n(...)")
            val x = sql.substring(p + 1, q - 1).trim
            var r = Lexer.skipSpace(sql, q)
            require(Lexer.wordAt(sql, "OVER", r),
              s"$n is supported in its analytic form only: $n(expr) OVER (...) — " +
                "the OVER-less TRANSFORM spelling computes training statistics, " +
                "which this engine spells as an explicit window")
            r += 4
            r = Lexer.skipSpace(sql, r)
            // the window: a parenthesized spec (body kept for ORDER BY
            // injection) or a bare window name
            val specBody: Option[String] =
              if (r < sql.length && sql.charAt(r) == '(') {
                val close = Lexer.closeParen(sql, r)
                require(close >= 0, s"unbalanced parens in $n(...) OVER (...)")
                val w = sql.substring(r + 1, close); i = close + 1; Some(w)
              } else {
                var e = r
                while (e < sql.length && isWord(sql.charAt(e))) e += 1
                require(e > r, s"$n(...) OVER needs a window spec or name")
                i = e; None
              }
            val over = specBody match {
              case Some(b) => s"OVER ($b)"
              case None => s"OVER ${sql.substring(r, i)}"
            }
            val parts = Lexer.splitTop(x)
            val f = parts.head
            val xd = s"CAST(($f) AS DOUBLE)"
            // the encoder pair shares one vocabulary rule: every
            // distinct non-NULL value kept (frequency_threshold=1 —
            // the only regime ONE window expresses; BigQuery's
            // default 5 selects the vocabulary BY FREQUENCY, which
            // needs a pre-pass — loud, never silently different),
            // indexed 1..k alphabetically by a dense_rank whose keys
            // sort NULLs last; NULL encodes 0; a vocabulary larger
            // than top_k RAISES (top-k-by-frequency selection is the
            // same inexpressible pre-pass — raising beats silently
            // dropping the alphabetical tail).
            def encoderIndex(topK: String, thresh: String, what: String): String = {
              require(thresh.trim == "1",
                s"$what frequency_threshold must be the literal 1 — BigQuery's default " +
                  "(5) selects the vocabulary by FREQUENCY, which needs a pre-pass no " +
                  s"single window expresses; spell $what(..., top_k, 1)")
              val spec = specBody.getOrElse(throw new IllegalArgumentException(
                s"$what needs an inline OVER (...) spec — the ORDER BY injection " +
                  "cannot reach into a named window"))
              require(!spec.toUpperCase(java.util.Locale.ROOT).matches("(?s).*\\bORDER\\b.*"),
                s"$what's OVER must not carry ORDER BY — the vocabulary defines the order")
              val dr = s"DENSE_RANK() OVER ($spec ORDER BY " +
                s"(CASE WHEN ($f) IS NULL THEN 1 ELSE 0 END), ($f))"
              s"(CASE WHEN ($f) IS NULL THEN CAST(0 AS BIGINT) " +
                s"WHEN $dr > ($topK) THEN CAST(raise_error(concat('$what: vocabulary " +
                s"exceeds top_k = ', CAST(($topK) AS STRING), ' — top-k-by-frequency " +
                s"selection needs the same pre-pass')) AS BIGINT) " +
                s"ELSE CAST($dr AS BIGINT) END)"
            }
            out ++= (n match {
              case "ML.MIN_MAX_SCALER" =>
                require(parts.size == 1, "ML.MIN_MAX_SCALER takes (feature)")
                s"(CASE WHEN MAX($f) $over = MIN($f) $over THEN 0.5 " +
                  s"ELSE ($xd - CAST(MIN($f) $over AS DOUBLE)) / " +
                  s"(CAST(MAX($f) $over AS DOUBLE) - CAST(MIN($f) $over AS DOUBLE)) END)"
              case "ML.STANDARD_SCALER" =>
                require(parts.size == 1, "ML.STANDARD_SCALER takes (feature)")
                s"(($xd - AVG($f) $over) / NULLIF(STDDEV_SAMP($f) $over, CAST(0 AS DOUBLE)))"
              // (x - median) / IQR — outlier-robust; a zero IQR is NULL
              case "ML.ROBUST_SCALER" =>
                require(parts.size == 1, "ML.ROBUST_SCALER takes (feature)")
                s"(($xd - MEDIAN($f) $over) / NULLIF(" +
                  s"CAST(PERCENTILE($f, 0.75) $over AS DOUBLE) - " +
                  s"CAST(PERCENTILE($f, 0.25) $over AS DOUBLE), CAST(0 AS DOUBLE)))"
              // x / max(|x|) — scales into [-1, 1]; all-zero windows NULL
              case "ML.MAX_ABS_SCALER" =>
                require(parts.size == 1, "ML.MAX_ABS_SCALER takes (feature)")
                s"($xd / NULLIF(CAST(MAX(ABS($f)) $over AS DOUBLE), CAST(0 AS DOUBLE)))"
              // equal-count bucketing IS ntile ordered by the feature:
              // the rewrite INJECTS `ORDER BY feature` into the given
              // spec (BigQuery's own OVER here is partition-only; a
              // caller ORDER BY is loud — the feature defines the
              // order). NULL features ride Spark's nulls-first rule
              // into bin_1 (stated)
              case "ML.QUANTILE_BUCKETIZE" =>
                require(parts.size == 2,
                  "ML.QUANTILE_BUCKETIZE takes (feature, num_buckets)")
                val spec = specBody.getOrElse(throw new IllegalArgumentException(
                  "ML.QUANTILE_BUCKETIZE needs an inline OVER (...) spec — the ORDER BY " +
                    "injection cannot reach into a named window"))
                require(!spec.toUpperCase(java.util.Locale.ROOT).matches("(?s).*\\bORDER\\b.*"),
                  "ML.QUANTILE_BUCKETIZE's OVER must not carry ORDER BY — the feature " +
                    "defines the quantile order")
                s"concat('bin_', CAST(NTILE(${parts(1)}) OVER ($spec ORDER BY ($f)) AS STRING))"
              // alphabetical label index, the threshold-1 regime
              case "ML.LABEL_ENCODER" =>
                require(parts.size == 3,
                  "ML.LABEL_ENCODER takes (expr, top_k, frequency_threshold) — spell " +
                    "all three (the BigQuery defaults imply frequency selection; " +
                    "frequency_threshold must be 1)")
                encoderIndex(parts(1), parts(2), "ML.LABEL_ENCODER")
              // the same index as a single-element (index, 1.0) array
              case "ML.ONE_HOT_ENCODER" =>
                require(parts.size == 4,
                  "ML.ONE_HOT_ENCODER takes (expr, drop, top_k, frequency_threshold) — " +
                    "spell all four (drop 'none'; frequency_threshold must be 1)")
                val drop = parts(1).trim.stripPrefix("'").stripSuffix("'")
                  .toLowerCase(java.util.Locale.ROOT)
                require(drop == "none",
                  s"ML.ONE_HOT_ENCODER drop='$drop' is not supported ('none' only — " +
                    "'most_frequent'/'zero_variance' need the frequency pre-pass)")
                s"(array(named_struct('index', " +
                  s"${encoderIndex(parts(2), parts(3), "ML.ONE_HOT_ENCODER")}, " +
                  "'value', CAST(1.0 AS DOUBLE))))"
              case _ => // ML.IMPUTER
                require(parts.size == 2,
                  "ML.IMPUTER takes (feature, 'mean'|'median'|'most_frequent')")
                val strat = parts(1).trim.stripPrefix("'").stripSuffix("'")
                  .toLowerCase(java.util.Locale.ROOT)
                strat match {
                  case "mean" => s"COALESCE(($f), AVG($f) $over)"
                  case "median" => s"COALESCE(($f), MEDIAN($f) $over)"
                  case "most_frequent" => s"COALESCE(($f), MODE($f) $over)"
                  case other => throw new IllegalArgumentException(
                    s"ML.IMPUTER strategy must be 'mean', 'median' or 'most_frequent', got '$other'")
                }
            })
          case None => out += c; i += 1
        }
      }
    }
    out.toString
  }

  // ── BigQuery ML: CREATE MODEL (kmeans) + ML.PREDICT ──────────────
  //
  // The BQML clustering workflow as statements: `CREATE [OR REPLACE]
  // MODEL name OPTIONS(model_type='kmeans', num_clusters=k
  // [, max_iterations=i]) AS SELECT id, features FROM ...` trains the
  // deterministic int8 Lloyd loop (operators.Clustering — seeds = k
  // lowest ids, exact integer centroid sums, early stop on the
  // centroid fixpoint like BigQuery's own), and
  // `FROM ML.PREDICT(MODEL name, (query) | TABLE t)` resolves
  // textually (the VECTOR_SEARCH mechanism) to the input columns plus
  // BigQuery's (centroid_id — 1-BASED — and centroid_distance).
  // Features must be ONE integral array column (int8_quantize floats
  // first — the family's verifiability contract, loud otherwise);
  // non-kmeans model_types are loud with a pointer at the operator
  // that implements them (classifier training = TextClassifier).

  private case class ModelState(centroids: Seq[Seq[Double]], idCol: String,
                                vecCol: String, k: Int, iters: Int,
                                trainQuery: String)

  private val modelRegistry =
    scala.collection.concurrent.TrieMap.empty[(Int, String), ModelState]

  // logistic_reg models: the one-vs-rest hashed perceptron
  // (operators.TextClassifier) — classes derived from the training
  // data, weights held like kmeans centroids hold theirs
  private case class LogisticState(classes: Seq[String], weights: Seq[Array[Int]],
                                   idCol: String, textCol: String, labelCol: String,
                                   buckets: Int, trainQuery: String,
                                   transform: Option[String])

  private val logisticRegistry =
    scala.collection.concurrent.TrieMap.empty[(Int, String), LogisticState]

  // linear_reg models: closed-form normal-equations OLS
  // (graft.sql.LinearReg) — coef(0) is the intercept; idCol is the
  // TRANSFORM join-back key (None for plain AS-SELECT models, whose
  // predictions compute in place)
  /** Per-feature training statistics captured at CREATE MODEL time
    * (BigQuery computes FEATURE_INFO during training too): exact
    * min/max/counts, exact DECIMAL sum/sum-of-squares (mean and
    * stddev derive from them by a FIXED double fold at read time —
    * sqrt is IEEE-correctly-rounded, so the fold replays bit-for-bit
    * in any engine), and the exact interpolated median. */
  private case class FeatureStats(name: String, n: Long, nulls: Long,
                                  min: Double, max: Double,
                                  sum: java.math.BigDecimal,
                                  sumSq: java.math.BigDecimal, median: Double)

  private case class LinearState(featureCols: Seq[String], labelCol: String,
                                 coef: Seq[Double], trainQuery: String,
                                 transform: Option[String], idCol: Option[String],
                                 stats: Seq[FeatureStats])

  private val linearRegistry =
    scala.collection.concurrent.TrieMap.empty[(Int, String), LinearState]

  private def modelKey(spark: SparkSession, name: String): (Int, String) =
    (System.identityHashCode(spark), name.toLowerCase)

  private[graft] val ModelHeadRe = """(?is)^\s*CREATE\s+(?:OR\s+REPLACE\s+)?MODEL\b.*""".r
  private val ModelRe =
    ("""(?is)^\s*CREATE\s+(?:(OR\s+REPLACE)\s+)?MODEL\s+(?:(IF\s+NOT\s+EXISTS)\s+)?""" +
      """((?:`[^`]+`|[A-Za-z_][\w$]*)(?:\.(?:`[^`]+`|[A-Za-z_][\w$]*))*)\s+""" +
      // TRANSFORM select-list: up to THREE paren-nesting levels —
      // enough for the scaler/expression shapes BigQuery TRANSFORMs
      // carry (ML.X(F(G(col)))); deeper nesting fails the statement
      // loudly, never silently
      """(?:TRANSFORM\s*\(((?:[^()]|\((?:[^()]|\((?:[^()]|\([^()]*\))*\))*\))*)\)\s+)?""" +
      """OPTIONS\s*\(([^()]*)\)\s+AS\s+(.*?)\s*;?\s*$""").r

  def createModel(spark: SparkSession, sql: String): DataFrame = sql match {
    case ModelRe(orRep, ifNot, rawName, transform, optBody, query) =>
      require(orRep == null || ifNot == null,
        "OR REPLACE and IF NOT EXISTS are mutually exclusive (BigQuery rejects the combination)")
      val name = GraftSql.viewName(rawName)
      val key = modelKey(spark, name)
      if (modelRegistry.contains(key) || logisticRegistry.contains(key) ||
          linearRegistry.contains(key)) {
        if (ifNot != null) return spark.emptyDataFrame
        require(orRep != null,
          s"model '$name' already exists (use OR REPLACE or IF NOT EXISTS)")
      }
      val opts = GraftSql.parseOptions(optBody)
      val mtype = opts.getOrElse("model_type",
        throw new IllegalArgumentException("CREATE MODEL requires OPTIONS(model_type = ...)"))
      if (mtype.equalsIgnoreCase("logistic_reg"))
        return createLogisticModel(spark, key, opts, query, Option(transform).map(_.trim))
      if (mtype.equalsIgnoreCase("linear_reg"))
        return createLinearModel(spark, key, opts, query, Option(transform).map(_.trim))
      require(transform == null,
        "TRANSFORM is supported for model_type='logistic_reg'/'linear_reg' only — kmeans " +
          "features are one integral array column; preprocess in the AS SELECT instead")
      require(mtype.equalsIgnoreCase("kmeans"),
        s"model_type '$mtype' is not supported — 'kmeans', 'logistic_reg' and 'linear_reg' " +
          "are the implemented classes (retrieval lives in operators.Similarity)")
      val unknown = opts.keySet -- Set("model_type", "num_clusters", "max_iterations")
      require(unknown.isEmpty,
        s"unsupported CREATE MODEL option(s): ${unknown.toSeq.sorted.mkString(", ")} " +
          "(supported: model_type, num_clusters, max_iterations; initialization is " +
          "deterministic — seeds are the k lowest ids)")
      val kTxt = opts.getOrElse("num_clusters",
        throw new IllegalArgumentException("kmeans needs OPTIONS(num_clusters = k)"))
      require(kTxt.matches("""\d+""") && kTxt.toInt >= 1,
        s"num_clusters must be a positive integer literal, got $kTxt")
      val itTxt = opts.getOrElse("max_iterations", "20") // BigQuery's default
      require(itTxt.matches("""\d+"""), s"max_iterations must be an integer literal, got $itTxt")
      val df = GraftSql.load(spark, query)
      require(df.columns.length == 2,
        s"CREATE MODEL kmeans AS SELECT must produce exactly (id, features) — got " +
          s"(${df.columns.mkString(", ")}); features is one integral array column " +
          "(int8_quantize floats first)")
      val vecCol = df.schema.fields
        .find(_.dataType.isInstanceOf[org.apache.spark.sql.types.ArrayType])
        .getOrElse(throw new IllegalArgumentException(
          "CREATE MODEL kmeans: no array feature column in the AS SELECT " +
            "(expected (id, features) with features an integral array)")).name
      val idCol = df.columns.filterNot(_ == vecCol).head
      val centroids = graft.operators.Clustering.kmeansTrain(
        df, kTxt.toInt, itTxt.toInt, idCol, vecCol)
      logisticRegistry.remove(key)
      linearRegistry.remove(key)
      modelRegistry(key) = ModelState(centroids, idCol, vecCol, kTxt.toInt,
        itTxt.toInt, query)
      spark.emptyDataFrame
    case _ => throw new IllegalArgumentException(
      "not a CREATE MODEL statement (expected: CREATE [OR REPLACE] MODEL [IF NOT EXISTS] " +
        "name OPTIONS(model_type = 'kmeans', num_clusters = k [, max_iterations = i]) " +
        "AS SELECT id, features FROM ...)")
  }

  /** `model_type='logistic_reg'` — BigQuery's most-used BQML class,
    * dispatched onto the engine's own training loop
    * ([[graft.operators.TextClassifier.trainOneVsRest]], the
    * distributed hashed one-vs-rest perceptron; integer weights, so
    * predict and the confusion-derived ML.EVALUATE metrics are
    * bit-deterministic and oracle-replayable). Contract: the AS
    * SELECT produces exactly (id, text, label) with the label column
    * named by `input_label_cols` (default 'label'); classes derive
    * from the training data (≤ 64, loud above); `max_iterations`
    * maps to perceptron epochs (BigQuery's default 20 applies). A
    * `TRANSFORM(select_list)` clause is honored end-to-end: training,
    * every ML.PREDICT input (predictions join back on the id column,
    * callers see their own columns + predicted_* — the passthrough
    * shape) and ML.EVALUATE all pass through the SAME expressions.
    * Out-of-scope options (regularization, learn_rate, early_stop)
    * are loud, not ignored.
    */
  private def createLogisticModel(spark: SparkSession, key: (Int, String),
                                  opts: Map[String, String], query: String,
                                  transform: Option[String] = None): DataFrame = {
    val unknown = opts.keySet -- Set("model_type", "input_label_cols", "max_iterations")
    require(unknown.isEmpty,
      s"unsupported CREATE MODEL logistic_reg option(s): ${unknown.toSeq.sorted.mkString(", ")} " +
        "(supported: model_type, input_label_cols, max_iterations)")
    val labelCol = opts.get("input_label_cols") match {
      case None => "label"
      case Some(v) =>
        val m = """(?i)^\[\s*'([A-Za-z_]\w*)'\s*\]$""".r
        v.trim match {
          case m(c) => c
          case _ => throw new IllegalArgumentException(
            s"input_label_cols must be ['one_column'], got: $v")
        }
    }
    val itTxt = opts.getOrElse("max_iterations", "20") // BigQuery's default
    require(itTxt.matches("""\d+""") && itTxt.toInt >= 1,
      s"max_iterations must be a positive integer literal, got $itTxt")
    val df = applyTransform(spark, GraftSql.load(spark, query), transform)
    require(df.columns.length == 3 && df.columns.map(_.toLowerCase).contains(labelCol.toLowerCase),
      s"CREATE MODEL logistic_reg${transform.map(_ => " TRANSFORM(...)").getOrElse("")} " +
        s"must produce exactly (id, text, label) with " +
        s"the label column named '$labelCol' — got (${df.columns.mkString(", ")})")
    val rest = df.columns.filterNot(_.equalsIgnoreCase(labelCol))
    val (idCol, textCol) = (rest(0), rest(1))
    // the (id, text, label) contract is positional — guard the one
    // silent mis-order (an id in the text slot trains the tokenizer
    // on ids with no error): the text slot must be STRING-typed
    require(df.schema(textCol).dataType == org.apache.spark.sql.types.StringType,
      s"CREATE MODEL logistic_reg: the AS SELECT contract is positional (id, text, label) " +
        s"and the text column ('$textCol') must be STRING, got " +
        s"${df.schema(textCol).dataType.simpleString} — reorder the select list")
    // labels train as their string forms; cast ONCE here so non-string
    // labels (e.g. INT64) compare/collect consistently end-to-end
    val labelActual = df.columns.find(_.equalsIgnoreCase(labelCol)).get
    val dfT = df.withColumn(labelActual,
      org.apache.spark.sql.functions.col(labelActual).cast("string"))
    val classes = dfT.select(labelActual).distinct()
      .collect().map(_.get(0)).map(v => if (v == null) null else v.toString).toSeq
    require(!classes.contains(null), "logistic_reg training data carries NULL labels")
    require(classes.size >= 2 && classes.size <= 64,
      s"logistic_reg needs 2..64 distinct labels, got ${classes.size}")
    val ordered = classes.sorted
    val (ws, _) = graft.operators.TextClassifier.trainOneVsRest(
      dfT, idCol, textCol, labelActual, ordered, buckets = 4096, epochs = itTxt.toInt)
    modelRegistry.remove(key)
    linearRegistry.remove(key)
    logisticRegistry(key) = LogisticState(ordered, ws, idCol, textCol, labelCol, 4096,
      query, transform)
    spark.emptyDataFrame
  }

  /** `model_type='linear_reg'` — the last of BigQuery's big-three
    * BQML classes, dispatched onto [[graft.sql.LinearReg]]: closed-form
    * normal-equations OLS from ONE exact-decimal aggregate pass (no
    * iteration — `optimize_strategy='batch_gradient_descent'` and
    * `max_iterations` are LOUD, not ignored; BigQuery's AUTO_STRATEGY
    * picks NORMAL_EQUATION for bounded feature lists, exactly this).
    * Contract: the AS SELECT produces (f₁ … fₚ, label) — every
    * non-label column is a feature (BigQuery's rule), 1..16 of them,
    * each integral or DECIMAL-typed (doubles loud — the float-parity
    * discipline; cast to the data's true decimal width). With a
    * TRANSFORM(select_list) the emitted shape is (id, f₁ … fₚ, label):
    * the leading id is the ML.PREDICT join-back key (the A48
    * passthrough mechanism), excluded from the features.
    */
  private def createLinearModel(spark: SparkSession, key: (Int, String),
                                opts: Map[String, String], query: String,
                                transform: Option[String] = None): DataFrame = {
    val unknown = opts.keySet -- Set("model_type", "input_label_cols", "optimize_strategy")
    require(unknown.isEmpty,
      s"unsupported CREATE MODEL linear_reg option(s): ${unknown.toSeq.sorted.mkString(", ")} " +
        "(supported: model_type, input_label_cols, optimize_strategy — the closed-form " +
        "solve has no iteration/learning-rate knobs)")
    opts.get("optimize_strategy").foreach { s =>
      require(s.equalsIgnoreCase("normal_equation") || s.equalsIgnoreCase("auto_strategy"),
        s"optimize_strategy '$s' is not supported — the engine solves the normal " +
          "equations in closed form (NORMAL_EQUATION; AUTO_STRATEGY resolves to it)")
    }
    val labelCol = opts.get("input_label_cols") match {
      case None => "label"
      case Some(v) =>
        val m = """(?i)^\[\s*'([A-Za-z_]\w*)'\s*\]$""".r
        v.trim match {
          case m(c) => c
          case _ => throw new IllegalArgumentException(
            s"input_label_cols must be ['one_column'], got: $v")
        }
    }
    val df = applyTransform(spark, GraftSql.load(spark, query), transform)
    require(df.columns.exists(_.equalsIgnoreCase(labelCol)),
      s"CREATE MODEL linear_reg: no label column '$labelCol' in " +
        s"(${df.columns.mkString(", ")})")
    val nonLabel = df.columns.filterNot(_.equalsIgnoreCase(labelCol)).toSeq
    val (idCol, featureCols) = transform match {
      case Some(_) =>
        require(nonLabel.length >= 2,
          "linear_reg TRANSFORM must emit (id, features..., label) — the leading id " +
            "column is the ML.PREDICT join-back key")
        (Some(nonLabel.head), nonLabel.tail)
      case None => (None, nonLabel)
    }
    require(featureCols.nonEmpty && featureCols.length <= 16,
      s"linear_reg supports 1..16 features, got ${featureCols.length} " +
        s"(${featureCols.mkString(", ")})")
    val labelActual = df.columns.find(_.equalsIgnoreCase(labelCol)).get
    val coef = graft.sql.LinearReg.train(df, featureCols, labelActual)
    // FEATURE_INFO statistics: one aggregate pass, bounded 7 columns
    // per feature (<= 16 features), exact sums as DECIMAL
    val stats = {
      import org.apache.spark.sql.{functions => F}
      val aggs = featureCols.flatMap { f =>
        Seq(F.count(F.col(f)).as(s"n_$f"),
          F.sum(F.when(F.col(f).isNull, 1L).otherwise(0L)).as(s"z_$f"),
          F.min(F.col(f)).cast("double").as(s"mn_$f"),
          F.max(F.col(f)).cast("double").as(s"mx_$f"),
          F.sum(F.col(f).cast("decimal(38,6)")).as(s"s_$f"),
          F.sum(F.col(f).cast("decimal(38,6)") * F.col(f).cast("decimal(38,6)")).as(s"q_$f"),
          F.expr(s"percentile($f, 0.5)").as(s"md_$f"))
      }
      val r = df.agg(aggs.head, aggs.tail: _*).head()
      featureCols.map { f =>
        FeatureStats(f, r.getAs[Long](s"n_$f"), r.getAs[Long](s"z_$f"),
          r.getAs[Double](s"mn_$f"), r.getAs[Double](s"mx_$f"),
          r.getAs[java.math.BigDecimal](s"s_$f"),
          r.getAs[java.math.BigDecimal](s"q_$f"), r.getAs[Double](s"md_$f"))
      }
    }
    modelRegistry.remove(key)
    logisticRegistry.remove(key)
    linearRegistry(key) = LinearState(featureCols, labelActual, coef.toSeq, query,
      transform, idCol, stats)
    spark.emptyDataFrame
  }

  /** Apply a CREATE MODEL TRANSFORM select-list to a frame: the
    * BigQuery preprocessing contract — training AND every later
    * ML.PREDICT/ML.EVALUATE input pass through the SAME expressions,
    * so the model never sees raw columns the transform didn't emit.
    */
  private def applyTransform(spark: SparkSession, input: DataFrame,
                             transform: Option[String]): DataFrame =
    transform match {
      case None => input
      case Some(t) =>
        val v = s"__graft_transform_${GraftSql.asOfCounter.incrementAndGet()}"
        input.createOrReplaceTempView(v)
        try GraftSql.load(spark, s"SELECT $t FROM $v")
        finally spark.catalog.dropTempView(v)
    }

  /** Classifier ML.EVALUATE: one row of BigQuery's aggregate
    * classification metrics — `precision` / `recall` / `f1_score`
    * MACRO-averaged over the classes in sorted-class order (a fixed
    * left-to-right IEEE fold, so the doubles are bit-deterministic and
    * an oracle replays them with the same textual fold) plus
    * `accuracy`. All four derive from the integer confusion counts
    * (≤ K² driver rows). A class never predicted (or never present)
    * contributes precision/recall 0.0 — the deterministic rule, loud
    * nowhere. log_loss and roc_auc are NOT emitted: both average
    * libm doubles corpus-wide (the ML.EVALUATE-kmeans exactness note
    * applies) — stated omission.
    */
  private def evaluateLogistic(spark: SparkSession, ls: LogisticState,
                               input: DataFrame): DataFrame = {
    require(input.columns.contains(ls.textCol) && input.columns.contains(ls.labelCol),
      s"ML.EVALUATE input must carry the model's text ('${ls.textCol}') and " +
        s"label ('${ls.labelCol}') columns — got (${input.columns.mkString(", ")})")
    import org.apache.spark.sql.{functions => FF}
    // labels trained as strings (createLogisticModel casts once) —
    // cast the evaluate input the same way so INT64 labels work
    val pred = graft.operators.TextClassifier.withPrediction(
      input.select(FF.col(ls.labelCol).cast("string").as(ls.labelCol), FF.col(ls.textCol)),
      ls.textCol, ls.classes, ls.weights, ls.buckets)
    val counts = pred.groupBy(FF.col(ls.labelCol).as("__t"), FF.col("predicted_label").as("__p"))
      .agg(FF.count(FF.lit(1)).as("__n")).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    val total = counts.map(_._3).sum
    require(total > 0, "ML.EVALUATE: empty input")
    val correct = counts.collect { case (t, p, n) if t == p => n }.sum
    def perClass(c: String): (Double, Double, Double) = {
      val tp = counts.collect { case (t, p, n) if t == c && p == c => n }.sum
      val fp = counts.collect { case (t, p, n) if t != c && p == c => n }.sum
      val fn = counts.collect { case (t, p, n) if t == c && p != c => n }.sum
      val pr = if (tp + fp == 0) 0.0 else tp.toDouble / (tp + fp)
      val rc = if (tp + fn == 0) 0.0 else tp.toDouble / (tp + fn)
      val f1 = if (pr + rc == 0.0) 0.0 else 2.0 * pr * rc / (pr + rc)
      (pr, rc, f1)
    }
    // macro averages folded in sorted-class order — the determinism
    // contract the scaladoc states
    val per = ls.classes.map(perClass)
    val k = ls.classes.size.toDouble
    val precision = per.foldLeft(0.0)(_ + _._1) / k
    val recall = per.foldLeft(0.0)(_ + _._2) / k
    val f1 = per.foldLeft(0.0)(_ + _._3) / k
    import spark.implicits._
    Seq((precision, recall, correct.toDouble / total, f1))
      .toDF("precision", "recall", "accuracy", "f1_score")
  }

  private[graft] def rewriteMlPredict(spark: SparkSession, sql0: String): String = {
    def onePass(sql: String, fnName: String,
                run: (SparkSession, String) => DataFrame): String = {
      if (!sql.toUpperCase(java.util.Locale.ROOT).contains(fnName)) return sql
      // call spans, the VECTOR_SEARCH walk (a dotted `x.ML.PREDICT` is not ours)
      val spans = Lexer.calls(sql, fnName)
        .filter { case (i, _, _) => i == 0 || sql.charAt(i - 1) != '.' }
      var out = sql
      spans.reverseIterator.foreach { case (start, open, close) =>
        require(close >= 0, s"unbalanced parentheses in $fnName call")
        val df = run(spark, out.substring(open + 1, close))
        val view = s"__ml_call_${GraftSql.asOfCounter.incrementAndGet()}"
        df.createOrReplaceTempView(view)
        out = out.substring(0, start) + view + out.substring(close + 1)
      }
      out
    }
    onePass(onePass(onePass(onePass(onePass(onePass(sql0, "ML.PREDICT", mlPredictFromArgs),
      "ML.EVALUATE", mlEvaluateFromArgs),
      "ML.WEIGHTS", mlWeightsFromArgs),
      "ML.CENTROIDS", mlCentroidsFromArgs),
      "ML.TRANSFORM", mlTransformFromArgs),
      "ML.FEATURE_INFO", mlFeatureInfoFromArgs)
  }

  /** ML.FEATURE_INFO(MODEL m) — BigQuery's per-feature training
    * statistics, captured at CREATE MODEL time for linear_reg models
    * (the numeric-feature class where per-column stats are
    * meaningful): (input, min, max, mean, median, stddev,
    * category_count NULL for numerics, null_count). mean and stddev
    * derive from the stored EXACT sums by a fixed double fold —
    * mean = S/N; stddev = sqrt((SS − S·S/N)/(N−1)), NULL for N < 2 —
    * so an independent engine recomputing the same fold from the raw
    * table matches bit-for-bit (sqrt is IEEE-correctly-rounded).
    * kmeans/logistic models are LOUD: their features are vectors or
    * hashed text, with no per-column statistics to report.
    */
  private def mlFeatureInfoFromArgs(spark: SparkSession, argBody: String): DataFrame = {
    val ModelOnlyRe = """(?is)^\s*MODEL\s+(`[^`]+`|[A-Za-z_][\w$.]*)\s*$""".r
    val name = argBody match {
      case ModelOnlyRe(n) => GraftSql.viewName(n)
      case _ => throw new IllegalArgumentException("ML.FEATURE_INFO takes (MODEL name)")
    }
    val key = modelKey(spark, name)
    linearRegistry.get(key) match {
      case Some(ls) =>
        import spark.implicits._
        ls.stats.map { st =>
          val nD = st.n.toDouble
          val sD = st.sum.doubleValue
          val ssD = st.sumSq.doubleValue
          val mean = sD / nD
          val stddev: Option[Double] =
            if (st.n < 2) None
            else Some(math.sqrt((ssD - sD * sD / nD) / (nD - 1.0)))
          (st.name, st.min, st.max, mean, st.median, stddev,
            Option.empty[Long], st.nulls)
        }.toDF("input", "min", "max", "mean", "median", "stddev",
          "category_count", "null_count")
      case None =>
        require(!logisticRegistry.contains(key) && !modelRegistry.contains(key),
          s"ML.FEATURE_INFO: model '$name' is not linear_reg — kmeans features " +
            "are vectors and logistic features are hashed text; neither has " +
            "per-column statistics (use ML.CENTROIDS / ML.WEIGHTS)")
        throw new IllegalArgumentException(
          s"ML.FEATURE_INFO: no model '$name' (CREATE MODEL it first)")
    }
  }

  /** INFORMATION_SCHEMA.MODELS — this session's registered models
    * (BigQuery's model_type spellings). */
  private[graft] def modelsView(spark: SparkSession): DataFrame = {
    val sid = System.identityHashCode(spark)
    import spark.implicits._
    val rows =
      modelRegistry.toSeq.collect { case ((s, n), _) if s == sid => (n, "KMEANS") } ++
      logisticRegistry.toSeq.collect { case ((s, n), _) if s == sid => (n, "LOGISTIC_REGRESSION") } ++
      linearRegistry.toSeq.collect { case ((s, n), _) if s == sid => (n, "LINEAR_REGRESSION") }
    rows.sortBy(_._1).toDF("model_name", "model_type")
  }

  /** ML.TRANSFORM(MODEL m, TABLE t | (query)) — the input AS THE MODEL
    * SEES IT: the stored TRANSFORM select-list re-applied to the raw
    * rows (BigQuery's pre-processing replay — the debugging TVF for
    * "what did my TRANSFORM actually produce"). A model created
    * without TRANSFORM is the identity pass-through, BigQuery's
    * default TRANSFORM clause.
    */
  private def mlTransformFromArgs(spark: SparkSession, argBody: String): DataFrame = {
    val ModelArgRe = """(?is)^\s*MODEL\s+(`[^`]+`|[A-Za-z_][\w$.]*)\s*,(.*)$""".r
    val (modelName, inputPart) = argBody match {
      case ModelArgRe(n, rest) => (GraftSql.viewName(n), rest.trim)
      case _ => throw new IllegalArgumentException(
        "ML.TRANSFORM needs (MODEL name, (query) | TABLE t)")
    }
    val TableRe = """(?is)^TABLE\s+(`[^`]+`|[A-Za-z_][\w$.]*)$""".r
    val input = inputPart match {
      case TableRe(t) => spark.table(GraftSql.viewName(t))
      case q if q.startsWith("(") && q.endsWith(")") =>
        GraftSql.load(spark, q.substring(1, q.length - 1))
      case other => throw new IllegalArgumentException(
        s"ML.TRANSFORM input must be TABLE t or a parenthesized query, got: $other")
    }
    val key = modelKey(spark, modelName)
    val transform: Option[String] =
      logisticRegistry.get(key).map(_.transform)
        .orElse(linearRegistry.get(key).map(_.transform))
        .orElse(modelRegistry.get(key).map(_ => Option.empty[String]))
        .getOrElse(throw new IllegalArgumentException(
          s"ML.TRANSFORM: no model '$modelName' (CREATE MODEL it first)"))
    applyTransform(spark, input, transform)
  }

  /** ML.WEIGHTS(MODEL m) — the trained model's weight table. For
    * logistic_reg: (class_label, bucket, weight) over the NONZERO
    * hashed buckets — the hashed feature space has no names, so the
    * bucket id stands in for BigQuery's processed_input (stated
    * divergence); integer weights, so the table hash-replays under
    * the training-replay oracle. A kmeans model points at
    * ML.CENTROIDS (BigQuery splits them the same way).
    */
  private def mlWeightsFromArgs(spark: SparkSession, argBody: String): DataFrame = {
    val ModelOnlyRe = """(?is)^\s*MODEL\s+(`[^`]+`|[A-Za-z_][\w$.]*)\s*$""".r
    val name = argBody match {
      case ModelOnlyRe(n) => GraftSql.viewName(n)
      case _ => throw new IllegalArgumentException("ML.WEIGHTS takes (MODEL name)")
    }
    logisticRegistry.get(modelKey(spark, name)) match {
      case Some(ls) =>
        import spark.implicits._
        ls.classes.zip(ls.weights).flatMap { case (c, w) =>
          w.zipWithIndex.collect { case (wt, b) if wt != 0 => (c, b.toLong, wt.toLong) }
        }.toDF("class_label", "bucket", "weight")
      case None =>
        // linear_reg weights HAVE names (BigQuery's processed_input,
        // '__INTERCEPT__' for the bias — its actual spelling)
        linearRegistry.get(modelKey(spark, name)).foreach { lr =>
          import spark.implicits._
          return ("__INTERCEPT__" +: lr.featureCols).zip(lr.coef)
            .toDF("processed_input", "weight")
        }
        require(modelRegistry.contains(modelKey(spark, name)),
          s"ML.WEIGHTS: no model named '$name' — run CREATE MODEL first")
        throw new IllegalArgumentException(
          s"ML.WEIGHTS on the kmeans model '$name' — kmeans state is ML.CENTROIDS")
    }
  }

  /** ML.CENTROIDS(MODEL m) — (centroid_id 1-based, feature 1-based
    * POSITION, numerical_value) for a kmeans model; features are
    * positional here (the array-feature contract), not named —
    * stated divergence from BigQuery's feature column.
    */
  private def mlCentroidsFromArgs(spark: SparkSession, argBody: String): DataFrame = {
    val ModelOnlyRe = """(?is)^\s*MODEL\s+(`[^`]+`|[A-Za-z_][\w$.]*)\s*$""".r
    val name = argBody match {
      case ModelOnlyRe(n) => GraftSql.viewName(n)
      case _ => throw new IllegalArgumentException("ML.CENTROIDS takes (MODEL name)")
    }
    modelRegistry.get(modelKey(spark, name)) match {
      case Some(ms) =>
        import spark.implicits._
        ms.centroids.zipWithIndex.flatMap { case (c, i) =>
          c.zipWithIndex.map { case (v, d) => (i + 1, d + 1, v) }
        }.toDF("centroid_id", "feature", "numerical_value")
      case None =>
        require(logisticRegistry.contains(modelKey(spark, name)) ||
            linearRegistry.contains(modelKey(spark, name)),
          s"ML.CENTROIDS: no model named '$name' — run CREATE MODEL first")
        throw new IllegalArgumentException(
          s"ML.CENTROIDS on the non-kmeans model '$name' — its state is ML.WEIGHTS")
    }
  }

  /** Parse an ML.PREDICT argument list and run the assignment. */
  private def mlPredictFromArgs(spark: SparkSession, argBody: String): DataFrame = {
    val ModelArgRe = """(?is)^\s*MODEL\s+(`[^`]+`|[A-Za-z_][\w$.]*)\s*,(.*)$""".r
    val (modelName, inputPart) = argBody match {
      case ModelArgRe(n, rest) => (GraftSql.viewName(n), rest.trim)
      case _ => throw new IllegalArgumentException(
        "ML.PREDICT needs (MODEL name, (query) | TABLE t)")
    }
    val TableRe = """(?is)^TABLE\s+(`[^`]+`|[A-Za-z_][\w$.]*)$""".r
    val input = inputPart match {
      case TableRe(t) => spark.table(GraftSql.viewName(t))
      case q if q.startsWith("(") && q.endsWith(")") =>
        GraftSql.load(spark, q.substring(1, q.length - 1))
      case other => throw new IllegalArgumentException(
        s"ML.PREDICT input must be TABLE t or a parenthesized query, got: $other")
    }
    logisticRegistry.get(modelKey(spark, modelName)).foreach { ls =>
      ls.transform match {
        case None =>
          require(input.columns.contains(ls.textCol),
            s"ML.PREDICT input must carry the model's text column '${ls.textCol}' " +
              s"(input columns: ${input.columns.mkString(", ")})")
          return graft.operators.TextClassifier.withPrediction(
            input, ls.textCol, ls.classes, ls.weights, ls.buckets)
        case Some(_) =>
          // the TRANSFORM contract: the model's expressions re-apply to
          // the RAW input, predictions join back on the id column, and
          // the caller sees their own columns + predicted_* (BigQuery's
          // passthrough shape)
          require(input.columns.contains(ls.idCol),
            s"ML.PREDICT with a TRANSFORM model joins predictions back on " +
              s"'${ls.idCol}' — the input must carry it (input columns: " +
              s"${input.columns.mkString(", ")})")
          Seq("predicted_label", "predicted_label_raw", "predicted_probs").foreach { c =>
            require(!input.columns.map(_.toLowerCase).contains(c),
              s"ML.PREDICT input already carries a '$c' column — rename it")
          }
          val transformed = applyTransform(spark, input, ls.transform)
          require(transformed.columns.contains(ls.textCol) &&
            transformed.columns.contains(ls.idCol),
            s"the model's TRANSFORM must emit '${ls.idCol}' and '${ls.textCol}' " +
              s"(emitted: ${transformed.columns.mkString(", ")})")
          val preds = graft.operators.TextClassifier.withPrediction(
              transformed, ls.textCol, ls.classes, ls.weights, ls.buckets)
            .select(ls.idCol, "predicted_label", "predicted_label_raw", "predicted_probs")
          return input.join(preds, Seq(ls.idCol))
      }
    }
    linearRegistry.get(modelKey(spark, modelName)).foreach { lr =>
      // BigQuery shape: every input column passes through, plus
      // predicted_<label> (one double expression — no join, no shuffle)
      val predName = s"predicted_${lr.labelCol}"
      require(!input.columns.map(_.toLowerCase).contains(predName.toLowerCase),
        s"ML.PREDICT input already carries a '$predName' column — rename it")
      lr.transform match {
        case None =>
          lr.featureCols.foreach { c =>
            require(input.columns.contains(c),
              s"ML.PREDICT input must carry the model's feature column '$c' " +
                s"(input columns: ${input.columns.mkString(", ")})")
          }
          return input.withColumn(predName,
            graft.sql.LinearReg.predictExpr(lr.coef, lr.featureCols))
        case Some(_) =>
          // the TRANSFORM contract (the A48 mechanism): re-apply the
          // model's expressions to the RAW input, compute the
          // prediction on the transformed frame, join back on the id
          val id = lr.idCol.get
          require(input.columns.contains(id),
            s"ML.PREDICT with a TRANSFORM model joins predictions back on '$id' — " +
              s"the input must carry it (input columns: ${input.columns.mkString(", ")})")
          val transformed = applyTransform(spark, input, lr.transform)
          (id +: lr.featureCols).foreach { c =>
            require(transformed.columns.contains(c),
              s"the model's TRANSFORM must emit '$c' (emitted: " +
                s"${transformed.columns.mkString(", ")})")
          }
          val preds = transformed.withColumn(predName,
              graft.sql.LinearReg.predictExpr(lr.coef, lr.featureCols))
            .select(id, predName)
          return input.join(preds, Seq(id))
      }
    }
    val ms = modelRegistry.getOrElse(modelKey(spark, modelName),
      throw new IllegalArgumentException(
        s"ML.PREDICT: no model named '$modelName' — run CREATE MODEL first"))
    require(input.columns.contains(ms.vecCol),
      s"ML.PREDICT input must carry the model's feature column '${ms.vecCol}' " +
        s"(input columns: ${input.columns.mkString(", ")})")
    // a silent withColumn replacement would shadow caller data
    Seq("centroid_id", "centroid_distance").foreach { c =>
      require(!input.columns.map(_.toLowerCase).contains(c),
        s"ML.PREDICT input already carries a '$c' column — rename it; the " +
          "prediction output appends centroid_id and centroid_distance")
    }
    // BigQuery shape: every input column passes through, centroid_id
    // is 1-BASED
    graft.operators.Clustering.withClusterColumns(
        input, ms.centroids, ms.vecCol, "__cluster0", "centroid_distance")
      .withColumn("centroid_id", org.apache.spark.sql.functions.col("__cluster0") + 1)
      .drop("__cluster0")
  }

  /** Parse an ML.EVALUATE argument list: BigQuery's kmeans metrics —
    * davies_bouldin_index and mean_squared_distance, one row. With no
    * input table, evaluates on the TRAINING query (re-run — the model
    * stores its AS text, not data), BigQuery's own default.
    *
    * Exactness note (why this verb is spec-verified, not hash-gated):
    * both metrics average DOUBLES across corpus rows — an
    * order-dependent reduction no independent engine replays
    * bit-for-bit. The deterministic halves (centroids, assignment)
    * are the hash-gated cluster_kmeans/sql_ml_kmeans faces.
    */
  private def mlEvaluateFromArgs(spark: SparkSession, argBody: String): DataFrame = {
    val ModelOnlyRe = """(?is)^\s*MODEL\s+(`[^`]+`|[A-Za-z_][\w$.]*)\s*$""".r
    val ModelArgRe = """(?is)^\s*MODEL\s+(`[^`]+`|[A-Za-z_][\w$.]*)\s*,(.*)$""".r
    val (modelName, inputOpt) = argBody match {
      case ModelOnlyRe(n) => (GraftSql.viewName(n), None)
      case ModelArgRe(n, rest) => (GraftSql.viewName(n), Some(rest.trim))
      case _ => throw new IllegalArgumentException(
        "ML.EVALUATE needs (MODEL name [, (query) | TABLE t])")
    }
    val TableRe = """(?is)^TABLE\s+(`[^`]+`|[A-Za-z_][\w$.]*)$""".r
    logisticRegistry.get(modelKey(spark, modelName)).foreach { ls =>
      val input = inputOpt match {
        case None => GraftSql.load(spark, ls.trainQuery)
        case Some(TableRe(t)) => spark.table(GraftSql.viewName(t))
        case Some(q) if q.startsWith("(") && q.endsWith(")") =>
          GraftSql.load(spark, q.substring(1, q.length - 1))
        case Some(other) => throw new IllegalArgumentException(
          s"ML.EVALUATE input must be TABLE t or a parenthesized query, got: $other")
      }
      // a TRANSFORM model preprocesses evaluation input exactly like
      // training input
      return evaluateLogistic(spark, ls, applyTransform(spark, input, ls.transform))
    }
    linearRegistry.get(modelKey(spark, modelName)).foreach { lr =>
      val input = inputOpt match {
        case None => GraftSql.load(spark, lr.trainQuery)
        case Some(TableRe(t)) => spark.table(GraftSql.viewName(t))
        case Some(q) if q.startsWith("(") && q.endsWith(")") =>
          GraftSql.load(spark, q.substring(1, q.length - 1))
        case Some(other) => throw new IllegalArgumentException(
          s"ML.EVALUATE input must be TABLE t or a parenthesized query, got: $other")
      }
      val evalFrame = applyTransform(spark, input, lr.transform)
      (lr.featureCols :+ lr.labelCol).foreach { c =>
        require(evalFrame.columns.contains(c),
          s"ML.EVALUATE input must carry the model's '$c' column " +
            s"(columns: ${evalFrame.columns.mkString(", ")})")
      }
      return graft.sql.LinearReg.evaluate(evalFrame, lr.featureCols, lr.labelCol, lr.coef)
    }
    val ms = modelRegistry.getOrElse(modelKey(spark, modelName),
      throw new IllegalArgumentException(
        s"ML.EVALUATE: no model named '$modelName' — run CREATE MODEL first"))
    val input = inputOpt match {
      case None => GraftSql.load(spark, ms.trainQuery)
      case Some(TableRe(t)) => spark.table(GraftSql.viewName(t))
      case Some(q) if q.startsWith("(") && q.endsWith(")") =>
        GraftSql.load(spark, q.substring(1, q.length - 1))
      case Some(other) => throw new IllegalArgumentException(
        s"ML.EVALUATE input must be TABLE t or a parenthesized query, got: $other")
    }
    require(input.columns.contains(ms.vecCol),
      s"ML.EVALUATE input must carry the model's feature column '${ms.vecCol}'")
    import org.apache.spark.sql.{functions => FF}
    val assigned = graft.operators.Clustering.withClusterColumns(
      input, ms.centroids, ms.vecCol, "__c", "__d")
    // per-cluster scatter S_i = mean L2 distance (dist is squared),
    // plus the global mean squared distance — one aggregation pass,
    // k + 1 driver rows
    val rows = assigned
      .groupBy("__c")
      .agg(FF.avg(FF.sqrt(FF.col("__d"))).as("s"), FF.avg("__d").as("msd"),
        FF.count(FF.lit(1)).as("n"))
      .collect()
    require(rows.nonEmpty, "ML.EVALUATE: empty input")
    // row shape: (__c, s, msd, n)
    val totalN = rows.map(_.getLong(3)).sum
    val msd = rows.map(r => r.getDouble(2) * r.getLong(3)).sum / totalN
    val scatter = rows.map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // Davies–Bouldin over the populated clusters: centroid separations
    // from the plan-embedded matrix, max over j of (S_i+S_j)/M_ij
    val pop = scatter.keys.toSeq.sorted
    def m(i: Long, j: Long): Double = {
      val a = ms.centroids(i.toInt); val b = ms.centroids(j.toInt)
      math.sqrt(a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum)
    }
    val db =
      if (pop.size < 2) 0.0
      else pop.map { i =>
        pop.filter(_ != i).map(j => (scatter(i) + scatter(j)) / m(i, j)).max
      }.sum / pop.size
    import spark.implicits._
    Seq((db, msd)).toDF("davies_bouldin_index", "mean_squared_distance")
  }

  /** Model teardown: `DROP MODEL [IF EXISTS] name`. */
  private[graft] val DropModelRe =
    """(?is)^\s*DROP\s+MODEL\s+(?:(IF\s+EXISTS)\s+)?((?:`[^`]+`|[A-Za-z_][\w$]*)(?:\.(?:`[^`]+`|[A-Za-z_][\w$]*))*)\s*;?\s*$""".r

  def dropModel(spark: SparkSession, sql: String): DataFrame = sql match {
    case DropModelRe(ifExists, rawName) =>
      val name = GraftSql.viewName(rawName)
      val key = modelKey(spark, name)
      val removed = modelRegistry.remove(key).nonEmpty |
        logisticRegistry.remove(key).nonEmpty | linearRegistry.remove(key).nonEmpty
      require(removed || ifExists != null,
        s"DROP MODEL $name: no such model (use IF EXISTS to ignore)")
      spark.emptyDataFrame
    case _ => throw new IllegalArgumentException("not a DROP MODEL statement")
  }

}
