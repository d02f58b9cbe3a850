package graft.sql

import Lexer.isWord

import graft.GraftSql

/** The BigQuery function-SPELLING rewrite family, split out of
  * [[graft.GraftSql]] (round 13 — mechanical move, same behavior):
  * the quote-aware call scanner ([[rewriteCalls]]), the JSON-array
  * extractor macros, the sequence generators, the big function-shape
  * table ([[rewriteBqFunctions]] — date/time, digests, JSON read and
  * mutate, approx sketches, ML scalars, SAFE., bracket literals), the
  * UNNEST → LATERAL VIEW mapping, and the BigQuery→Spark type-name
  * maps. All pure text→text; GraftSql.load composes them.
  */
private[graft] object Functions {
  // ── BigQuery JSON array surface + UNNEST ─────────────────────────

  /** Expand the BigQuery JSON-array extractors as TEXTUAL macros —
    * `JSON_EXTRACT_ARRAY` / `JSON_QUERY_ARRAY` (legacy and standard
    * spellings — BigQuery differs only in path dialect, both accept
    * `$.a.b` which is the shared subset) and `JSON_VALUE_ARRAY` /
    * `JSON_EXTRACT_STRING_ARRAY`. Each call `FN(j [, p])` becomes
    * `from_json(get_json_object(j, p), 'array<string>')` in place
    * (path defaults to '$'), so the expression works ANYWHERE —
    * including under a Generate/LATERAL VIEW, where Catalyst refuses
    * SQL-body UDFs (`UNSUPPORTED_SQL_UDF_USAGE`) — and stays fully
    * codegen'd. `get_json_object` is NULL on a missing path — lax
    * semantics, matching JSON_QUERY_ARRAY's lax default. Nested calls
    * expand via a fixpoint loop.
    *
    * Dialect note, deliberate: ELEMENT text follows Spark's JSON
    * reader — scalars arrive UNQUOTED ('a', '87'), composite elements
    * arrive as JSON text ('{"b":2}', '[1,2]', re-parseable). BigQuery
    * quotes string scalars in the EXTRACT/QUERY spellings and
    * unquotes them in VALUE/STRING; here the four spellings agree on
    * the unquoted form (the one the UNNEST → CAST pipeline — the real
    * usage — needs). The hash-gated driver face uses numeric arrays,
    * where the engines agree bit-for-bit.
    */
  private[graft] def rewriteJsonArrayFns(sql0: String): String = {
    val fns = Seq("JSON_EXTRACT_STRING_ARRAY", "JSON_EXTRACT_ARRAY",
      "JSON_QUERY_ARRAY", "JSON_VALUE_ARRAY") // longest first
    fixpoint(sql0, fns)(rewriteCalls(_, fns) { (f, args) =>
      require(args.size <= 2, s"$f takes at most (json, path)")
      val j = args.headOption.getOrElse("")
      require(j.nonEmpty, s"$f needs a json argument")
      Some(s"from_json(get_json_object($j, ${args.lift(1).getOrElse("'$'")}), 'array<string>')")
    })
  }

  /** `pass` applied until the text stops changing — at most 10 times,
    * and only while one of `names` still occurs in it.
    */
  private def fixpoint(sql0: String, names: Seq[String])(pass: String => String): String = {
    var cur = sql0; var n = 0
    while (names.exists(cur.toUpperCase(java.util.Locale.ROOT).contains) && n < 10) {
      val next = pass(cur)
      if (next == cur) return cur
      cur = next; n += 1
    }
    cur
  }

  /** One pass of quote-/backtick-aware call rewriting: every
    * top-level `NAME ( args )` call where NAME ∈ `names`
    * (longest-first match, word-bounded, case-insensitive) is handed
    * to `f(matchedName, args)` — args split at top-level commas —
    * and the call text replaced by f's result. A NAME not followed
    * by `(` is an identifier and passes through. Callers needing
    * nested-call expansion loop to a fixpoint.
    */
  private def rewriteCalls(sql: String, names: Seq[String])
                          (f: (String, Seq[String]) => Option[String]): String = {
    val ordered = names.sortBy(-_.length)
    val out = new StringBuilder
    var i = 0
    while (i < sql.length) {
      val c = sql.charAt(i)
      val e = Lexer.opaqueEnd(sql, i)
      if (e > i) { out ++= sql.substring(i, e); i = e }
      else {
        val hit = if (Character.isLetter(c) && (i == 0 || !isWord(sql.charAt(i - 1))))
          ordered.find(Lexer.wordAt(sql, _, i))
        else None
        val applied = hit.flatMap { n =>
          val p = Lexer.skipSpace(sql, i + n.length)
          if (p >= sql.length || sql.charAt(p) != '(') None
          else {
            val q = Lexer.closeParen(sql, p)
            require(q >= 0, s"unbalanced parens in $n(...)")
            // commas inside `[a, b, c]` array literals (RANGE_BUCKET's
            // boundaries) do not split args
            val args = Lexer.splitTop(sql.substring(p + 1, q))
            // None from f = leave the CALL HEAD verbatim (a
            // Spark-native spelling must not even be re-cased) but
            // keep scanning INSIDE the parens: a registered name
            // nested in a passthrough call (EXTRACT(YEAR FROM
            // DATE_ADD(...)), SPLIT's 3-arg form) must still
            // rewrite — skipping the whole span left the interior
            // BigQuery-spelled forever, because the same outer name
            // re-matched (and re-passed) on every fixpoint pass
            f(n, args) match {
              case Some(text) => Some((text, q + 1))
              case None => Some((sql.substring(i, p + 1), p + 1))
            }
          }
        }
        applied match {
          case Some((text, next)) => out ++= text; i = next
          case None => out += c; i += 1
        }
      }
    }
    out.toString
  }

  /** BigQuery's sequence generators as textual macros over Spark's
    * `sequence`: `GENERATE_ARRAY(a, b [, step])`,
    * `GENERATE_DATE_ARRAY(d1, d2 [, INTERVAL n unit])` and
    * `GENERATE_TIMESTAMP_ARRAY(t1, t2, INTERVAL n unit)` — with
    * UNNEST these are the date-spine / gap-fill idiom (the SQL
    * spelling of A14's Resample).
    *
    * The one semantic gap is DIRECTION MISMATCH: BigQuery returns an
    * EMPTY ARRAY when the step cannot reach the stop (e.g.
    * GENERATE_ARRAY(5, 1) or a negative interval with stop > start),
    * while Spark's `sequence(5, 1)` helpfully counts DOWN. The macro
    * guards each call: numeric steps dynamically
    * (`(stop-start)*step < 0` → empty — works for expression steps),
    * interval steps by the literal's sign (the interval must be a
    * literal `INTERVAL [-]n unit`, loud otherwise). The typed empty
    * array is `slice(sequence(a, a), 1, 0)` — no untyped `array()`
    * to trip resolution. FRACTIONAL bounds/steps (round 11) have no
    * Spark `sequence` equivalent and take the transform route instead:
    * `transform(sequence(0, floor((stop-start)/step)), i -> start +
    * i*step)` — element count fixed up front, values by MULTIPLICATION
    * from the start (not repeated addition), so no error accumulation;
    * same empty-on-mismatch guard, loud zero step (BigQuery errors
    * there too). The fractional route triggers on a fractional NUMERIC
    * LITERAL in any argument — fractional-typed expressions keep
    * failing at analysis (spell the literal), stated contract.
    */
  private[graft] def rewriteGenerateFns(sql0: String): String = {
    val fns = Seq("GENERATE_TIMESTAMP_ARRAY", "GENERATE_DATE_ARRAY", "GENERATE_ARRAY")
    val IntervalRe = """(?is)^INTERVAL\s+(-?\d+)\s+([A-Za-z]+)$""".r
    def emptyOf(a: String) = s"slice(sequence(($a),($a)),1,0)"
    fixpoint(sql0, fns)(rewriteCalls(_, fns) { (f, bounds) =>
      require(bounds.size == 2 || bounds.size == 3,
        s"$f takes (start, stop [, step]), got ${bounds.size} arguments")
      val (a, b) = (bounds(0), bounds(1))
      val rewritten = (f, bounds.lift(2)) match {
        case ("GENERATE_ARRAY", stepOpt) =>
          val FracLit = """-?(\d+\.\d*|\.\d+)([eE][-+]?\d+)?"""
          val s = stepOpt.getOrElse("1")
          if (bounds.exists(_.matches(FracLit))) {
            val ad = s"CAST(($a) AS DOUBLE)"
            s"(CASE WHEN ($s) = 0 THEN raise_error('GENERATE_ARRAY step cannot be 0') " +
              s"WHEN (($b) - ($a)) * ($s) < 0 THEN slice(array($ad),1,0) " +
              s"ELSE transform(sequence(0, CAST(floor(CAST(($b) - ($a) AS DOUBLE) / ($s)) AS BIGINT)), " +
              s"i -> $ad + CAST(i AS DOUBLE) * ($s)) END)"
          } else if (stepOpt.isEmpty)
            s"(CASE WHEN ($b) < ($a) THEN ${emptyOf(a)} ELSE sequence(($a),($b)) END)"
          else
            s"(CASE WHEN (($b) - ($a)) * ($s) < 0 THEN ${emptyOf(a)} " +
              s"ELSE sequence(($a),($b),($s)) END)"
        case ("GENERATE_DATE_ARRAY", None) =>
          s"(CASE WHEN ($b) < ($a) THEN ${emptyOf(a)} ELSE sequence(($a),($b)) END)"
        case (_, None) => throw new IllegalArgumentException(
          s"$f requires an explicit INTERVAL step")
        case (_, Some(step)) => step match {
          case IntervalRe(n, unit) =>
            val cmp = if (n.toLong >= 0) s"($b) < ($a)" else s"($b) > ($a)"
            s"(CASE WHEN $cmp THEN ${emptyOf(a)} " +
              s"ELSE sequence(($a),($b),INTERVAL $n $unit) END)"
          case other => throw new IllegalArgumentException(
            s"$f step must be a literal INTERVAL [-]n unit (got '$other') — " +
              "the empty-on-direction-mismatch guard needs the sign statically")
        }
      }
      Some(rewritten)
    })
  }

  // ── BigQuery function spellings ──────────────────────────────────

  private val BqRenames = Map(
    "COUNTIF" -> "count_if", "SAFE_DIVIDE" -> "try_divide",
    "SAFE_ADD" -> "try_add", "SAFE_SUBTRACT" -> "try_subtract",
    "SAFE_MULTIPLY" -> "try_multiply",
    "LOGICAL_AND" -> "bool_and", "LOGICAL_OR" -> "bool_or",
    "ARRAY_LENGTH" -> "size", "ARRAY_TO_STRING" -> "array_join",
    "BYTE_LENGTH" -> "octet_length",
    "ARRAY_REVERSE" -> "reverse", "REGEXP_CONTAINS" -> "regexp_like",
    "STRPOS" -> "instr", "STARTS_WITH" -> "startswith",
    // FORMAT is NOT a plain rename: its case below translates %i and
    // rejects the BigQuery-only %t/%T/%u verbs before Java sees them
    "ENDS_WITH" -> "endswith",
    "APPROX_COUNT_DISTINCT" -> "approx_count_distinct",
    "ARRAY_CONCAT" -> "concat", "GENERATE_UUID" -> "uuid",
    "SESSION_USER" -> "current_user",
    // same per-character mapping semantics; on the error case BigQuery
    // rejects (duplicate source chars) Spark takes the first mapping —
    // stated, an invalid-input divergence only
    "TRANSLATE" -> "translate")

  private val IntervalLitRe = """(?is)^INTERVAL\s+(-?\d+)\s+([A-Za-z]+)$""".r

  private val UnitMicros = Map(
    "MICROSECOND" -> 1L, "MILLISECOND" -> 1000L, "SECOND" -> 1000000L,
    "MINUTE" -> 60000000L, "HOUR" -> 3600000000L, "DAY" -> 86400000000L)

  /** BigQuery strftime-style format → Java datetime pattern for the
    * shared verb subset; untranslated LETTERS are single-quoted (in a
    * Java pattern every bare letter is a pattern char), other chars
    * pass verbatim. Unknown % verbs are loud — a silently-wrong
    * format string corrupts every row.
    */
  private def bqFormatToJava(fmt: String): String = {
    val map = Map('Y' -> "yyyy", 'y' -> "yy", 'm' -> "MM", 'd' -> "dd",
      'H' -> "HH", 'I' -> "hh", 'M' -> "mm", 'S' -> "ss",
      'F' -> "yyyy-MM-dd", 'T' -> "HH:mm:ss", 'j' -> "DDD",
      'A' -> "EEEE", 'a' -> "EEE", 'B' -> "MMMM", 'b' -> "MMM",
      'p' -> "a", 'Z' -> "zz", 'z' -> "xxx", 'e' -> "d", 'Q' -> "q")
    val out = new StringBuilder
    var i = 0
    while (i < fmt.length) {
      val c = fmt.charAt(i)
      if (c == '%') {
        require(i + 1 < fmt.length, s"dangling %% in format '$fmt'")
        val v = fmt.charAt(i + 1)
        if (v == '%') out += '%'
        else out ++= map.getOrElse(v, throw new IllegalArgumentException(
          s"unsupported format verb %$v in '$fmt' (supported: ${map.keys.toSeq.sorted.mkString(", ")})"))
        i += 2
      } else if (Character.isLetter(c)) { out ++= s"'$c'"; i += 1 }
      else { out += c; i += 1 }
    }
    out.toString
  }

  /** BigQuery function spellings → Spark equivalents, applied to
    * every statement before dispatch. Three tiers:
    *
    *  1. direct renames where semantics already match (COUNTIF →
    *     count_if, SAFE_DIVIDE → try_divide, LOGICAL_AND → bool_and,
    *     ARRAY_LENGTH → size, REGEXP_CONTAINS → regexp_like, STRPOS →
    *     instr, STARTS_WITH/ENDS_WITH, FORMAT → format_string, …);
    *  2. argument-shape macros: `TIMESTAMP_DIFF`/`DATETIME_DIFF`
    *     (micros subtraction `div` unit — truncation toward zero,
    *     BigQuery's rule), `DATE_DIFF(a, b, DAY)` (datediff; other
    *     date units count calendar boundaries and are loud),
    *     `TIMESTAMP_ADD/SUB`/`DATETIME_ADD/SUB` (± INTERVAL),
    *     `DATE_ADD/SUB(d, INTERVAL n unit)` (date_add/add_months by
    *     unit; a 2-arg DATE_ADD whose second argument is NOT an
    *     interval literal is Spark's own spelling and passes
    *     through), `FORMAT_DATE`/`FORMAT_TIMESTAMP`/`PARSE_DATE`/
    *     `PARSE_TIMESTAMP` (strftime verbs → Java pattern, literal
    *     formats only — see [[bqFormatToJava]]);
    *  3. array subscripts `arr[OFFSET(i)]` → `arr[(i)]` (Spark
    *     subscripts are 0-based; both engines error on
    *     out-of-bounds under ANSI) and `arr[ORDINAL(i)]` →
    *     `arr[(i) - 1]`; `arr[SAFE_OFFSET(i)]`/`arr[SAFE_ORDINAL(i)]`
    *     capture the array operand by the same bounded BACKWARD scan
    *     the `IN UNNEST` rewrite uses (identifier chain, `(...)`
    *     group, call, or a preceding `]` subscript chain) and expand
    *     to a bounds-guarded CASE over the 0-based subscript —
    *     NULL on any out-of-range/NULL index and on a NULL array,
    *     BigQuery's SAFE_ semantics, under both ANSI settings. The
    *     operand text is duplicated into the size() guard, so an
    *     expensive call operand should be bound in a prior SELECT;
    *     a compound arithmetic operand must be parenthesized (the
    *     scan then sees one group) — a mis-capture fails typed at
    *     analysis, never silently;
    *  4. the `SAFE.` function prefix (NULL instead of error) for the
    *     forms with a Spark total equivalent — SAFE.CAST (→ TRY_CAST
    *     with the BigQuery type mapped in the cast type position —
    *     [[mapBqTypesInCasts]] now runs statement-wide, so the plain
    *     SAFE_CAST spelling works everywhere, not just UDF bodies),
    *     SAFE.DIVIDE/ADD/SUBTRACT/MULTIPLY (try_*), and
    *     SAFE.PARSE_DATE/TIMESTAMP/DATETIME (try_to_timestamp).
    *     Only a supported name followed by `(` rewrites — `safe.tbl`
    *     in FROM position is a qualifier and passes through; an
    *     unsupported SAFE.fn is loud with the supported list.
    */
  private[graft] def rewriteBqFunctions(sql0: String): String = {
    val shapeNames = Seq("TIMESTAMP_DIFF", "DATETIME_DIFF", "DATE_DIFF",
      "TIMESTAMP_ADD", "TIMESTAMP_SUB", "DATETIME_ADD", "DATETIME_SUB",
      "DATE_ADD", "DATE_SUB", "FORMAT_DATE", "FORMAT_TIMESTAMP",
      "FORMAT_DATETIME", "PARSE_DATE", "PARSE_TIMESTAMP", "PARSE_DATETIME",
      "DATE", "DATETIME", "TIMESTAMP", "CURRENT_DATE",
      "IS_NAN", "IS_INF", "ARRAY_SLICE",
      // the point-geography core + the loud non-point surface
      "ST_GEOGPOINT", "ST_X", "ST_Y", "ST_DISTANCE", "ST_DWITHIN",
      "ST_GEOGFROMTEXT", "ST_ASTEXT", "ST_ASGEOJSON", "ST_GEOGFROMGEOJSON",
      "ST_CONTAINS", "ST_INTERSECTS", "ST_WITHIN", "ST_COVERS", "ST_COVEREDBY",
      "ST_TOUCHES", "ST_DISJOINT", "ST_EQUALS", "ST_AREA", "ST_LENGTH",
      "ST_PERIMETER", "ST_BUFFER", "ST_UNION", "ST_UNION_AGG",
      "ST_INTERSECTION", "ST_DIFFERENCE", "ST_CENTROID", "ST_MAKELINE",
      "ST_MAKEPOLYGON", "ST_GEOHASH", "ST_SNAPTOGRID", "ST_SIMPLIFY",
      "ST_NUMPOINTS", "ST_DUMP", "ST_CLOSESTPOINT", "ST_BOUNDINGBOX",
      "ST_MAXDISTANCE", "ST_CONVEXHULL", "ST_LINEFROMTEXT", "ST_POLYGONFROMTEXT",
      // AEAD / KEYS column encryption (round 15) + the loud AES-SIV
      // deterministic family
      "AEAD.ENCRYPT", "AEAD.DECRYPT_STRING", "AEAD.DECRYPT_BYTES",
      "SAFE.AEAD.DECRYPT_STRING", "SAFE.AEAD.DECRYPT_BYTES",
      "KEYS.NEW_KEYSET", "KEYS.ADD_KEY_FROM_RAW_BYTES", "KEYS.KEYSET_FROM_JSON",
      "KEYS.KEYSET_TO_JSON", "KEYS.KEYSET_LENGTH", "KEYS.ROTATE_KEYSET",
      "KEYS.NEW_WRAPPED_KEYSET", "KEYS.REWRAP_KEYSET", "KEYS.KEYSET_CHAIN",
      "DETERMINISTIC_ENCRYPT", "DETERMINISTIC_DECRYPT_STRING",
      "DETERMINISTIC_DECRYPT_BYTES", "SAFE.DETERMINISTIC_DECRYPT_STRING",
      "SAFE.DETERMINISTIC_DECRYPT_BYTES",
      "ANY_VALUE", "STRING_AGG", "ARRAY_AGG",
      "APPROX_QUANTILES", "APPROX_TOP_COUNT", "APPROX_TOP_SUM", "ML.DISTANCE",
      "HLL_COUNT.INIT", "HLL_COUNT.MERGE_PARTIAL", "HLL_COUNT.MERGE",
      "HLL_COUNT.EXTRACT", "RANGE_BUCKET",
      "DATE_BUCKET", "DATETIME_BUCKET", "TIMESTAMP_BUCKET",
      "RANGE", "RANGE_START", "RANGE_END", "RANGE_CONTAINS",
      "RANGE_OVERLAPS", "RANGE_INTERSECT", "GENERATE_RANGE_ARRAY",
      "FORMAT", "ERROR", "LAST_DAY",
      "TIME", "TIME_ADD", "TIME_SUB", "TIME_DIFF", "TIME_TRUNC",
      "PARSE_TIME", "FORMAT_TIME",
      "PERCENTILE_CONT", "PERCENTILE_DISC",
      "REGEXP_INSTR", "INSTR", "LOG",
      "MD5", "SHA1", "SHA256", "SHA512", "TO_HEX", "FROM_HEX",
      "TO_BASE64", "FROM_BASE64",
      "NET.HOST", "NET.REG_DOMAIN", "NET.PUBLIC_SUFFIX",
      "NET.IP_FROM_STRING", "NET.SAFE_IP_FROM_STRING", "NET.IP_TO_STRING",
      "NET.IP_NET_MASK", "NET.IP_TRUNC",
      "NET.IPV4_FROM_INT64", "NET.IPV4_TO_INT64", "TEXT_ANALYZE",
      "TO_CODE_POINTS", "CODE_POINTS_TO_STRING", "CODE_POINTS_TO_BYTES",
      "UNICODE", "ASCII", "CHR", "SOUNDEX", "INITCAP",
      "MAKE_INTERVAL", "JUSTIFY_DAYS", "JUSTIFY_HOURS", "JUSTIFY_INTERVAL",
      "TO_BASE32", "FROM_BASE32", "SAFE_CONVERT_BYTES_TO_STRING",
      "REGEXP_REPLACE", "REGEXP_EXTRACT_ALL",
      "PARSE_NUMERIC", "PARSE_BIGNUMERIC",
      "SAFE_PARSE_NUMERIC", "SAFE_PARSE_BIGNUMERIC",
      "GREATEST", "LEAST", "DIV", "IEEE_DIVIDE", "EXTRACT",
      "KLL_QUANTILES.INIT_INT64", "KLL_QUANTILES.INIT_FLOAT64",
      "KLL_QUANTILES.MERGE_PARTIAL",
      "KLL_QUANTILES.MERGE_POINT_INT64", "KLL_QUANTILES.MERGE_POINT_FLOAT64",
      "KLL_QUANTILES.EXTRACT_POINT_INT64", "KLL_QUANTILES.EXTRACT_POINT_FLOAT64",
      "KLL_QUANTILES.MERGE_INT64", "KLL_QUANTILES.MERGE_FLOAT64",
      "KLL_QUANTILES.EXTRACT_INT64", "KLL_QUANTILES.EXTRACT_FLOAT64",
      "SAFE_PARSE_DATE", "SAFE_PARSE_TIMESTAMP", "SAFE_PARSE_DATETIME",
      "TIMESTAMP_TRUNC", "DATETIME_TRUNC", "DATE_TRUNC", "SPLIT",
      "EDIT_DISTANCE", "TO_JSON_STRING", "ARRAY_FIRST", "ARRAY_LAST",
      "CONTAINS_SUBSTR", "NORMALIZE", "NORMALIZE_AND_CASEFOLD",
      "LAX_INT64", "LAX_FLOAT64", "LAX_BOOL", "LAX_STRING",
      "BOOL", "INT64", "FLOAT64", "STRING",
      "SAFE_BOOL", "SAFE_INT64", "SAFE_FLOAT64", "SAFE_STRING", "JSON_KEYS",
      "JSON_EXTRACT_SCALAR", "JSON_VALUE", "JSON_QUERY", "JSON_EXTRACT",
      "JSON_SET", "JSON_INSERT", "JSON_REPLACE", "JSON_REMOVE",
      "JSON_ARRAY_APPEND", "JSON_ARRAY_INSERT", "JSON_STRIP_NULLS", "JSON_TYPE",
      "JSON_OBJECT", "JSON_ARRAY", "PARSE_JSON", "SAFE_PARSE_JSON", "TO_JSON",
      "ML.BUCKETIZE", "FARM_FINGERPRINT", "ML.HASH_BUCKETIZE", "ML.NGRAMS",
      "ML.FEATURE_CROSS", "ML.POLYNOMIAL_EXPAND")
    val HavingRe = """(?is)^(.*?)\bHAVING\s+(MAX|MIN)\s+(.+)$""".r
    // top-level (depth-0, quote-aware) position of `ORDER BY` inside
    // one argument's text, -1 if absent
    def topLevelOrderBy(text: String): Int = Lexer.findTop(text, 0, text.length)(i =>
      Lexer.wordAt(text, "ORDER", i) && Lexer.wordAt(text, "BY", Lexer.skipSpace(text, i + 5)))
    // BigQuery's ordered aggregates: `STRING_AGG(e[, sep] ORDER BY k...)`
    // → `listagg(e, sep) WITHIN GROUP (ORDER BY k...)`, and
    // `ARRAY_AGG(e ORDER BY k... [LIMIT n])` → sort-by-key struct route
    // (array_sort is total order over the key fields THEN the value —
    // stricter than BigQuery's unspecified tie order, deterministic).
    // NULL elements: STRING_AGG skips them in both dialects; the
    // ARRAY_AGG route FILTERs them out (BigQuery default ERRORS on a
    // NULL element — IGNORE NULLS semantics are what a migrated
    // pipeline actually wants, divergence documented).
    def orderedAgg(name: String, args: Seq[String]): Option[String] = {
      val obHit = args.zipWithIndex
        .map { case (a, i) => (i, topLevelOrderBy(a)) }.find(_._2 >= 0)
      obHit.map { case (ai, ci) =>
        val valueArgs = (args.take(ai) :+ args(ai).substring(0, ci).trim)
          .filter(_.nonEmpty)
        val firstKey = args(ai).substring(ci).replaceFirst("(?is)^ORDER\\s+BY\\s*", "")
        var keys = (firstKey +: args.drop(ai + 1)).map(_.trim).filter(_.nonEmpty).toList
        val LimitRe = """(?is)^(.*?)\s+LIMIT\s+(\d+)\s*$""".r
        var limit: Option[Int] = None
        keys = keys match {
          case init :+ LimitRe(k, n) => limit = Some(n.toInt); init :+ k.trim
          case ks => ks
        }
        require(keys.nonEmpty && keys.forall(_.nonEmpty), s"$name: empty ORDER BY key")
        require(valueArgs.nonEmpty, s"$name needs a value expression")
        var e = valueArgs.head
        val distinct = "(?is)^DISTINCT\\s".r.findFirstIn(e).isDefined
        if (distinct) e = e.replaceFirst("(?is)^DISTINCT\\s+", "")
        if ("(?is)\\sIGNORE\\s+NULLS\\s*$".r.findFirstIn(e).isDefined)
          e = e.replaceFirst("(?is)\\s+IGNORE\\s+NULLS\\s*$", "")
        require("(?is)\\sRESPECT\\s+NULLS\\s*$".r.findFirstIn(e).isEmpty,
          s"$name ... RESPECT NULLS is not supported on the ordered-aggregate " +
            "rewrite (NULL elements are dropped; see scaladoc)")
        if (name == "STRING_AGG") {
          require(!distinct,
            "STRING_AGG(DISTINCT ... ORDER BY ...) does not map to WITHIN GROUP — " +
              "use the ARRAY_AGG(DISTINCT ...) route and array_join the result")
          require(limit.isEmpty,
            "STRING_AGG ... LIMIT has no listagg equivalent — use " +
              "ARRAY_AGG(... ORDER BY ... LIMIT n) and array_join the result")
          require(valueArgs.size <= 2, "STRING_AGG takes (expr[, delimiter])")
          val sep = if (valueArgs.size >= 2) valueArgs(1) else "','"
          s"listagg(($e), $sep) WITHIN GROUP (ORDER BY ${keys.mkString(", ")})"
        } else {
          require(valueArgs.size == 1, "ARRAY_AGG takes one expression")
          val cleanKeys = keys.map(_.replaceFirst("(?is)\\s+ASC\\s*$", ""))
          cleanKeys.foreach { k =>
            require("(?is)\\s(DESC|NULLS\\s+FIRST|NULLS\\s+LAST)\\s*$".r.findFirstIn(k).isEmpty,
              "ARRAY_AGG ORDER BY maps through array_sort (ascending only) — " +
                "reverse(...) the result for DESC")
          }
          if (distinct) {
            require(cleanKeys.map(_.trim) == List(e.trim),
              "ARRAY_AGG(DISTINCT e ORDER BY k) requires k = e (BigQuery's own rule)")
            val base = s"array_sort(array_agg(DISTINCT ($e)))"
            limit.fold(base)(n => s"slice($base, 1, $n)")
          } else {
            val fields = cleanKeys.zipWithIndex
              .map { case (k, j) => s"($k) AS __o$j" }.mkString(", ")
            val base = s"transform(array_sort(array_agg(struct($fields, ($e) AS __v)) " +
              s"FILTER (WHERE ($e) IS NOT NULL)), __x -> __x.__v)"
            limit.fold(base)(n => s"slice($base, 1, $n)")
          }
        }
      }
    }
    // the Spark lexer's full backslash layer (ParserUtils
    // .unescapeSQLString, default escapedStringLiterals=false): `''`
    // -> `'`, `\uXXXX` -> the code point, `\ooo` (three octal digits)
    // -> the byte, the named two-char escapes (\0 \' \" \b \n \r \t
    // \Z \\) -> their chars, `\%`/`\_` kept as the PAIR (the MySQL
    // LIKE rule Spark inherits), and any other `\x` -> bare `x` (the
    // lexer drops the backslash). Modeling the whole set matters: a
    // replacement literal '\n' IS a newline after Spark lexes it, and
    // the earlier keep-the-pair model re-escaped it into a Java
    // replaceAll escape that silently substituted the letter n.
    def unescapeLiteral(raw: String): String = {
      val out2 = new StringBuilder(raw.length)
      var i2 = 0
      def hex(k: Int) = {
        val h = raw.charAt(k)
        (h >= '0' && h <= '9') || (h >= 'a' && h <= 'f') || (h >= 'A' && h <= 'F')
      }
      while (i2 < raw.length) {
        val c2 = raw.charAt(i2)
        if (c2 == '\'' && i2 + 1 < raw.length && raw.charAt(i2 + 1) == '\'') {
          out2 += '\''; i2 += 2
        } else if (c2 == '\\' && i2 + 1 < raw.length) {
          val n2 = raw.charAt(i2 + 1)
          if (n2 == 'u' && i2 + 5 < raw.length && (2 to 5).forall(k => hex(i2 + k))) {
            out2 += Integer.parseInt(raw.substring(i2 + 2, i2 + 6), 16).toChar
            i2 += 6
          } else if (n2 >= '0' && n2 <= '1' && i2 + 3 < raw.length &&
              // Spark's unescapeSQLString accepts octal ONLY with a
              // 0-1 first digit (verified on 4.1.2): '\234' lexes to
              // the three chars "234", not U+009C
              raw.charAt(i2 + 2) >= '0' && raw.charAt(i2 + 2) <= '7' &&
              raw.charAt(i2 + 3) >= '0' && raw.charAt(i2 + 3) <= '7') {
            out2 += Integer.parseInt(raw.substring(i2 + 1, i2 + 4), 8).toChar
            i2 += 4
          } else {
            n2 match {
              case '0' => out2 += 0.toChar
              case 'b' => out2 += '\b'
              case 'n' => out2 += '\n'
              case 'r' => out2 += '\r'
              case 't' => out2 += '\t'
              case 'Z' => out2 += 26.toChar // SUB, the MySQL ctrl-Z escape
              case '%' => out2 ++= "\\%"
              case '_' => out2 ++= "\\_"
              case other => out2 += other // incl. \\ \' \" and bare-char fallback
            }
            i2 += 2
          }
        } else { out2 += c2; i2 += 1 }
      }
      out2.toString
    }
    def escapeLiteral(parsed: String): String =
      parsed.replace("\\", "\\\\").replace("'", "''")
    // BigQuery's week units (round 14): WEEK starts SUNDAY,
    // WEEK(<WEEKDAY>) starts the named day, ISOWEEK starts Monday.
    // Each maps to its Spark dayofweek index (1=Sunday..7=Saturday);
    // truncation is then pure date arithmetic — subtract the days
    // since the most recent start day — exact in both engines (no
    // date_trunc, whose week is Monday-only).
    val WeekdayIdx = Map("SUNDAY" -> 1, "MONDAY" -> 2, "TUESDAY" -> 3,
      "WEDNESDAY" -> 4, "THURSDAY" -> 5, "FRIDAY" -> 6, "SATURDAY" -> 7)
    val WeekUnitRe = """(?is)^WEEK\s*\(\s*([A-Za-z]+)\s*\)$""".r
    def weekStart(unit: String): Option[Int] = unit.trim.toUpperCase(java.util.Locale.ROOT) match {
      case "WEEK" => Some(1)
      case "ISOWEEK" => Some(2)
      case WeekUnitRe(day) => Some(WeekdayIdx.getOrElse(day.toUpperCase(java.util.Locale.ROOT),
        throw new IllegalArgumentException(
          s"WEEK($day): unknown weekday (${WeekdayIdx.keys.toSeq.sorted.mkString(", ")})")))
      case _ => None
    }
    // most recent week-start on or before the DATE-typed expression
    def weekTruncDate(x: String, k: Int): String =
      s"date_sub(($x), pmod(dayofweek(($x)) - $k, 7))"
    // great-circle distance between two STRUCT<lng,lat> points on the
    // R=6371010 m sphere — haversine, spelled only with functions both
    // Spark and DuckDB evaluate natively (radians/sin/cos/asin/sqrt;
    // squares as self-products, not pow). The sin terms are duplicated
    // textually: there is no LET in SQL, and whole-stage codegen CSEs
    // the repeated subtree anyway.
    def stHaversine(a: String, b: String): String = {
      val dlat = s"sin(radians(((${b}).lat - (${a}).lat) / 2.0D))"
      val dlng = s"sin(radians(((${b}).lng - (${a}).lng) / 2.0D))"
      s"(2.0D * 6371010.0D * asin(sqrt($dlat * $dlat + " +
        s"cos(radians((${a}).lat)) * cos(radians((${b}).lat)) * $dlng * $dlng)))"
    }
    val allNames = BqRenames.keys.toSeq ++ shapeNames
    def unquote(lit: String, ctx: String): String = {
      require(lit.length >= 2 && lit.startsWith("'") && lit.endsWith("'"),
        s"$ctx requires a literal quoted format string, got: $lit")
      lit.substring(1, lit.length - 1).replace("''", "'")
    }
    def onePass(sql: String): String = rewriteCalls(sql, allNames) { (name, args) =>
      name match {
        case n if BqRenames.contains(n) => Some(s"${BqRenames(n)}(${args.mkString(", ")})")
        // TIMESTAMP_DIFF counts WHOLE unit spans (truncated division of
        // the microsecond difference — BigQuery's rule for timestamps);
        // DATETIME_DIFF and DATE_DIFF count BOUNDARY CROSSINGS
        // (BigQuery's rule for civil values): each side truncates to
        // the unit first, then the difference divides exactly. Week
        // units shift to the named start day (SUNDAY default), month/
        // quarter/year/isoyear are integer calendar arithmetic — every
        // form replays exactly in DuckDB.
        case "TIMESTAMP_DIFF" =>
          require(args.size == 3, s"$name takes (later, earlier, unit)")
          val u = UnitMicros.getOrElse(args(2).toUpperCase(java.util.Locale.ROOT),
            throw new IllegalArgumentException(
              s"$name unit '${args(2)}' not supported (${UnitMicros.keys.toSeq.sorted.mkString(", ")})"))
          Some(s"((unix_micros(CAST((${args(0)}) AS TIMESTAMP)) - " +
            s"unix_micros(CAST((${args(1)}) AS TIMESTAMP))) div $u)")
        case "DATETIME_DIFF" | "DATE_DIFF" =>
          require(args.size == 3, s"$name takes (later, earlier, unit)")
          val u = args(2).trim.toUpperCase(java.util.Locale.ROOT)
          val da = s"CAST((${args(0)}) AS DATE)"
          val db = s"CAST((${args(1)}) AS DATE)"
          weekStart(u) match {
            case Some(k) =>
              Some(s"CAST((datediff(${weekTruncDate(da, k)}, ${weekTruncDate(db, k)}) div 7) AS BIGINT)")
            case None => u match {
              case "DAY" => Some(s"CAST(datediff(($da), ($db)) AS BIGINT)")
              case "MONTH" => Some(s"CAST((year($da) * 12 + month($da)) - " +
                s"(year($db) * 12 + month($db)) AS BIGINT)")
              case "QUARTER" => Some(s"CAST((year($da) * 4 + quarter($da)) - " +
                s"(year($db) * 4 + quarter($db)) AS BIGINT)")
              case "YEAR" => Some(s"CAST(year($da) - year($db) AS BIGINT)")
              case "ISOYEAR" => Some(s"CAST(extract(YEAROFWEEK FROM $da) - " +
                s"extract(YEAROFWEEK FROM $db) AS BIGINT)")
              case sub if name == "DATETIME_DIFF" && UnitMicros.contains(sub) =>
                // sub-day boundary crossings: truncate both sides to
                // the unit, then the micros difference divides exactly
                // (01:59→02:01 IS one HOUR boundary, though the span
                // is two minutes — the civil-value rule)
                val ta = s"date_trunc('$sub', CAST((${args(0)}) AS TIMESTAMP))"
                val tb = s"date_trunc('$sub', CAST((${args(1)}) AS TIMESTAMP))"
                Some(s"((unix_micros($ta) - unix_micros($tb)) div ${UnitMicros(sub)})")
              case other => throw new IllegalArgumentException(
                s"$name unit '$other' not supported (DAY, WEEK, WEEK(<WEEKDAY>), " +
                  "ISOWEEK, MONTH, QUARTER, YEAR, ISOYEAR" +
                  (if (name == "DATETIME_DIFF") ", MICROSECOND..HOUR" else "") + ")")
            }
          }
        case "TIMESTAMP_ADD" | "DATETIME_ADD" | "TIMESTAMP_SUB" | "DATETIME_SUB" =>
          require(args.size == 2 && IntervalLitRe.pattern.matcher(args(1)).matches(),
            s"$name takes (ts, INTERVAL n unit) with a literal interval, got: $name(${args.mkString(", ")})")
          val op = if (name.endsWith("_ADD")) "+" else "-"
          Some(s"((${args(0)}) $op ${args(1)})")
        case "DATE_ADD" | "DATE_SUB" =>
          args match {
            case Seq(d, IntervalLitRe(n, unit)) =>
              val sign = if (name == "DATE_SUB") -1L else 1L
              val k = n.toLong * sign
              unit.toUpperCase(java.util.Locale.ROOT) match {
                case "DAY" => Some(s"date_add(($d), ${k})")
                case "WEEK" => Some(s"date_add(($d), ${k * 7})")
                case "MONTH" => Some(s"add_months(($d), ${k})")
                case "QUARTER" => Some(s"add_months(($d), ${k * 3})")
                case "YEAR" => Some(s"add_months(($d), ${k * 12})")
                case other => throw new IllegalArgumentException(
                  s"$name unit '$other' not supported")
              }
            case _ => None // Spark's own date_add(d, n) / non-literal: untouched
          }
        // the timezone-argument forms (round 14): a TIMESTAMP column
        // is a UTC instant on this engine's carrier (GraftSession pins
        // the session zone to UTC), so a named-zone rendering is the
        // from_utc_timestamp/to_utc_timestamp pair — Spark's own DST
        // rules via java.time, replayed in DuckDB with the mirrored
        // AT TIME ZONE chain. FORMAT_TIMESTAMP(fmt, ts, tz) formats
        // the wall clock IN tz; PARSE_TIMESTAMP(fmt, s, tz) reads s AS
        // a wall clock in tz and returns the instant.
        case "FORMAT_DATE" | "FORMAT_TIMESTAMP" | "FORMAT_DATETIME" =>
          require(args.size == 2 || (name == "FORMAT_TIMESTAMP" && args.size == 3),
            s"$name takes (format, value${if (name == "FORMAT_TIMESTAMP") "[, timezone]" else ""})")
          val fmtj = bqFormatToJava(unquote(args(0), name)).replace("'", "''")
          if (args.size == 3)
            Some(s"date_format(from_utc_timestamp((${args(1)}), (${args(2)})), '$fmtj')")
          else Some(s"date_format((${args(1)}), '$fmtj')")
        case "PARSE_DATE" =>
          require(args.size == 2, "PARSE_DATE takes (format, value)")
          Some(s"to_date((${args(1)}), '${bqFormatToJava(unquote(args(0), name)).replace("'", "''")}')")
        case "PARSE_TIMESTAMP" | "PARSE_DATETIME" =>
          require(args.size == 2 || (name == "PARSE_TIMESTAMP" && args.size == 3),
            s"$name takes (format, value${if (name == "PARSE_TIMESTAMP") "[, timezone]" else ""})")
          val fmtj = bqFormatToJava(unquote(args(0), name)).replace("'", "''")
          if (args.size == 3)
            Some(s"to_utc_timestamp(to_timestamp((${args(1)}), '$fmtj'), (${args(2)}))")
          else Some(s"to_timestamp((${args(1)}), '$fmtj')")
        // DATE(ts, tz): the civil date of the instant in tz. DATE(x)
        // passes through (Spark's own cast-function). DATETIME(ts, tz)
        // is the civil wall clock itself on the _NTZ carrier;
        // TIMESTAMP(x, tz) interprets a civil value in tz and returns
        // the instant; CURRENT_DATE(tz) is today in tz.
        case "DATE" =>
          if (args.size <= 1) None // Spark's own cast-function
          else if (args.size == 3) // BigQuery's civil constructor
            Some(s"make_date((${args(0)}), (${args(1)}), (${args(2)}))")
          else {
            require(args.size == 2, "DATE takes (timestamp[, timezone]) or (y, m, d)")
            Some(s"CAST(from_utc_timestamp((${args(0)}), (${args(1)})) AS DATE)")
          }
        case "DATETIME" =>
          // no Spark native to pass through to — every arity rewrites.
          // The 6-part civil constructor (round 15) is exactly Spark's
          // make_timestamp_ntz; the 2-arg form stays (timestamp,
          // timezone) — BigQuery's (date, time) overload would need
          // type dispatch the textual rewriter cannot do (stated)
          require(args.size == 1 || args.size == 2 || args.size == 6,
            "DATETIME takes (timestamp[, timezone]), (date, time), or the 6-part " +
              "civil constructor (year, month, day, hour, minute, second)")
          if (args.size == 6)
            Some(s"make_timestamp_ntz(${args.map(a => s"($a)").mkString(", ")})")
          else if (args.size == 2) {
            // a quoted-LITERAL second argument is unambiguously the
            // timezone form and keeps the established textual path;
            // any other spelling type-dispatches at analysis inside
            // the native ((date, time) combine vs (ts, tz column))
            if (args(1).trim.startsWith("'"))
              Some(s"CAST(from_utc_timestamp((${args(0)}), (${args(1)})) AS TIMESTAMP_NTZ)")
            else Some(s"graft_civil_datetime((${args(0)}), (${args(1)}))")
          }
          else Some(s"CAST((${args(0)}) AS TIMESTAMP_NTZ)")
        case "TIMESTAMP" =>
          if (args.size <= 1) None
          else {
            require(args.size == 2, "TIMESTAMP takes (value[, timezone])")
            // the cast lands string/_NTZ/date inputs on the session-UTC
            // carrier with the SAME wall clock, which to_utc_timestamp
            // then re-reads as a civil time in tz — BigQuery's rule
            Some(s"to_utc_timestamp(CAST((${args(0)}) AS TIMESTAMP), (${args(1)}))")
          }
        case "CURRENT_DATE" =>
          if (args.isEmpty) None
          else {
            require(args.size == 1, "CURRENT_DATE takes ([timezone])")
            Some(s"CAST(from_utc_timestamp(current_timestamp(), (${args(0)})) AS DATE)")
          }
        // the SAFE.-prefixed parse family: NULL on an unparseable
        // value via try_to_timestamp (the date form casts the
        // midnight timestamp down — total)
        case "SAFE_PARSE_DATE" =>
          require(args.size == 2, "SAFE.PARSE_DATE takes (format, value)")
          Some(s"CAST(try_to_timestamp((${args(1)}), '${bqFormatToJava(unquote(args(0), name)).replace("'", "''")}') AS DATE)")
        case "SAFE_PARSE_TIMESTAMP" | "SAFE_PARSE_DATETIME" =>
          require(args.size == 2, s"${name.replaceFirst("SAFE_", "SAFE.")} takes (format, value)")
          Some(s"try_to_timestamp((${args(1)}), '${bqFormatToJava(unquote(args(0), name)).replace("'", "''")}')")
        case "ANY_VALUE" => args match {
          // BigQuery's argmax/argmin spelling; bare ANY_VALUE is
          // native Spark and passes through
          case Seq(HavingRe(x, mm, y)) =>
            Some(s"${if (mm.equalsIgnoreCase("MAX")) "max_by" else "min_by"}(${x.trim}, ${y.trim})")
          case _ => None
        }
        case "STRING_AGG" | "ARRAY_AGG" => orderedAgg(name, args)
        // BigQuery's APPROX family over Spark's sketches. QUANTILES:
        // n+1 evenly spaced rank-selected elements via the GK sketch
        // (accuracy 10000 — EXACT whenever the group is smaller than
        // that, the B11b regime; genuinely approximate above it, like
        // BigQuery's own). TOP_COUNT: native approx_top_k with the
        // struct fields renamed to BigQuery's (value, count).
        case "APPROX_QUANTILES" =>
          require(args.size == 2, "APPROX_QUANTILES takes (expr, number)")
          require("(?is)^DISTINCT\\s".r.findFirstIn(args(0)).isEmpty,
            "APPROX_QUANTILES DISTINCT is not supported — deduplicate upstream")
          val nTxt = args(1).trim
          require(nTxt.matches("""\d+""") && nTxt.toInt >= 1,
            s"APPROX_QUANTILES number must be a positive literal integer, got $nTxt")
          val k = nTxt.toInt
          val qs = (0 to k).map(i => (i.toDouble / k).toString).mkString(", ")
          Some(s"approx_percentile((${args(0)}), array($qs), 10000)")
        // BigQuery's TRUNC family has the REVERSED argument order from
        // Spark's date_trunc (value first, unit keyword second) and
        // typed results (DATE_TRUNC → DATE, DATETIME_TRUNC → _NTZ).
        // Spark's own date_trunc('unit', ts) spelling — string literal
        // FIRST — passes through untouched. WEEK is loud: BigQuery
        // weeks start Sunday, Spark's Monday — a silent one-day shift.
        case "TIMESTAMP_TRUNC" | "DATETIME_TRUNC" | "DATE_TRUNC" =>
          if (args.nonEmpty && args(0).trim.startsWith("'")) None // Spark spelling
          else {
            require(args.size == 2 || (name == "TIMESTAMP_TRUNC" && args.size == 3),
              s"$name takes (value, unit${if (name == "TIMESTAMP_TRUNC") "[, timezone]"
              else " — the timezone argument applies to TIMESTAMP_TRUNC only"})")
            val unit = args(1).trim.toUpperCase(java.util.Locale.ROOT)
            weekStart(unit) match {
              // WEEK / WEEK(<WEEKDAY>) / ISOWEEK: pure date arithmetic
              // off the day-truncated value (BigQuery weeks start
              // Sunday — Spark's date_trunc WEEK is Monday-only, so
              // the shift is explicit)
              case Some(k) => name match {
                case "TIMESTAMP_TRUNC" if args.size == 3 =>
                  val local = s"CAST(from_utc_timestamp((${args(0)}), (${args(2)})) AS DATE)"
                  Some(s"to_utc_timestamp(CAST(${weekTruncDate(local, k)} AS TIMESTAMP), (${args(2)}))")
                case "TIMESTAMP_TRUNC" =>
                  Some(s"CAST(${weekTruncDate(s"CAST((${args(0)}) AS DATE)", k)} AS TIMESTAMP)")
                case "DATETIME_TRUNC" =>
                  Some(s"CAST(${weekTruncDate(s"CAST((${args(0)}) AS DATE)", k)} AS TIMESTAMP_NTZ)")
                case _ => Some(weekTruncDate(s"CAST((${args(0)}) AS DATE)", k))
              }
              case None =>
                require(Set("MICROSECOND", "MILLISECOND", "SECOND", "MINUTE", "HOUR",
                  "DAY", "MONTH", "QUARTER", "YEAR").contains(unit),
                  s"$name unit '$unit' is not supported")
                name match {
                  case "TIMESTAMP_TRUNC" if args.size == 3 =>
                    // truncate at the unit boundary OF THE NAMED ZONE and
                    // return the instant: render the instant as tz wall
                    // clock, truncate there, read the wall clock back
                    Some(s"to_utc_timestamp(date_trunc('$unit', " +
                      s"from_utc_timestamp((${args(0)}), (${args(2)}))), (${args(2)}))")
                  case "TIMESTAMP_TRUNC" => Some(s"date_trunc('$unit', (${args(0)}))")
                  case "DATETIME_TRUNC" =>
                    Some(s"CAST(date_trunc('$unit', (${args(0)})) AS TIMESTAMP_NTZ)")
                  case _ => Some(s"CAST(date_trunc('$unit', (${args(0)})) AS DATE)")
                }
            }
          }
        // BigQuery's extended-argument string searches (round 13).
        // NOTE the deliberate asymmetry with REGEXP_EXTRACT: its
        // 3-arg form stays Spark's capture-group index (this repo's
        // own load-routed SQL uses it — changing or rejecting it
        // would break working Spark-dialect text; divergence
        // documented in the README dialect note). REGEXP_INSTR's
        // extended args are loud (BigQuery position/occurrence vs
        // Spark's group index — unused here, so the guard is free);
        // INSTR's 3-arg position form maps exactly onto Spark locate
        // (swapped argument order — previously a hard analysis
        // failure, so this only ADDS capability); 4-arg occurrence is
        // loud.
        // BigQuery LOG(x, base) REVERSES Spark's log(base, x) — a
        // migrated 2-arg call would silently compute the reciprocal
        // exponent. Emitted as the ln ratio (exactly what Spark's own
        // Logarithm evaluates to — math.log(x)/math.log(base) — so
        // values match the native function bit-for-bit) because a
        // swapped-argument `log(...)` would re-match this case and
        // oscillate across fixpoint passes. 1-arg LOG is the natural
        // log in both dialects — pass through.
        case "LOG" =>
          if (args.size <= 1) None
          else {
            require(args.size == 2, "LOG takes (x [, base])")
            Some(s"(ln((${args(0)})) / ln((${args(1)})))")
          }
        case "REGEXP_INSTR" =>
          if (args.size <= 2) None
          else throw new IllegalArgumentException(
            "REGEXP_INSTR(value, regex, position[, occurrence[, occurrence_position]]): " +
              "BigQuery's extended arguments diverge from Spark's group-index " +
              "form — compose locate/substr/regexp_extract_all explicitly")
        case "INSTR" =>
          args.size match {
            case 1 | 2 => None // Spark-native (value, substring)
            case 3 =>
              // BigQuery's NEGATIVE position searches BACKWARD from
              // the end — locate would silently return 0 there, so
              // the guard raises at runtime instead (value-dependent,
              // unguardable at rewrite time)
              Some(s"(CASE WHEN (${args(2)}) < 1 THEN CAST(raise_error(" +
                "'INSTR position must be >= 1 here (BigQuery''s negative " +
                "position searches backward from the end — spell it with " +
                s"reverse())') AS INT) ELSE locate((${args(1)}), (${args(0)}), (${args(2)})) END)")
            case _ => throw new IllegalArgumentException(
              "INSTR(value, subvalue, position, occurrence): the occurrence " +
                "argument has no Spark equivalent — compose with " +
                "regexp_extract_all over a quoted literal, or iterate locate")
          }
        // BigQuery's analytic percentiles (round 13):
        // PERCENTILE_CONT(x, p) [OVER w] → percentile((x), (p)) — the
        // OVER text sits OUTSIDE the call and passes through
        // untouched, so the window spelling lands on Spark's native
        // window-aggregate support (probed: WITHIN GROUP + OVER both
        // plan). PERCENTILE_DISC(x, p) → the ANSI
        // percentile_disc(p) WITHIN GROUP (ORDER BY x) form (returns
        // an EXISTING element, BigQuery's rule). IGNORE NULLS is the
        // default both sides (strip it); RESPECT NULLS is loud (Spark
        // percentiles always ignore). The 1-arg spelling is Spark's
        // own percentile_disc output — pass through (idempotence).
        case "PERCENTILE_CONT" | "PERCENTILE_DISC" =>
          if (args.size == 1) None // already-rewritten / Spark-native
          else {
            require(args.size == 2, s"$name takes (value, fraction)")
            var frac = args(1).trim
            require(!frac.matches("(?is).*\\bRESPECT\\s+NULLS\\s*$"),
              s"$name RESPECT NULLS is not supported — Spark percentiles " +
                "ignore NULLs (BigQuery's default)")
            frac = frac.replaceFirst("(?is)\\s+IGNORE\\s+NULLS\\s*$", "")
            if (name == "PERCENTILE_CONT")
              Some(s"percentile((${args(0)}), ($frac))")
            else
              Some(s"percentile_disc(($frac)) WITHIN GROUP (ORDER BY (${args(0)}))")
          }
        // BigQuery's TIME type (round 13), carried as TIMESTAMP_NTZ
        // pinned to 1970-01-01 — ordering, equality, grouping and
        // parquet round-trips are all native on the carrier, and the
        // wall-clock text is exactly the TIME's text. TIME_ADD /
        // TIME_SUB WRAP around 24 h (BigQuery's rule — pmod keeps the
        // carrier on day one); TIME_DIFF does NOT wrap (BigQuery
        // measures the signed span). The session runs UTC, so the
        // TIMESTAMP↔NTZ casts inside the micro arithmetic are
        // wall-clock-exact (GraftSession pins the timezone).
        case "TIME" =>
          require(args.size >= 1 && args.size <= 3,
            "TIME takes (timestamp[, timezone]) or (hour, minute, second)")
          if (args.size == 3)
            Some(s"make_timestamp_ntz(1970, 1, 1, (${args(0)}), (${args(1)}), (${args(2)}))")
          else {
            // the 2-arg form is the wall-clock time IN the named zone
            // (the B72 tz family applied to the TIME carrier)
            val src = if (args.size == 2)
              s"from_utc_timestamp((${args(0)}), (${args(1)}))" else s"(${args(0)})"
            Some(s"CAST(concat('1970-01-01 ', date_format($src, 'HH:mm:ss.SSSSSS')) AS TIMESTAMP_NTZ)")
          }
        case "TIME_ADD" | "TIME_SUB" =>
          require(args.size == 2, s"$name takes (time, INTERVAL n unit)")
          val (nTxt, unitRaw) = args(1).trim match {
            case IntervalLitRe(n, u) => (n, u)
            case other => throw new IllegalArgumentException(
              s"$name takes a literal INTERVAL n unit, got: $other")
          }
          val unit = unitRaw.toUpperCase(java.util.Locale.ROOT)
          require(unit != "DAY", s"$name unit 'DAY' is not a TIME part " +
            "(BigQuery's rule — a full day wraps to itself)")
          val w = UnitMicros.getOrElse(unit, throw new IllegalArgumentException(
            s"$name unit '$unit' is not supported " +
              s"(${(UnitMicros.keys.toSet - "DAY").toSeq.sorted.mkString(", ")})"))
          val k = nTxt.toLong * w * (if (name == "TIME_SUB") -1L else 1L)
          Some(s"CAST(timestamp_micros(pmod(unix_micros(CAST((${args(0)}) AS TIMESTAMP)) + " +
            s"(${k}L), 86400000000L)) AS TIMESTAMP_NTZ)")
        case "TIME_DIFF" =>
          require(args.size == 3, "TIME_DIFF takes (later, earlier, unit)")
          val uu = args(2).toUpperCase(java.util.Locale.ROOT).trim
          require(uu != "DAY", "TIME_DIFF unit 'DAY' is not a TIME part (BigQuery's rule)")
          val u = UnitMicros.getOrElse(uu,
            throw new IllegalArgumentException(
              s"TIME_DIFF unit '${args(2)}' not supported " +
                s"(${(UnitMicros.keys.toSet - "DAY").toSeq.sorted.mkString(", ")})"))
          Some(s"((unix_micros(CAST((${args(0)}) AS TIMESTAMP)) - " +
            s"unix_micros(CAST((${args(1)}) AS TIMESTAMP))) div $u)")
        case "TIME_TRUNC" =>
          require(args.size == 2, "TIME_TRUNC takes (time, unit)")
          val unit = args(1).trim.toUpperCase(java.util.Locale.ROOT)
          require(unit != "DAY", "TIME_TRUNC unit 'DAY' is not a TIME part (BigQuery's rule)")
          val w = UnitMicros.getOrElse(unit, throw new IllegalArgumentException(
            s"TIME_TRUNC unit '$unit' is not supported " +
              s"(${(UnitMicros.keys.toSet - "DAY").toSeq.sorted.mkString(", ")})"))
          val a = s"unix_micros(CAST((${args(0)}) AS TIMESTAMP))"
          Some(s"CAST(timestamp_micros($a - pmod($a, ${w}L)) AS TIMESTAMP_NTZ)")
        case "FORMAT_TIME" =>
          require(args.size == 2, "FORMAT_TIME takes (format, time)")
          Some(s"date_format((${args(1)}), '${bqFormatToJava(unquote(args(0), name)).replace("'", "''")}')")
        case "PARSE_TIME" =>
          require(args.size == 2, "PARSE_TIME takes (format, value)")
          // missing date fields default to the epoch in Spark's
          // parser — exactly the 1970-01-01 carrier pin
          Some(s"CAST(to_timestamp((${args(1)}), '${bqFormatToJava(unquote(args(0), name)).replace("'", "''")}') AS TIMESTAMP_NTZ)")
        // BigQuery FORMAT (round 13) → format_string: the shared
        // printf subset (%d %s %f %e %g %x %X %o %% with flags/width/
        // precision; %i is C's alias for %d). The BigQuery-only verbs
        // are LOUD: %t/%T (canonical/SQL-literal rendering — no Java
        // analog) and %u (unsigned — INT64 is signed here). The format
        // must be a string LITERAL so the verb scan can run at rewrite
        // time — a silently-unmapped verb would corrupt every row.
        // Stated divergence, documented not hidden: Java's %f rounds
        // ties HALF_UP where C rounds half-even — binary doubles
        // almost never sit exactly on a decimal tie, but don't build
        // dedup keys from %.1f of money values.
        case "FORMAT" =>
          require(args.size >= 2, "FORMAT takes (format_literal, arg, ...)")
          val raw = args(0).trim
          require(raw.length >= 2 && raw.startsWith("'") && raw.endsWith("'"),
            s"FORMAT requires a literal quoted format string, got: $raw")
          val fmt = raw.substring(1, raw.length - 1)
          var i = 0
          val outF = new StringBuilder
          while (i < fmt.length) {
            val c = fmt.charAt(i)
            if (c == '%') {
              var j = i + 1
              while (j < fmt.length && "+-# 0123456789.'".indexOf(fmt.charAt(j)) >= 0) j += 1
              require(j < fmt.length, s"FORMAT: dangling % at the end of '$fmt'")
              val verb = fmt.charAt(j)
              require("dioxXeEfgGs%".indexOf(verb) >= 0,
                s"FORMAT verb %$verb is not supported (%t/%T have no Java analog, " +
                  "%u is unsigned; shared subset: %d %i %o %x %X %e %f %g %s %%)")
              outF ++= fmt.substring(i, j)
              outF += (if (verb == 'i') 'd' else verb)
              i = j + 1
            } else { outF += c; i += 1 }
          }
          Some(s"format_string('${outF.toString}', ${args.drop(1).mkString(", ")})")
        // BigQuery ERROR(msg) raises mid-expression (the CASE-guard
        // idiom); Spark's raise_error is the same verb
        case "ERROR" =>
          require(args.size == 1, "ERROR takes one message argument")
          Some(s"raise_error((${args(0)}))")
        // LAST_DAY(d [, part]): MONTH is Spark-native; YEAR/QUARTER
        // compose from exact date arithmetic; WEEK is loud (BigQuery
        // weeks start Sunday — the TRUNC-family divergence)
        case "LAST_DAY" =>
          require(args.size == 1 || args.size == 2, "LAST_DAY takes (date [, part])")
          // the 1-arg form IS Spark's native last_day — pass through
          // untouched (also what makes the rewrite idempotent: the
          // part forms below emit 1-arg last_day calls, which the
          // next fixpoint pass must leave alone — fuzz-caught)
          if (args.size == 1) None
          else weekStart(args(1)) match {
            // the week's last day = start + 6 (SUNDAY-start default,
            // WEEK(<WEEKDAY>) and ISOWEEK via the shared shift)
            case Some(k) =>
              Some(s"date_add(${weekTruncDate(s"CAST((${args(0)}) AS DATE)", k)}, 6)")
            case None => args(1).trim.toUpperCase(java.util.Locale.ROOT) match {
              case "MONTH" => Some(s"last_day((${args(0)}))")
              case "YEAR" => Some(s"make_date(year((${args(0)})), 12, 31)")
              case "QUARTER" =>
                Some(s"last_day(add_months(trunc(CAST((${args(0)}) AS DATE), 'QUARTER'), 2))")
              case other => throw new IllegalArgumentException(
                s"LAST_DAY part '$other' is not supported (WEEK, WEEK(<WEEKDAY>), " +
                  "ISOWEEK, MONTH, QUARTER, YEAR)")
            }
          }
        // BigQuery's RANGE<DATE> surface (round 13), carried as
        // STRUCT<range_start DATE, range_end DATE> with NULL =
        // UNBOUNDED — half-open [start, end) like BigQuery's. DATE
        // ranges only (the SCD-validity shape — A25's natural SQL
        // companion); DATETIME/TIMESTAMP ranges are not mapped (typed
        // failure at analysis). RANGE_INTERSECT is below;
        // RANGE_SESSIONIZE is the GraftSql TVF.
        // Construction does NOT enforce start < end (BigQuery raises;
        // here an inverted range simply contains nothing — stated).
        // Range arguments are textually duplicated — pass COLUMNS.
        case "RANGE" =>
          require(args.size == 2, "RANGE takes (lower, upper) — NULL for UNBOUNDED")
          Some(s"named_struct('range_start', CAST((${args(0)}) AS DATE), " +
            s"'range_end', CAST((${args(1)}) AS DATE))")
        case "RANGE_START" =>
          require(args.size == 1, "RANGE_START takes one range")
          Some(s"((${args(0)}).range_start)")
        case "RANGE_END" =>
          require(args.size == 1, "RANGE_END takes one range")
          Some(s"((${args(0)}).range_end)")
        // the point-containment form (the common predicate); the
        // range-in-range form fails typed on the CAST — spell it as
        // two RANGE_CONTAINS over RANGE_START/RANGE_END
        case "RANGE_CONTAINS" =>
          require(args.size == 2, "RANGE_CONTAINS takes (range, date_value)")
          val r = s"(${args(0)})"
          val v = s"CAST((${args(1)}) AS DATE)"
          Some(s"(($r.range_start IS NULL OR $v >= $r.range_start) " +
            s"AND ($r.range_end IS NULL OR $v < $r.range_end))")
        case "RANGE_OVERLAPS" =>
          require(args.size == 2, "RANGE_OVERLAPS takes (range, range)")
          val r1 = s"(${args(0)})"
          val r2 = s"(${args(1)})"
          Some(s"(($r1.range_end IS NULL OR $r2.range_start IS NULL OR " +
            s"$r2.range_start < $r1.range_end) AND " +
            s"($r2.range_end IS NULL OR $r1.range_start IS NULL OR " +
            s"$r1.range_start < $r2.range_end))")
        // the intersection of two overlapping ranges — max of starts,
        // min of ends, NULL = unbounded wins only when BOTH sides are
        // unbounded; non-overlapping inputs RAISE (BigQuery's rule —
        // guard with RANGE_OVERLAPS for the conditional spelling).
        // Both ranges are textually duplicated several times — pass
        // COLUMNS (the RANGE_CONTAINS discipline).
        case "RANGE_INTERSECT" =>
          require(args.size == 2, "RANGE_INTERSECT takes (range, range)")
          val r1 = s"(${args(0)})"
          val r2 = s"(${args(1)})"
          val overlap = s"(($r1.range_end IS NULL OR $r2.range_start IS NULL OR " +
            s"$r2.range_start < $r1.range_end) AND " +
            s"($r2.range_end IS NULL OR $r1.range_start IS NULL OR " +
            s"$r1.range_start < $r2.range_end))"
          val st = s"CASE WHEN $r1.range_start IS NULL THEN $r2.range_start " +
            s"WHEN $r2.range_start IS NULL THEN $r1.range_start " +
            s"ELSE greatest($r1.range_start, $r2.range_start) END"
          val en = s"CASE WHEN $r1.range_end IS NULL THEN $r2.range_end " +
            s"WHEN $r2.range_end IS NULL THEN $r1.range_end " +
            s"ELSE least($r1.range_end, $r2.range_end) END"
          Some(s"(CASE WHEN $overlap THEN named_struct('range_start', $st, " +
            s"'range_end', $en) ELSE raise_error('RANGE_INTERSECT: ranges do not " +
            s"overlap (guard with RANGE_OVERLAPS)') END)")
        // split a BOUNDED range into step-width sub-ranges (the last
        // may be partial — include_last_partial_range default true is
        // the only supported mode); an unbounded side yields NULL
        // where BigQuery raises (stated)
        case "GENERATE_RANGE_ARRAY" =>
          require(args.size == 2,
            "GENERATE_RANGE_ARRAY takes (range, step_interval) — " +
              "include_last_partial_range is default-only")
          val (nTxt, unitRaw) = args(1).trim match {
            case IntervalLitRe(n, u) => (n, u)
            case other => throw new IllegalArgumentException(
              s"GENERATE_RANGE_ARRAY step must be a literal INTERVAL n unit, got: $other")
          }
          val nd = unitRaw.toUpperCase(java.util.Locale.ROOT) match {
            case "DAY" => nTxt.toLong
            case "WEEK" => nTxt.toLong * 7
            case other => throw new IllegalArgumentException(
              s"GENERATE_RANGE_ARRAY unit '$other' is not supported (DAY, WEEK)")
          }
          require(nd > 0, "GENERATE_RANGE_ARRAY step must be positive")
          val r = s"(${args(0)})"
          Some(s"transform(sequence($r.range_start, date_sub($r.range_end, 1), " +
            s"INTERVAL $nd DAY), __s -> named_struct('range_start', __s, " +
            s"'range_end', least(date_add(__s, $nd), $r.range_end)))")
        // BigQuery's BUCKET family (round 13): snap a value into
        // fixed-width buckets anchored at `origin` (default
        // 1950-01-01, BigQuery's), returning the bucket START. Exact
        // integer arithmetic via pmod — floor semantics on BOTH sides
        // of the origin, never a double division (day counts are
        // small, but micros since 1950 brush the 2^53 regime).
        // DATE_BUCKET takes DAY/WEEK(=7d) or MONTH/QUARTER/YEAR
        // widths (the month family requires an origin on day 1 —
        // runtime-checked — because BigQuery buckets by month
        // boundary); TIMESTAMP_BUCKET/DATETIME_BUCKET take
        // MICROSECOND..DAY/WEEK fixed widths. The value expression is
        // textually duplicated — pass a COLUMN, not a heavy subtree
        // (the ML.NGRAMS macro discipline).
        case "DATE_BUCKET" | "DATETIME_BUCKET" | "TIMESTAMP_BUCKET" =>
          require(args.size == 2 || args.size == 3,
            s"$name takes (value, bucket_width_interval [, origin])")
          val (nTxt, unitRaw) = args(1).trim match {
            case IntervalLitRe(n, u) => (n, u)
            case other => throw new IllegalArgumentException(
              s"$name bucket_width must be a literal INTERVAL n unit, got: $other")
          }
          val n = nTxt.toLong
          require(n > 0, s"$name bucket_width must be positive, got $n")
          val unit = unitRaw.toUpperCase(java.util.Locale.ROOT)
          val v = s"(${args(0)})"
          if (name == "DATE_BUCKET") {
            val o = if (args.size == 3) s"CAST((${args(2)}) AS DATE)"
                    else "DATE '1950-01-01'"
            unit match {
              case "DAY" | "WEEK" =>
                val nd = if (unit == "WEEK") n * 7 else n
                Some(s"date_sub(CAST($v AS DATE), " +
                  s"CAST(pmod(datediff(CAST($v AS DATE), $o), $nd) AS INT))")
              case "MONTH" | "QUARTER" | "YEAR" =>
                val nm = unit match {
                  case "MONTH" => n
                  case "QUARTER" => n * 3
                  case _ => n * 12
                }
                val m = s"((year($v) * 12 + month($v)) - (year($o) * 12 + month($o)))"
                // assert_true raises when the origin is mid-month
                // (month buckets are month-boundary-aligned in
                // BigQuery); on pass it returns NULL -> CASE falls
                // through to the bucket expression
                Some(s"(CASE WHEN assert_true(day($o) = 1, " +
                  s"'$name: a $unit width requires an origin on day 1 of a month') IS NULL " +
                  s"THEN add_months($o, CAST($m - pmod($m, $nm) AS INT)) END)")
              case other => throw new IllegalArgumentException(
                s"$name unit '$other' is not supported (DAY, WEEK, MONTH, QUARTER, YEAR)")
            }
          } else {
            val w = UnitMicros.get(unit).map(_ * n).getOrElse(
              if (unit == "WEEK") n * 7 * 86400000000L
              else throw new IllegalArgumentException(
                s"$name unit '$unit' is not supported " +
                  s"(${(UnitMicros.keys.toSeq :+ "WEEK").sorted.mkString(", ")})"))
            val o = if (args.size == 3) s"unix_micros(CAST((${args(2)}) AS TIMESTAMP))"
                    else "unix_micros(TIMESTAMP '1950-01-01 00:00:00')"
            val a = s"unix_micros(CAST($v AS TIMESTAMP))"
            val bucket = s"timestamp_micros($a - pmod($a - $o, ${w}L))"
            if (name == "DATETIME_BUCKET")
              Some(s"CAST($bucket AS TIMESTAMP_NTZ)")
            else Some(bucket)
          }
        // BigQuery SPLIT: LITERAL delimiter (default ','), unlike
        // Spark's regex split — '|' and '.' are exactly where the
        // dialects diverge, so the two-argument literal form takes
        // BigQuery semantics (regex-quoted). Spark regex splitting
        // stays available through the THREE-argument form
        // split(s, regex, limit) and through non-literal delimiters,
        // both untouched.
        case "SPLIT" if args.size == 3 => None // Spark's split(str, regex, limit)
        case "SPLIT" =>
          require(args.nonEmpty && args.size <= 2, "SPLIT takes (value[, delimiter])")
          val d = if (args.size == 2) args(1).trim else "','"
          if (!(d.startsWith("'") && d.endsWith("'") && d.length >= 2)) None
          else {
            val raw = d.substring(1, d.length - 1).replace("''", "'")
            require(raw.nonEmpty, "SPLIT delimiter must be non-empty")
            // double the backslashes: Spark's SQL string unescape eats
            // one level before the regex engine sees \Q...\E
            val quoted = java.util.regex.Pattern.quote(raw)
              .replace("\\", "\\\\").replace("'", "''")
            Some(s"split((${args(0)}), '$quoted', -1)")
          }
        // BigQuery EDIT_DISTANCE → levenshtein; the max_distance form
        // CAPS the result at max (Spark's threshold form returns -1
        // past it — mapped back)
        case "EDIT_DISTANCE" =>
          require(args.size == 2 || args.size == 3,
            "EDIT_DISTANCE takes (a, b [, max_distance])")
          if (args.size == 2) Some(s"levenshtein((${args(0)}), (${args(1)}))")
          else {
            val k = args(2).replaceFirst("(?is)^max_distance\\s*=>\\s*", "").trim
            Some(s"ifnull(nullif(levenshtein((${args(0)}), (${args(1)}), ($k)), -1), ($k))")
          }
        case "TO_JSON_STRING" =>
          require(args.size == 1 || args.size == 2,
            "TO_JSON_STRING takes (value [, pretty_print])")
          if (args.size == 2) {
            val p = args(1).trim.toLowerCase(java.util.Locale.ROOT)
            require(p == "true" || p == "false",
              s"TO_JSON_STRING pretty_print must be a boolean literal, got: ${args(1)}")
            if (p == "true")
              // BigQuery's exact pretty layout, pinned in JsonPretty
              Some(s"graft_json_pretty(to_json((${args(0)})))")
            else Some(s"to_json((${args(0)}))")
          } else Some(s"to_json((${args(0)}))")
        // BigQuery's lax JSON scalar accessors over this engine's
        // string-typed JSON values. The PINNED coercion table (the
        // common migration cases; objects/arrays/JSON null → NULL,
        // quoted strings unwrap first):
        //   LAX_INT64: bool → 1/0; integral text exact; other numeric
        //     text via double, rounded half-away-from-zero; else NULL
        //   LAX_FLOAT64: numeric text → double; bools → NULL
        //   LAX_BOOL: 'true'/'false' (case-insens) → bool; numeric
        //     text → (value ≠ 0); else NULL
        //   LAX_STRING: quoted unwraps; numbers/bools keep their text
        case "LAX_INT64" | "LAX_FLOAT64" | "LAX_BOOL" | "LAX_STRING" =>
          require(args.size == 1, s"$name takes one JSON scalar")
          val a = s"trim(CAST((${args(0)}) AS STRING))"
          val unq = s"(CASE WHEN $a LIKE '\"%\"' THEN substring($a, 2, length($a) - 2) ELSE $a END)"
          val guard = s"($a IS NULL OR $a = '' OR lower($a) = 'null' OR left($a, 1) IN ('{', '['))"
          val body = name match {
            case "LAX_STRING" => unq
            case "LAX_FLOAT64" => s"try_cast($unq AS DOUBLE)"
            case "LAX_BOOL" =>
              s"(CASE WHEN lower($unq) = 'true' THEN true " +
                s"WHEN lower($unq) = 'false' THEN false " +
                s"WHEN try_cast($unq AS DOUBLE) IS NOT NULL " +
                s"THEN try_cast($unq AS DOUBLE) <> CAST(0 AS DOUBLE) END)"
            case _ => // LAX_INT64
              s"COALESCE(CASE WHEN lower($unq) = 'true' THEN CAST(1 AS BIGINT) " +
                s"WHEN lower($unq) = 'false' THEN CAST(0 AS BIGINT) END, " +
                s"try_cast($unq AS BIGINT), " +
                // try_cast OUTSIDE too: under ANSI mode a plain CAST
                // throws for numeric text beyond INT64 range (e.g.
                // '1e30'), where BigQuery's lax rule says NULL
                s"try_cast(round(try_cast($unq AS DOUBLE)) AS BIGINT))"
          }
          Some(s"(CASE WHEN $guard THEN NULL ELSE $body END)")
        // the STRICT typed accessors (BOOL/INT64/FLOAT64/STRING over
        // JSON) → jsonmut natives: RAISE on a type mismatch, the
        // SAFE.-prefixed spellings yield NULL. FLOAT64's optional
        // second argument is wide_number_mode => 'exact'|'round'
        // (default 'exact' — BigQuery's). Note BigQuery's separate
        // STRING(timestamp[, tz]) formatter is NOT mapped — a
        // timestamp argument fails typed (use FORMAT_TIMESTAMP)
        case "BOOL" | "INT64" | "STRING" | "SAFE_BOOL" | "SAFE_INT64" | "SAFE_STRING" =>
          require(args.size == 1, s"${name.replaceFirst("SAFE_", "SAFE.")} takes one JSON argument")
          val safe = name.startsWith("SAFE_")
          val base = (if (safe) name.substring(5) else name).toLowerCase(java.util.Locale.ROOT)
          Some(s"graft_json_$base(CAST((${args(0)}) AS STRING), $safe)")
        case "FLOAT64" | "SAFE_FLOAT64" =>
          require(args.nonEmpty && args.size <= 2,
            s"${name.replaceFirst("SAFE_", "SAFE.")} takes (json[, wide_number_mode => 'exact'|'round'])")
          val safe = name.startsWith("SAFE_")
          val mode = if (args.size == 2) {
            val m = args(1).trim.replaceFirst("(?is)^wide_number_mode\\s*=>\\s*", "")
              .stripPrefix("'").stripSuffix("'").stripPrefix("\"").stripSuffix("\"")
              .toLowerCase(java.util.Locale.ROOT)
            require(m == "exact" || m == "round",
              s"$name wide_number_mode must be 'exact' or 'round', got ${args(1)}")
            m
          } else "exact"
          Some(s"graft_json_float64(CAST((${args(0)}) AS STRING), '$mode', $safe)")
        // JSON_KEYS(json[, max_depth][, mode => 'strict'|'lax'|'lax
        // recursive']) — sorted unique dotted key paths (see JsonKeys)
        case "JSON_KEYS" =>
          require(args.nonEmpty && args.size <= 3,
            "JSON_KEYS takes (json[, max_depth][, mode => '...'])")
          var depth = "-1"; var mode = "strict"
          args.drop(1).foreach { a =>
            val t = a.trim
            if (t.matches("(?is)^mode\\s*=>.*")) {
              mode = t.replaceFirst("(?is)^mode\\s*=>\\s*", "")
                .stripPrefix("'").stripSuffix("'").stripPrefix("\"").stripSuffix("\"")
                .toLowerCase(java.util.Locale.ROOT)
            } else {
              require(t.matches("-?\\d+"),
                s"JSON_KEYS max_depth must be an integer literal, got $t")
              depth = t
            }
          }
          Some(s"graft_json_keys(CAST((${args(0)}) AS STRING), $depth, '$mode')")
        // the scalar JSON path accessors, on Spark 4's VARIANT:
        //   JSON_QUERY / JSON_EXTRACT → JSON TEXT of the value
        //     (strings stay quoted, objects/arrays verbatim, JSON null
        //     → the text 'null', missing path / invalid JSON → NULL)
        //   JSON_VALUE / JSON_EXTRACT_SCALAR → the UNQUOTED scalar;
        //     objects/arrays and JSON null → NULL (BigQuery's rule —
        //     the object guard reads the JSON form, so a string value
        //     that merely STARTS with '{' survives)
        // path defaults to '$'; variant paths must be constant
        // (Spark's variant_get rule — BigQuery paths are literals in
        // practice, non-constant paths fail typed at analysis)
        // BQML's split-point bucketizer (TRANSFORM-clause preprocessing;
        // no window — the split points ARE the statistics): bin_1 below
        // the first ASCENDING split, bin_{k+1} at-or-above the k-th —
        // one codegen'd filter+size per row. BigQuery's array literal
        // spelling [a, b, c] converts; NULL features stay NULL
        case "ML.BUCKETIZE" =>
          require(args.size == 2,
            "ML.BUCKETIZE takes (feature, array_split_points) — the " +
              "exclude_boundaries form is not supported")
          val x = s"(${args(0)})"
          val raw = args(1).trim
          val arr = if (raw.startsWith("[") && raw.endsWith("]"))
            s"array(${raw.substring(1, raw.length - 1)})" else s"($raw)"
          Some(s"(CASE WHEN $x IS NULL THEN NULL ELSE " +
            s"concat('bin_', CAST(size(filter($arr, p -> $x >= p)) + 1 AS STRING)) END)")
        // the open-source FarmHash Fingerprint64 — BigQuery documents
        // exactly this algorithm, Guava ships the reference impl, so
        // values match BigQuery bit-for-bit (registry-routed like the
        // digests: the scanner must not re-match rewritten output)
        // BQML's n-gram generator over a token array: every n-gram for
        // n in [lo, hi] (BigQuery's range array [n] or [lo, hi]),
        // joined by `sep` — a pure per-row HOF pipeline (the B47
        // shape: elements never leave the row, no Generate). The
        // token-array argument is textually duplicated into the
        // lambdas — pass a COLUMN, not a heavy subtree (the repo's
        // staged-projection HOF discipline)
        case "ML.NGRAMS" =>
          require(args.size == 2 || args.size == 3,
            "ML.NGRAMS takes (token_array, [n] | [lo, hi] [, separator])")
          val x = s"(${args(0)})"
          val raw = args(1).trim
          val rng = if (raw.startsWith("[") && raw.endsWith("]"))
            s"array(${raw.substring(1, raw.length - 1)})" else s"($raw)"
          val sep = if (args.size == 3) s"(${args(2)})" else "' '"
          Some(s"flatten(transform(sequence(element_at($rng, 1), " +
            s"element_at($rng, size($rng))), n -> " +
            s"CASE WHEN size($x) >= n THEN transform(sequence(1, size($x) - n + 1), " +
            s"i -> array_join(slice($x, i, n), $sep)) " +
            s"ELSE slice(array(''), 1, 0) END))")
        case "FARM_FINGERPRINT" =>
          require(args.size == 1, "FARM_FINGERPRINT takes (string_or_bytes)")
          Some(s"graft_farm_fingerprint((${args(0)}))")
        // BQML's combinational TRANSFORM preprocessors (round 13) —
        // both expand at REWRITE time into plain named_struct text,
        // so the output is ordinary codegen'd scalar arithmetic. The
        // STRUCT argument must list BARE COLUMN names (the expansion
        // needs field names; expressions are loud — alias them in a
        // projection first). Pinned shapes: FEATURE_CROSS crosses
        // every size-2..degree combination, field names joined with
        // `_X_` and values concat'd with '_' (NULL propagates);
        // POLYNOMIAL_EXPAND emits every monomial of total degree
        // 1..degree WITH repetition (x, y, x_x, x_y, y_y at 2), names
        // joined with '_', combinations in input order, degree-major.
        case "ML.FEATURE_CROSS" | "ML.POLYNOMIAL_EXPAND" =>
          require(args.size == 1 || args.size == 2,
            s"$name takes (STRUCT(col, ...) [, degree])")
          val StructRe = """(?is)^STRUCT\s*\((.*)\)$""".r
          val fields = args(0).trim match {
            case StructRe(inner) =>
              val fs = inner.split(",").map(_.trim)
              fs.foreach(f => require(f.matches("[A-Za-z_][A-Za-z0-9_]*"),
                s"$name STRUCT fields must be bare column names " +
                  s"(alias expressions in a projection first), got: $f"))
              fs.toSeq
            case other => throw new IllegalArgumentException(
              s"$name takes STRUCT(col, ...), got: $other")
          }
          require(fields.size >= 2, s"$name needs at least two features")
          val degree = args.lift(1).map(_.trim.toInt).getOrElse(2)
          require(degree >= 2 && degree <= 4,
            s"$name degree must be in [2, 4], got $degree")
          if (name == "ML.FEATURE_CROSS") {
            // all size-k combinations (no repetition), k = 2..degree
            def combos(k: Int): Seq[Seq[String]] =
              fields.indices.combinations(k).map(_.map(fields)).toSeq
            val items = (2 to math.min(degree, fields.size)).flatMap(combos).map { c =>
              s"'${c.mkString("_X_")}', concat(${c.map(f => s"CAST($f AS STRING)").mkString(", '_', ")})"
            }
            Some(s"named_struct(${items.mkString(", ")})")
          } else {
            // monomials of total degree 1..degree, with repetition
            def monos(k: Int): Seq[Seq[String]] =
              if (k == 1) fields.map(Seq(_))
              else monos(k - 1).flatMap { m =>
                val from = fields.indexOf(m.last)
                fields.drop(from).map(f => m :+ f)
              }
            val items = (1 to degree).flatMap(monos).map { m =>
              s"'${m.mkString("_")}', (${m.map(f => s"CAST($f AS DOUBLE)").mkString(" * ")})"
            }
            Some(s"named_struct(${items.mkString(", ")})")
          }
        // BQML's hash bucketizer: the PINNED assignment is
        // pmod(fingerprint, n) — a stable bucket in [0, n) (feature
        // hashing wants STABILITY; the exact BigQuery bucket ids are
        // not contractual here, stated)
        case "ML.HASH_BUCKETIZE" =>
          require(args.size == 2, "ML.HASH_BUCKETIZE takes (feature, num_buckets)")
          Some(s"pmod(graft_farm_fingerprint(CAST((${args(0)}) AS STRING)), (${args(1)}))")
        case "JSON_QUERY" | "JSON_EXTRACT" | "JSON_VALUE" | "JSON_EXTRACT_SCALAR" =>
          require(args.nonEmpty && args.size <= 2, s"$name takes (json [, path])")
          val path = if (args.size == 2) s"(${args(1)})" else "'$'"
          val v = s"try_parse_json(CAST((${args(0)}) AS STRING))"
          if (name == "JSON_QUERY" || name == "JSON_EXTRACT")
            Some(s"to_json(try_variant_get($v, $path))")
          else
            Some(s"(CASE WHEN left(to_json(try_variant_get($v, $path)), 1) IN ('{', '[') " +
              s"THEN NULL ELSE try_variant_get($v, $path, 'string') END)")
        // the JSON MUTATOR family → native jsonmut expressions; the
        // multi-pair spellings nest one call per (path, value) pair.
        // BigQuery named arguments (append_each_element,
        // include_arrays, remove_empty) are loud — defaults only
        case "JSON_SET" | "JSON_INSERT" | "JSON_REPLACE" | "JSON_ARRAY_APPEND" |
             "JSON_ARRAY_INSERT" =>
          require(args.size >= 3 && args.size % 2 == 1,
            s"$name takes (json, path, value[, path, value]...)")
          require(!args.exists(_.contains("=>")),
            s"$name named arguments are not supported — positional (path, value) pairs only")
          val fn = "graft_" + name.toLowerCase(java.util.Locale.ROOT)
          Some(args.drop(1).grouped(2).foldLeft(s"CAST((${args(0)}) AS STRING)") {
            case (acc, Seq(p, v)) => s"$fn($acc, ${p.trim}, ($v))"
            case (acc, _) => acc
          })
        case "JSON_REMOVE" =>
          require(args.size >= 2, s"$name takes (json, path[, path]...)")
          Some(args.drop(1).foldLeft(s"CAST((${args(0)}) AS STRING)") {
            (acc, p) => s"graft_json_remove($acc, ${p.trim})"
          })
        case "JSON_STRIP_NULLS" =>
          require(args.size == 1 && !args.head.contains("=>"),
            s"$name named arguments (include_arrays/remove_empty) are not supported — defaults only")
          Some(s"graft_json_strip_nulls(CAST((${args(0)}) AS STRING))")
        case "JSON_TYPE" =>
          require(args.size == 1, "JSON_TYPE takes one JSON argument")
          Some(s"graft_json_type(CAST((${args(0)}) AS STRING))")
        // JSON constructors → jsonmut natives; BigQuery's TO_JSON is
        // TO_JSON_STRING here (no JSON type — string-carried)
        case "JSON_OBJECT" =>
          require(args.forall(a => !a.contains("=>")),
            s"$name named arguments are not supported")
          val items = args.filter(_.nonEmpty)
          require(items.size % 2 == 0,
            s"$name takes alternating (key, value) arguments, got ${items.size}")
          Some(s"graft_json_object(${items.map(a => s"($a)").mkString(", ")})")
        case "JSON_ARRAY" =>
          val items = args.filter(_.nonEmpty)
          Some(s"graft_json_array(${items.map(a => s"($a)").mkString(", ")})")
        case "PARSE_JSON" | "SAFE_PARSE_JSON" =>
          require(args.size == 1 && !args.head.contains("=>"),
            s"$name takes one argument (wide_number_mode is not supported)")
          val fn = if (name == "PARSE_JSON") "graft_parse_json" else "graft_try_parse_json"
          Some(s"$fn(CAST((${args(0)}) AS STRING))")
        case "TO_JSON" =>
          require(args.size == 1 && !args.head.contains("=>"),
            "TO_JSON takes one argument (stringify_wide_numbers is not supported)")
          Some(s"to_json((${args(0)}))")
        case "ARRAY_FIRST" =>
          require(args.size == 1, "ARRAY_FIRST takes one array")
          Some(s"(${args(0)})[0]")
        case "ARRAY_LAST" =>
          require(args.size == 1, "ARRAY_LAST takes one array")
          Some(s"element_at((${args(0)}), -1)")
        // the BARE-KEYWORD form argument (NORMALIZE(x, NFKC)) cannot
        // survive analysis as an attribute — quote it to the string
        // literal the registry function accepts; all other shapes
        // (1-arg, already-quoted) resolve natively
        case "NORMALIZE" | "NORMALIZE_AND_CASEFOLD" =>
          if (args.size == 2 && args(1).trim.matches("(?i)NFK?[CD]"))
            Some(s"${name.toLowerCase(java.util.Locale.ROOT)}((${args(0)}), " +
              s"'${args(1).trim.toUpperCase(java.util.Locale.ROOT)}')")
          else None
        // BigQuery CONTAINS_SUBSTR: NFKC-normalized case-insensitive
        // containment over strings (the JSON/struct recursion and
        // json_scope are not supported — strings only, typed failure
        // otherwise)
        case "CONTAINS_SUBSTR" =>
          require(args.size == 2, "CONTAINS_SUBSTR takes (expr, substr)")
          Some(s"(instr(normalize_and_casefold((${args(0)}), 'NFKC'), " +
            s"normalize_and_casefold((${args(1)}), 'NFKC')) > 0)")
        // BigQuery ML.DISTANCE(v1, v2, 'COSINE'|'EUCLIDEAN') → the
        // registry-routed native distance functions (B40)
        case "ML.DISTANCE" =>
          require(args.size == 3,
            "ML.DISTANCE takes (vector1, vector2, 'COSINE'|'EUCLIDEAN')")
          val metric = args(2).trim.toUpperCase(java.util.Locale.ROOT)
          metric match {
            case "'COSINE'" => Some(s"cosine_distance((${args(0)}), (${args(1)}))")
            case "'EUCLIDEAN'" => Some(s"euclidean_distance((${args(0)}), (${args(1)}))")
            case other => throw new IllegalArgumentException(
              s"ML.DISTANCE metric $other is not supported (COSINE, EUCLIDEAN; " +
                "DOT_PRODUCT's sign convention is engine-specific — spell the " +
                "fold explicitly)")
          }
        // BigQuery's HLL_COUNT sketch family → Spark's DataSketches
        // HLL natives — the MERGEABLE distinct-count pattern (the
        // 100 TB idiom: INIT partial sketches per shard/day once,
        // re-aggregate by MERGE forever; never a re-scan). Precision:
        // BigQuery takes 10..24 (default 15), Spark's lgConfigK stops
        // at 21 — same log2-buckets meaning, mapped through, loud
        // above 21. The sketch BYTES are engine-specific
        // (DataSketches, not BigQuery's wire format) — INIT output
        // feeds this engine's MERGE/EXTRACT, not a BigQuery export.
        case "HLL_COUNT.INIT" =>
          require(args.size == 1 || args.size == 2,
            "HLL_COUNT.INIT takes (expr [, precision])")
          args.lift(1) match {
            case None => Some(s"hll_sketch_agg((${args(0)}))")
            case Some(p) =>
              require(p.matches("\\d+") && p.toInt >= 10 && p.toInt <= 21,
                s"HLL_COUNT.INIT precision must be an integer literal in 10..21 " +
                  s"(BigQuery allows up to 24; this engine's sketches stop at 21), got $p")
              Some(s"hll_sketch_agg((${args(0)}), $p)")
          }
        case "HLL_COUNT.MERGE" =>
          require(args.size == 1, "HLL_COUNT.MERGE takes (sketch)")
          Some(s"hll_sketch_estimate(hll_union_agg((${args(0)})))")
        case "HLL_COUNT.MERGE_PARTIAL" =>
          require(args.size == 1, "HLL_COUNT.MERGE_PARTIAL takes (sketch)")
          Some(s"hll_union_agg((${args(0)}))")
        case "HLL_COUNT.EXTRACT" =>
          require(args.size == 1, "HLL_COUNT.EXTRACT takes (sketch)")
          Some(s"hll_sketch_estimate((${args(0)}))")
        // BigQuery RANGE_BUCKET(point, boundaries) = the count of
        // boundaries <= point (0 below the first, len past the last —
        // the half-open [b_i, b_i+1) rule): a fixed-size array fold,
        // so the bare `[...]` array literal is mapped to array(...)
        // and a NULL point returns NULL (the point text is duplicated
        // into the guard — the SAFE_OFFSET discipline, stated)
        case "RANGE_BUCKET" =>
          require(args.size == 2, "RANGE_BUCKET takes (point, boundaries_array)")
          val arr0 = args(1)
          val arr = if (arr0.startsWith("[") && arr0.endsWith("]"))
            s"array(${arr0.substring(1, arr0.length - 1)})" else s"(${arr0})"
          Some(s"(CASE WHEN (${args(0)}) IS NULL THEN CAST(NULL AS BIGINT) " +
            s"ELSE CAST(size(filter($arr, __rb -> __rb <= (${args(0)}))) AS BIGINT) END)")
        // BigQuery's hash/encoding family — the fingerprint idiom
        // (TO_HEX(MD5(x)) dedup keys, base64 payloads). BigQuery's
        // digests return BYTES where Spark's return hex STRINGS, so
        // the digests unhex their way back to bytes (BigQuery
        // semantics win at this entry point, the SPLIT precedent);
        // MD5/SHA1 route through registry functions because a textual
        // unhex(md5(...)) would re-match its own self-named inner
        // call on the next fixpoint pass; TO_HEX is lowercase
        // (Spark's hex() is upper); FROM_HEX left-pads odd-length
        // input with '0' (BigQuery's rule — Spark's unhex NULLs it).
        case "MD5" =>
          require(args.size == 1, "MD5 takes (input)")
          Some(s"graft_md5_bytes((${args(0)}))")
        case "SHA1" =>
          require(args.size == 1, "SHA1 takes (input)")
          Some(s"graft_sha1_bytes((${args(0)}))")
        case "SHA256" =>
          require(args.size == 1, "SHA256 takes (input)")
          Some(s"unhex(sha2((${args(0)}), 256))")
        case "SHA512" =>
          require(args.size == 1, "SHA512 takes (input)")
          Some(s"unhex(sha2((${args(0)}), 512))")
        case "TO_HEX" =>
          require(args.size == 1, "TO_HEX takes (bytes)")
          Some(s"lower(hex((${args(0)})))")
        case "FROM_HEX" =>
          require(args.size == 1, "FROM_HEX takes (hex_string)")
          val a = args(0)
          Some(s"unhex(CASE WHEN length(($a)) % 2 = 1 THEN concat('0', ($a)) ELSE ($a) END)")
        case "TO_BASE64" =>
          require(args.size == 1, "TO_BASE64 takes (bytes)")
          Some(s"base64((${args(0)}))")
        case "FROM_BASE64" =>
          require(args.size == 1, "FROM_BASE64 takes (string)")
          Some(s"unbase64((${args(0)}))")
        // BigQuery GREATEST/LEAST are NULL-PROPAGATING (one NULL arg
        // → NULL) where Spark's ignore NULLs — a silent result change
        // for any migrated expression over nullable columns, so the
        // BigQuery semantics win at this entry point (the SPLIT/MD5
        // precedent). The ELSE branch folds through array_max/
        // array_min rather than greatest/least — a self-named inner
        // call would re-match on the rewrite loop's next pass (the
        // MD5 lesson); argument text duplicates into the null guard
        // (the SAFE_OFFSET discipline, stated).
        case "GREATEST" | "LEAST" =>
          require(args.nonEmpty, s"$name takes at least one argument")
          val anyNull = args.map(a => s"($a) IS NULL").mkString(" OR ")
          val fold = if (name == "GREATEST") "array_max" else "array_min"
          Some(s"(CASE WHEN $anyNull THEN NULL ELSE " +
            s"$fold(array(${args.map(a => s"($a)").mkString(", ")})) END)")
        // BigQuery DIV = integer division truncating toward zero —
        // Spark's IntegralDivide exactly, via the registry (emitting
        // the bare `div` operator would re-match this very rewrite)
        case "DIV" =>
          require(args.size == 2, "DIV takes (dividend, divisor)")
          Some(s"graft_integral_div((${args(0)}), (${args(1)}))")
        // IEEE_DIVIDE: double division with IEEE Infinity/NaN instead
        // of errors/NULLs — under Spark 4's default ANSI mode even
        // double `/` throws on a zero divisor, so the registry routes
        // to a legacy-mode Divide (true IEEE-754 semantics)
        case "IEEE_DIVIDE" =>
          require(args.size == 2, "IEEE_DIVIDE takes (x, y)")
          Some(s"graft_ieee_divide((${args(0)}), (${args(1)}))")
        // EXTRACT is native EXCEPT for the week parts: BigQuery WEEK
        // is Sunday-start 0-based (dates before the year's first
        // Sunday are week 0), Spark's WEEK is ISO — silently
        // different numbers most of the year. WEEK and the
        // WEEK(<WEEKDAY>) variants therefore REWRITE to BigQuery's
        // boundary-count arithmetic (week = 0 before the year's first
        // <WEEKDAY>, else 1 + full weeks since it), ISOWEEK maps to
        // Spark's ISO weekofyear, and every other part passes through
        // untouched (DAYOFWEEK already agrees: Sunday=1 in both).
        case "EXTRACT" =>
          require(args.size == 1, "EXTRACT takes (part FROM expr)")
          val a = args(0)
          val WeekRe = """(?is)^\s*WEEK\s*(?:\(\s*([A-Za-z]+)\s*\))?\s+FROM\s+(.*)$""".r
          val IsoRe = """(?is)^\s*ISOWEEK\s+FROM\s+(.*)$""".r
          val TimeRe = """(?is)^\s*TIME\s+FROM\s+(.*)$""".r
          val DatePartRe = """(?is)^\s*DATE\s+FROM\s+(.*)$""".r
          val DatetimePartRe = """(?is)^\s*DATETIME\s+FROM\s+(.*)$""".r
          // BigQuery's localized extraction: EXTRACT(part FROM ts AT
          // TIME ZONE 'zone') — peel the zone onto the B72 rendering
          // pair and re-emit; the next fixpoint pass handles the part
          val AtTzRe =
            """(?is)^\s*([A-Za-z_]+(?:\s*\([^)]*\))?)\s+FROM\s+(.*\S)\s+AT\s+TIME\s+ZONE\s+('(?:[^']|'')*')\s*$""".r
          a match {
            case AtTzRe(part, expr, tz) =>
              Some(s"EXTRACT($part FROM from_utc_timestamp(($expr), $tz))")
            // EXTRACT(TIME FROM ts) → the NTZ-carried TIME (see the
            // TIME case below); DATE/DATETIME parts are BigQuery-only
            // spellings Spark's extract lacks — plain casts
            case TimeRe(expr) =>
              Some(s"CAST(concat('1970-01-01 ', date_format(($expr), 'HH:mm:ss.SSSSSS')) AS TIMESTAMP_NTZ)")
            case DatePartRe(expr) => Some(s"CAST(($expr) AS DATE)")
            case DatetimePartRe(expr) => Some(s"CAST(($expr) AS TIMESTAMP_NTZ)")
            case WeekRe(wd, expr) =>
              // Spark dayofweek: Sunday=1 .. Saturday=7 (the shared map)
              val dayName = Option(wd).map(_.toUpperCase(java.util.Locale.ROOT))
                .getOrElse("SUNDAY")
              val dw = WeekdayIdx.getOrElse(dayName, throw new IllegalArgumentException(
                s"EXTRACT(WEEK($dayName) ...): unknown weekday (SUNDAY..SATURDAY)"))
              val d = s"CAST(($expr) AS DATE)"
              val jan1 = s"make_date(year($d), 1, 1)"
              val first = s"date_add($jan1, pmod($dw - dayofweek($jan1), 7))"
              Some(s"(CASE WHEN $d < $first THEN 0 " +
                s"ELSE CAST(floor(datediff($d, $first) / 7) AS INT) + 1 END)")
            // weekofyear, not extract(WEEK ...): an emitted EXTRACT
            // would re-match this rewrite on the next fixpoint pass
            // (the MD5 lesson)
            case IsoRe(expr) => Some(s"weekofyear($expr)")
            case _ => None
          }
        // BigQuery's NET family, the URL-curation SQL spellings:
        // NET.HOST is a best-effort RFC-3986 host extraction
        // (optional scheme or //, userinfo and port stripped,
        // lowercased — the U1 normalize convention); the registrable-
        // domain pair needs the public-suffix list, a versioned
        // external artifact this engine deliberately does not embed
        // (Url.domainOf's stated trade) — loud with the route.
        case "NET.HOST" =>
          require(args.size == 1, "NET.HOST takes (url)")
          val u = s"(${args(0)})"
          Some(s"nullif(lower(regexp_extract(trim($u), " +
            "'^(?:[a-zA-Z][a-zA-Z0-9+.-]*://|//)?(?:[^/@?#]*@)?([^/:?#]*)', 1)), '')")
        // NET.REG_DOMAIN / NET.PUBLIC_SUFFIX: the NET.HOST extraction
        // feeding the PSL resolver (functions/PublicSuffix.scala — a
        // documented snapshot SUBSET of publicsuffix.org; BigQuery
        // pins its own server-side list version the same way)
        case "NET.REG_DOMAIN" | "NET.PUBLIC_SUFFIX" =>
          require(args.size == 1, s"$name takes (url)")
          val u = s"(${args(0)})"
          val host = s"nullif(lower(regexp_extract(trim($u), " +
            "'^(?:[a-zA-Z][a-zA-Z0-9+.-]*://|//)?(?:[^/@?#]*@)?([^/:?#]*)', 1)), '')"
          val fn = if (name == "NET.REG_DOMAIN") "graft_reg_domain" else "graft_public_suffix"
          Some(s"$fn($host)")
        // BigQuery MAKE_INTERVAL([year][, month][, day][, hour]
        // [, minute][, second]) — positional OR named (`day => 2`),
        // never mixed — onto Spark's make_interval (whose extra
        // `weeks` slot pins to 0). The result is a CalendarInterval:
        // BigQuery's exact three-part model, with EXTRACT, timestamp
        // arithmetic and interval addition already Spark-native.
        // Spark's own 7-arg spelling (with the weeks slot) — also what
        // this rewrite itself emits — passes through untouched, so the
        // fixpoint pass never re-matches its own output (the SPLIT
        // 3-arg discipline)
        case "MAKE_INTERVAL" if args.size == 7 => None
        case "MAKE_INTERVAL" =>
          require(args.size <= 6,
            "MAKE_INTERVAL takes at most (year, month, day, hour, minute, second)")
          val slots = Seq("year", "month", "day", "hour", "minute", "second")
          val named = args.filter(_.contains("=>"))
          require(named.isEmpty || named.size == args.size,
            "MAKE_INTERVAL: don't mix named (part => value) and positional arguments")
          val byName: Seq[String] =
            if (named.isEmpty) slots.indices.map(i => if (i < args.size) s"(${args(i)})" else "0")
            else {
              val m = named.map { a =>
                val arrow = a.indexOf("=>")
                val k = a.substring(0, arrow).trim.toLowerCase(java.util.Locale.ROOT)
                require(slots.contains(k),
                  s"MAKE_INTERVAL: unknown part '$k' (year, month, day, hour, minute, second)")
                k -> s"(${a.substring(arrow + 2).trim})"
              }.toMap
              require(m.size == named.size, "MAKE_INTERVAL: duplicate named part")
              slots.map(k => m.getOrElse(k, "0"))
            }
          Some(s"make_interval(${byName(0)}, ${byName(1)}, 0, ${byName(2)}, " +
            s"${byName(3)}, ${byName(4)}, ${byName(5)})")
        case "JUSTIFY_DAYS" =>
          require(args.size == 1, "JUSTIFY_DAYS takes (interval)")
          Some(s"graft_justify_days((${args(0)}))")
        case "JUSTIFY_HOURS" =>
          require(args.size == 1, "JUSTIFY_HOURS takes (interval)")
          Some(s"graft_justify_hours((${args(0)}))")
        case "JUSTIFY_INTERVAL" =>
          require(args.size == 1, "JUSTIFY_INTERVAL takes (interval)")
          Some(s"graft_justify_interval((${args(0)}))")
        // BigQuery REGEXP_REPLACE writes backreferences re2-style —
        // `\1` in the (parsed) replacement — where Java's replaceAll
        // wants `$1` and treats `\1` as an ESCAPED LITERAL '1', and
        // conversely BigQuery's literal `$` is Java's group-ref
        // opener. A plain rename silently corrupts both directions
        // (the LOG/CHR divergence class). For a LITERAL replacement
        // the mapping is exact and runs in three explicit layers:
        // UNESCAPE the SQL literal the way Spark's lexer will,
        // transform the PARSED replacement (`\N` → `$N`, `\\` stays a
        // Java-escaped literal backslash, `\x` stays an escape-
        // literal, `$` → `\$`), then RE-ESCAPE back into SQL-literal
        // text. A non-literal replacement passes through under Java
        // semantics — stated.
        // Spark's own 4-arg regexp_replace(str, pattern, rep, position)
        // is not a BigQuery spelling — pass it through untouched under
        // Java semantics (the MAKE_INTERVAL/SPLIT arity discipline)
        case "REGEXP_REPLACE" if args.size == 4 => None
        case "REGEXP_REPLACE" =>
          require(args.size == 3, "REGEXP_REPLACE takes (value, regexp, replacement)")
          val rep = args(2).trim
          if (!(rep.length >= 2 && rep.head == '\'' && rep.last == '\'')) None
          else {
            val parsed = unescapeLiteral(rep.substring(1, rep.length - 1))
            val java = new StringBuilder
            var i2 = 0
            while (i2 < parsed.length) {
              val c2 = parsed.charAt(i2)
              if (c2 == '\\' && i2 + 1 < parsed.length) {
                val n2 = parsed.charAt(i2 + 1)
                if (Character.isDigit(n2)) { java += '$'; java += n2 }
                else { java += '\\'; java += n2 } // Java escape-literal
                i2 += 2
              } else if (c2 == '$') { java ++= "\\$"; i2 += 1 }
              else { java += c2; i2 += 1 }
            }
            // registry-routed: a plain lowercase spelling would
            // re-match this case on the next fixpoint pass and
            // $-escape its own output
            Some(s"graft_regexp_replace((${args(0)}), ${args(1)}, " +
              s"'${escapeLiteral(java.toString)}')")
          }
        // BigQuery REGEXP_EXTRACT_ALL(v, re): a group-free regex
        // returns FULL matches (Spark's default group index 1 would
        // raise); exactly one group matches Spark's default; two or
        // more is a BigQuery ERROR — kept loud. Only a literal regex
        // can be counted (unescaped first — a raw `\\(` is a REGEX
        // LITERAL paren, not a group); Spark's own 3-arg form passes
        // through.
        case "REGEXP_EXTRACT_ALL" if args.size == 3 => None
        case "REGEXP_EXTRACT_ALL" =>
          require(args.size == 2, "REGEXP_EXTRACT_ALL takes (value, regexp)")
          val re = args(1).trim
          if (!(re.length >= 2 && re.head == '\'' && re.last == '\'')) None
          else {
            val parsed = unescapeLiteral(re.substring(1, re.length - 1))
            // named groups ARE capturing in both re2 and Java: count
            // (?<name>...); reject re2's (?P<name>...) loudly (Java's
            // regex engine cannot run it at all). Lookbehinds (?<= and
            // (?<! stay non-capturing.
            require(!parsed.contains("(?P<"),
              "REGEXP_EXTRACT_ALL: (?P<name>...) is re2-only syntax Java regex " +
                "rejects — respell as (?<name>...)")
            var groups = 0; var i2 = 0; var inClass = false
            while (i2 < parsed.length) {
              val c2 = parsed.charAt(i2)
              if (c2 == '\\') i2 += 2
              else if (inClass) { if (c2 == ']') inClass = false; i2 += 1 }
              else if (c2 == '[') { inClass = true; i2 += 1 }
              else {
                if (c2 == '(') {
                  val isPlain = i2 + 1 >= parsed.length || parsed.charAt(i2 + 1) != '?'
                  val isNamed = i2 + 2 < parsed.length && parsed.charAt(i2 + 1) == '?' &&
                    parsed.charAt(i2 + 2) == '<' &&
                    (i2 + 3 >= parsed.length ||
                      (parsed.charAt(i2 + 3) != '=' && parsed.charAt(i2 + 3) != '!'))
                  if (isPlain || isNamed) groups += 1
                }
                i2 += 1
              }
            }
            require(groups <= 1,
              s"REGEXP_EXTRACT_ALL: regex has $groups capturing groups — BigQuery " +
                "allows at most one (wrap extras as (?:...))")
            if (groups == 1) None // Spark's default group index 1 IS BigQuery's rule
            else Some(s"regexp_extract_all((${args(0)}), ${args(1)}, 0)")
          }
        // BigQuery's decimal parsers: whitespace/exponent-tolerant
        // string -> NUMERIC, rounding half away from zero — exactly
        // Spark's string->DECIMAL cast (HALF_UP, trims, reads
        // scientific notation; ANSI raises on junk where BigQuery
        // does too). The type widths follow the mapBqTypes contract:
        // NUMERIC = DECIMAL(38,9); BIGNUMERIC narrows to
        // DECIMAL(38,18) (Spark's 38-digit ceiling — the stated
        // type-map narrowing, applied consistently here).
        case "PARSE_NUMERIC" =>
          require(args.size == 1, "PARSE_NUMERIC takes (string)")
          Some(s"CAST((${args(0)}) AS DECIMAL(38,9))")
        case "PARSE_BIGNUMERIC" =>
          require(args.size == 1, "PARSE_BIGNUMERIC takes (string)")
          Some(s"CAST((${args(0)}) AS DECIMAL(38,18))")
        case "SAFE_PARSE_NUMERIC" =>
          require(args.size == 1, "SAFE.PARSE_NUMERIC takes (string)")
          Some(s"TRY_CAST((${args(0)}) AS DECIMAL(38,9))")
        case "SAFE_PARSE_BIGNUMERIC" =>
          require(args.size == 1, "SAFE.PARSE_BIGNUMERIC takes (string)")
          Some(s"TRY_CAST((${args(0)}) AS DECIMAL(38,18))")
        // GEOGRAPHY point core (round 14): the carrier is
        // STRUCT<lng DOUBLE, lat DOUBLE> — a parquet-native, codegen-
        // friendly shape (no geometry blob, no UDT). ST_DISTANCE is
        // the great-circle haversine on BigQuery's documented
        // spherical model (R = 6371010 m); the whole formula is a
        // TEXTUAL fold onto Spark's native radians/sin/cos/asin/sqrt
        // so it stays inside whole-stage codegen, and DuckDB replays
        // the identical text for the oracle (libm-vs-Math ulps are
        // ~1e-9 m at Earth scale — integer-meter grouping keys absorb
        // them). Latitude outside ±90 is a runtime raise, matching
        // BigQuery; longitude passes through (BigQuery wraps it on
        // the sphere — sin/cos are periodic, so the math agrees).
        // Non-point geography (lines, polygons, predicates, WKT) is
        // loud below.
        // BigQuery ARRAY_SLICE(arr, start_offset, end_offset): ZERO-based
        // INCLUSIVE offsets, negatives counting from the end, out-of-range
        // clamping, NULL in → NULL out — normalized onto Spark's 1-based
        // (start, length) slice
        case "ARRAY_SLICE" =>
          require(args.size == 3, "ARRAY_SLICE takes (array, start_offset, end_offset)")
          val (a, s0, e0) = (args(0), args(1), args(2))
          val sz = s"size(($a))"
          val sN = s"greatest(CASE WHEN ($s0) < 0 THEN $sz + ($s0) ELSE ($s0) END, 0)"
          val eN = s"least(CASE WHEN ($e0) < 0 THEN $sz + ($e0) ELSE ($e0) END, $sz - 1)"
          Some(s"(CASE WHEN ($a) IS NULL OR ($s0) IS NULL OR ($e0) IS NULL THEN NULL " +
            s"ELSE slice(($a), ($sN) + 1, greatest(($eN) - ($sN) + 1, 0)) END)")
        // IEEE special-value predicates (round 14): Spark's isnan(NULL)
        // is FALSE where BigQuery returns NULL — the CASE restores the
        // three-valued rule; IS_INF via the abs-equality (NULL → NULL,
        // NaN → false, both BigQuery's table)
        case "IS_NAN" =>
          require(args.size == 1, "IS_NAN takes (x)")
          Some(s"(CASE WHEN (${args(0)}) IS NULL THEN CAST(NULL AS BOOLEAN) " +
            s"ELSE isnan((${args(0)})) END)")
        case "IS_INF" =>
          require(args.size == 1, "IS_INF takes (x)")
          Some(s"(abs(CAST((${args(0)}) AS DOUBLE)) = CAST('Infinity' AS DOUBLE))")
        case "ST_GEOGPOINT" =>
          require(args.size == 2, "ST_GEOGPOINT takes (longitude, latitude)")
          Some(s"named_struct('lng', CAST((${args(0)}) AS DOUBLE), " +
            s"'lat', CASE WHEN abs(CAST((${args(1)}) AS DOUBLE)) > 90.0D " +
            "THEN CAST(raise_error('ST_GEOGPOINT: latitude must be in [-90, 90]') AS DOUBLE) " +
            s"ELSE CAST((${args(1)}) AS DOUBLE) END)")
        case "ST_X" =>
          require(args.size == 1, "ST_X takes (point)")
          Some(s"(${args(0)}).lng")
        case "ST_Y" =>
          require(args.size == 1, "ST_Y takes (point)")
          Some(s"(${args(0)}).lat")
        case "ST_DISTANCE" =>
          require(args.size == 2, "ST_DISTANCE takes (point, point) — the " +
            "use_spheroid argument is not supported (the spherical model only)")
          Some(stHaversine(args(0), args(1)))
        case "ST_DWITHIN" =>
          require(args.size == 3, "ST_DWITHIN takes (point, point, meters)")
          Some(s"(${stHaversine(args(0), args(1))} <= CAST((${args(2)}) AS DOUBLE))")
        case "ST_GEOHASH" =>
          require(args.size == 1 || args.size == 2, "ST_GEOHASH takes (point[, maxchars])")
          val n = if (args.size == 2) {
            val t = args(1).trim
            require(t.matches("""\d+"""), s"ST_GEOHASH maxchars must be a literal integer, got $t")
            t
          } else "12"
          Some(s"graft_st_geohash((${args(0)}).lng, (${args(0)}).lat, $n)")
        // WKT I/O for the point carrier. GEOGFROMTEXT guards both
        // coordinates on the same RLIKE so whichever argument evaluates
        // first raises the typed message (non-POINT WKT is a runtime
        // raise — the shape is data); the emitted ST_GEOGPOINT rewrites
        // on the next fixpoint pass and brings the latitude check.
        // ASTEXT renders through CAST(double AS STRING): for
        // coordinate-range magnitudes (|v| in [1e-3, 1e7)) both Spark
        // and DuckDB print the same shortest plain-decimal form —
        // stated; scientific-notation thresholds differ outside it.
        case "ST_GEOGFROMTEXT" =>
          require(args.size == 1, "ST_GEOGFROMTEXT takes (wkt) — POINT only; " +
            "LINESTRING/POLYGON WKT parses through ST_LINEFROMTEXT / ST_POLYGONFROMTEXT " +
            "(the ARRAY carrier has a different SQL type, so the parse is type-directed)")
          Some(s"graft_st_pointfromtext((${args(0)}))")
        case "ST_ASTEXT" =>
          require(args.size == 1, "ST_ASTEXT takes (geography)")
          Some(s"graft_st_astext((${args(0)}))")
        case "ST_ASGEOJSON" =>
          require(args.size == 1, "ST_ASGEOJSON takes (geography)")
          Some(s"graft_st_asgeojson((${args(0)}))")
        // GeoJSON parse is POINT-only for the same value-dependent-
        // type reason as ST_GEOGFROMTEXT; validated + extracted with
        // native JSON path functions, so DuckDB replays the identical
        // accessor chain. Lines/rings parse through the WKT names.
        case "ST_GEOGFROMGEOJSON" =>
          require(args.size == 1, "ST_GEOGFROMGEOJSON takes (json) — POINT only; " +
            "LINESTRING/POLYGON parse through ST_LINEFROMTEXT / ST_POLYGONFROMTEXT")
          Some(s"graft_st_pointfromgeojson((${args(0)}))")
        case "ST_LINEFROMTEXT" =>
          require(args.size == 1, "ST_LINEFROMTEXT takes (wkt)")
          Some(s"graft_st_linefromtext((${args(0)}))")
        case "ST_POLYGONFROMTEXT" =>
          require(args.size == 1, "ST_POLYGONFROMTEXT takes (wkt) — single outer ring")
          Some(s"graft_st_polyfromtext((${args(0)}))")
        // non-point constructors and measures on the
        // ARRAY<STRUCT<lng, lat>> carrier (round 15). Type errors are
        // ANALYSIS-loud: applying a line measure to a point struct
        // fails to resolve rather than silently computing.
        case "ST_MAKELINE" =>
          require(args.nonEmpty,
            "ST_MAKELINE takes (point, point, ...) or (array_of_points) — " +
              "the linestring-concatenation form is not supported")
          // the single-argument form must already BE the array carrier:
          // a lone point struct passed through unchecked would claim a
          // line type and only fail later, confusingly, in whatever
          // measure consumes it. size() resolves only on arrays, so
          // misuse fails AT this rewrite, loudly, and the identity CASE
          // (both branches the argument) changes no value or nullness.
          if (args.size == 1)
            Some(s"(CASE WHEN size((${args(0)})) IS NOT NULL THEN (${args(0)}) " +
              s"ELSE (${args(0)}) END)")
          else Some(s"array(${args.map(a => s"($a)").mkString(", ")})")
        case "ST_MAKEPOLYGON" =>
          require(args.size == 1,
            "ST_MAKEPOLYGON takes (linestring) — holes are not supported")
          val l = args(0)
          Some(s"(CASE WHEN size(($l)) < 3 THEN CAST(raise_error(" +
            s"'ST_MAKEPOLYGON: the ring needs at least 3 vertices') AS " +
            s"ARRAY<STRUCT<lng: DOUBLE, lat: DOUBLE>>) " +
            s"WHEN element_at(($l), 1) = element_at(($l), size(($l))) THEN ($l) " +
            s"ELSE concat(($l), array(element_at(($l), 1))) END)")
        case "ST_NUMPOINTS" =>
          require(args.size == 1, "ST_NUMPOINTS takes (line or ring)")
          Some(s"size((${args(0)}))")
        case "ST_LENGTH" =>
          require(args.size == 1, "ST_LENGTH takes (linestring) — the " +
            "use_spheroid argument is not supported (the spherical model only)")
          Some(s"graft_st_segsum((${args(0)}))")
        case "ST_PERIMETER" =>
          require(args.size == 1, "ST_PERIMETER takes (polygon ring) — the " +
            "use_spheroid argument is not supported (the spherical model only)")
          Some(s"graft_st_segsum((${args(0)}))")
        case "ST_AREA" =>
          require(args.size == 1, "ST_AREA takes (polygon ring) — the " +
            "use_spheroid argument is not supported (the spherical model only)")
          Some(s"graft_st_area((${args(0)}))")
        case "ST_CONTAINS" =>
          require(args.size == 2, "ST_CONTAINS takes (polygon ring, point)")
          Some(s"graft_st_raycast((${args(0)}), (${args(1)}))")
        case "ST_INTERSECTS" =>
          require(args.size == 2, "ST_INTERSECTS takes (polygon ring, point) — " +
            "the interior even-odd test (boundary points follow the ray rule)")
          Some(s"graft_st_raycast((${args(0)}), (${args(1)}))")
        case "ST_WITHIN" =>
          require(args.size == 2, "ST_WITHIN takes (point, polygon ring)")
          Some(s"graft_st_raycast((${args(1)}), (${args(0)}))")
        case "ST_DISJOINT" =>
          require(args.size == 2, "ST_DISJOINT takes (polygon ring, point)")
          Some(s"(NOT graft_st_raycast((${args(0)}), (${args(1)})))")
        // boundary-INCLUSIVE predicates (BigQuery: COVERS = interior ∪
        // boundary; CONTAINS above excludes the boundary): the strict
        // even-odd ray cast OR'd with the exact on-segment test
        case "ST_COVERS" =>
          require(args.size == 2, "ST_COVERS takes (polygon ring, point)")
          Some(s"(graft_st_raycast((${args(0)}), (${args(1)})) OR graft_st_onboundary((${args(0)}), (${args(1)})))")
        case "ST_COVEREDBY" =>
          require(args.size == 2, "ST_COVEREDBY takes (point, polygon ring)")
          Some(s"(graft_st_raycast((${args(1)}), (${args(0)})) OR graft_st_onboundary((${args(1)}), (${args(0)})))")
        // a point TOUCHES a ring/line exactly when it lies ON the
        // boundary (interiors cannot intersect: a point's interior is
        // itself, and a boundary point is by definition not interior)
        case "ST_TOUCHES" =>
          require(args.size == 2, "ST_TOUCHES takes (polygon ring or line, point)")
          Some(s"graft_st_onboundary((${args(0)}), (${args(1)}))")
        // ST_EQUALS over this engine's carriers is VERTEX-SEQUENCE
        // equality (point = point coordinates; line/ring = same vertex
        // array) — stated: BigQuery's geometric equality also admits
        // rotated/reversed rings, which the one-array carrier does not
        // canonicalize
        case "ST_EQUALS" =>
          require(args.size == 2, "ST_EQUALS takes two geographies of the SAME " +
            "carrier (point/point or line/ring with identical vertex sequence)")
          Some(s"((${args(0)}) = (${args(1)}))")
        // ST_BOUNDINGBOX: exact min/max folds over the vertex array —
        // BigQuery's STRUCT<xmin, ymin, xmax, ymax> shape, replayable
        // as LEAST/GREATEST arithmetic
        case "ST_BOUNDINGBOX" =>
          require(args.size == 1, "ST_BOUNDINGBOX takes (line or ring)")
          Some(s"graft_st_bbox((${args(0)}))")
        // ST_CENTROID of a closed ring: the planar shoelace centroid
        // in lng/lat — one fold carrying (2·area, Σ(xᵢ+xᵢ₊₁)·crossᵢ,
        // Σ(yᵢ+yᵢ₊₁)·crossᵢ), finished by the /(3·2A) division. Pure
        // IEEE multiply/add/divide in a fixed order — the oracle
        // replays it bit-for-bit, no bucketing needed. BigQuery
        // computes the SPHERICAL surface centroid; the planar form
        // agrees to small-polygon tolerance (stated — same model line
        // as the ray cast). A degenerate zero-area ring divides by
        // zero → IEEE NaN/Inf, not an error (the shape is data).
        case "ST_CENTROID" =>
          require(args.size == 1, "ST_CENTROID takes (polygon ring) — the planar " +
            "shoelace centroid; point/line centroids are not supported")
          Some(s"graft_st_centroid((${args(0)}))")
        // ST_SNAPTOGRID over the vertex-array carriers: each
        // coordinate snaps to the nearest grid multiple via the
        // IEEE-exact floor(x/s + 0.5)·s fold (deterministic in any
        // IEEE engine — same discipline as the StGeohash quantizer;
        // ties at exact half-cells round up in both engines).
        case "ST_SNAPTOGRID" =>
          require(args.size == 2, "ST_SNAPTOGRID takes (line or ring, grid_size)")
          // the grid size must ride as DOUBLE: a bare 0.5 literal is
          // DECIMAL and would silently turn the carrier decimal-typed
          Some(s"graft_st_snaptogrid((${args(0)}), CAST((${args(1)}) AS DOUBLE))")
        // shape operators (round 16): the remaining loud names that
        // fit the carriers honestly. ST_BUFFER builds BigQuery's
        // default 32-gon (num_seg_quarter_circle = 8) around a point
        // via the spherical destination formula — sin/cos/asin/atan2,
        // the same libm family the point core already uses; the
        // closure vertex is i % 32 = 0, BIT-identical to the first.
        case "ST_BUFFER" =>
          require(args.size == 2, "ST_BUFFER takes (point, radius_meters) — " +
            "num_seg_quarter_circle is fixed at 8 (BigQuery's default: a 32-gon)")
          Some(s"graft_st_buffer((${args(0)}), CAST((${args(1)}) AS DOUBLE))")
        case "ST_SIMPLIFY" =>
          require(args.size == 2, "ST_SIMPLIFY takes (line or ring, tolerance_meters)")
          Some(s"graft_st_simplify((${args(0)}), CAST((${args(1)}) AS DOUBLE))")
        case "ST_CONVEXHULL" =>
          require(args.size == 1, "ST_CONVEXHULL takes (line or ring vertex carrier)")
          Some(s"graft_st_convexhull((${args(0)}))")
        case "ST_CLOSESTPOINT" =>
          require(args.size == 2, "ST_CLOSESTPOINT takes (line or ring, point)")
          Some(s"graft_st_closestpoint((${args(0)}), (${args(1)}))")
        // ST_DUMP on this engine's single-shape carriers is the
        // identity wrap: every carrier value IS one simple geography,
        // so the component array is [g] (BigQuery returns the simple
        // components; a simple input returns itself). The max_dimension
        // argument is not supported.
        case "ST_DUMP" =>
          require(args.size == 1, "ST_DUMP takes (geography) — " +
            "the max_dimension argument is not supported")
          Some(s"array((${args(0)}))")
        // ST_MAXDISTANCE over the vertex-array carriers: great-circle
        // distance to a geodesic segment is maximized at an ENDPOINT
        // (d(P, X(t)) is quasiconvex along a sub-half-circumference
        // geodesic), so the max over vertex pairs is EXACT — an
        // O(m·n) in-row fold. Point arguments are analysis-loud
        // (wrap them: ST_MAKELINE(p, p) is a 2-vertex carrier).
        case "ST_MAXDISTANCE" =>
          require(args.size == 2,
            "ST_MAXDISTANCE takes (line/ring, line/ring) — wrap a point as ST_MAKELINE(p, p)")
          Some(s"graft_st_maxdistance((${args(0)}), (${args(1)}))")
        // ── AEAD / KEYS column encryption (round 15): AES-GCM on the
        // JSON-carried keyset (aead.scala — see the carrier and wire
        // notes there). ENCRYPT is nondeterministic (fresh IV, like
        // BigQuery); DECRYPT raises on auth failure, the SAFE. forms
        // return NULL. The AES-SIV DETERMINISTIC_ family has no JDK
        // primitive and is loud.
        case "AEAD.ENCRYPT" =>
          require(args.size == 3, "AEAD.ENCRYPT takes (keyset, plaintext, additional_data)")
          Some(s"graft_aead_encrypt((${args(0)}), (${args(1)}), (${args(2)}))")
        case "AEAD.DECRYPT_STRING" | "AEAD.DECRYPT_BYTES" =>
          require(args.size == 3, s"$name takes (keyset, ciphertext, additional_data)")
          val f = if (name.endsWith("STRING")) "graft_aead_decrypt_string"
            else "graft_aead_decrypt_bytes"
          Some(s"$f((${args(0)}), (${args(1)}), (${args(2)}), false)")
        case "SAFE.AEAD.DECRYPT_STRING" | "SAFE.AEAD.DECRYPT_BYTES" =>
          require(args.size == 3, s"$name takes (keyset, ciphertext, additional_data)")
          val f = if (name.endsWith("STRING")) "graft_aead_decrypt_string"
            else "graft_aead_decrypt_bytes"
          Some(s"$f((${args(0)}), (${args(1)}), (${args(2)}), true)")
        case "KEYS.NEW_KEYSET" =>
          require(args.size == 1, "KEYS.NEW_KEYSET takes (key_type)")
          Some(s"graft_new_keyset(${args(0)})")
        case "KEYS.ADD_KEY_FROM_RAW_BYTES" =>
          require(args.size == 3,
            "KEYS.ADD_KEY_FROM_RAW_BYTES takes (keyset, key_type, raw_key_bytes)")
          val kt = unquote(args(1), "KEYS.ADD_KEY_FROM_RAW_BYTES key_type")
          require(kt == "AES_GCM" || kt == "AES_SIV",
            s"KEYS.ADD_KEY_FROM_RAW_BYTES supports key_type 'AES_GCM' or 'AES_SIV', got '$kt'")
          Some(s"graft_add_key_raw((${args(0)}), '$kt', (${args(2)}))")
        case "KEYS.KEYSET_FROM_JSON" =>
          require(args.size == 1, "KEYS.KEYSET_FROM_JSON takes (json_string)")
          Some(s"graft_keyset_from_json((${args(0)}))")
        case "KEYS.KEYSET_TO_JSON" =>
          require(args.size == 1, "KEYS.KEYSET_TO_JSON takes (keyset)")
          Some(s"graft_keyset_to_json((${args(0)}))")
        case "KEYS.KEYSET_LENGTH" =>
          require(args.size == 1, "KEYS.KEYSET_LENGTH takes (keyset)")
          Some(s"CAST(json_array_length(get_json_object(CAST((${args(0)}) AS STRING), " +
            s"'$$.key')) AS BIGINT)")
        case n2 if n2.startsWith("KEYS.") =>
          throw new IllegalArgumentException(
            s"$n2: supported KEYS verbs are NEW_KEYSET, ADD_KEY_FROM_RAW_BYTES, " +
              "KEYSET_FROM_JSON, KEYSET_TO_JSON, KEYSET_LENGTH — wrapped keysets " +
              "(Cloud KMS envelope) and ROTATE have no engine here")
        // the deterministic family (round 16): RFC 5297 AES-SIV built
        // from JDK AES-ECB/CTR — same (keyset, pt, aad) → same
        // ciphertext, so the column is joinable/groupable
        case "DETERMINISTIC_ENCRYPT" =>
          require(args.size == 3,
            "DETERMINISTIC_ENCRYPT takes (keyset, plaintext, additional_data)")
          Some(s"graft_det_encrypt((${args(0)}), (${args(1)}), (${args(2)}))")
        case "DETERMINISTIC_DECRYPT_STRING" | "DETERMINISTIC_DECRYPT_BYTES" =>
          require(args.size == 3, s"$name takes (keyset, ciphertext, additional_data)")
          val f = if (name.endsWith("STRING")) "graft_det_decrypt_string"
            else "graft_det_decrypt_bytes"
          Some(s"$f((${args(0)}), (${args(1)}), (${args(2)}), false)")
        case "SAFE.DETERMINISTIC_DECRYPT_STRING" | "SAFE.DETERMINISTIC_DECRYPT_BYTES" =>
          require(args.size == 3, s"$name takes (keyset, ciphertext, additional_data)")
          val f = if (name.endsWith("STRING")) "graft_det_decrypt_string"
            else "graft_det_decrypt_bytes"
          Some(s"$f((${args(0)}), (${args(1)}), (${args(2)}), true)")
        case n2 if n2.startsWith("ST_") =>
          throw new IllegalArgumentException(
            s"$n2: supported geography is the POINT core (ST_GEOGPOINT, ST_X, ST_Y, " +
              "ST_DISTANCE, ST_DWITHIN, ST_GEOHASH, ST_GEOGFROMTEXT, " +
              "ST_GEOGFROMGEOJSON, ST_ASGEOJSON) plus the " +
              "ARRAY<STRUCT<lng, lat>> line/ring core (ST_MAKELINE, ST_MAKEPOLYGON, " +
              "ST_LINEFROMTEXT, ST_POLYGONFROMTEXT, ST_NUMPOINTS, ST_LENGTH, " +
              "ST_PERIMETER, ST_AREA, ST_CONTAINS, ST_INTERSECTS, ST_WITHIN, " +
              "ST_DISJOINT, ST_COVERS, ST_COVEREDBY, ST_TOUCHES, ST_EQUALS, " +
              "ST_BOUNDINGBOX, ST_MAXDISTANCE, ST_CENTROID, ST_SNAPTOGRID, " +
              "ST_BUFFER, ST_SIMPLIFY, ST_CONVEXHULL, ST_CLOSESTPOINT, ST_DUMP, " +
              "ST_ASTEXT) — polygon boolean ops (ST_UNION/ST_INTERSECTION/" +
              "ST_DIFFERENCE) need a full clipping kernel and are not implemented")
        // the remaining BYTES codecs: base32 has no Spark native, and
        // SAFE_CONVERT_BYTES_TO_STRING must NOT be a bare cast (Spark
        // substitutes U+FFFD where BigQuery's SAFE form returns NULL)
        case "TO_BASE32" =>
          require(args.size == 1, "TO_BASE32 takes (bytes)")
          Some(s"graft_to_base32((${args(0)}))")
        case "FROM_BASE32" =>
          require(args.size == 1, "FROM_BASE32 takes (string)")
          Some(s"graft_from_base32((${args(0)}))")
        case "SAFE_CONVERT_BYTES_TO_STRING" =>
          require(args.size == 1, "SAFE_CONVERT_BYTES_TO_STRING takes (bytes)")
          Some(s"graft_safe_bytes_to_string((${args(0)}))")
        // the code-point family (functions/codepoints.scala):
        // registry-routed natives with BigQuery's exact domains —
        // notably CHR, where Spark's own chr WRAPS AT 256 (chr(233)
        // works but chr(769) silently corrupts — the reason the
        // BigQuery spelling never maps to Spark's)
        case "TO_CODE_POINTS" =>
          require(args.size == 1, "TO_CODE_POINTS takes (string_or_bytes)")
          Some(s"graft_to_code_points((${args(0)}))")
        case "CODE_POINTS_TO_STRING" =>
          require(args.size == 1, "CODE_POINTS_TO_STRING takes (array<int64>)")
          Some(s"graft_code_points_to_string((${args(0)}))")
        case "CODE_POINTS_TO_BYTES" =>
          require(args.size == 1, "CODE_POINTS_TO_BYTES takes (array<int64>)")
          Some(s"graft_code_points_to_bytes((${args(0)}))")
        case "UNICODE" =>
          require(args.size == 1, "UNICODE takes (string)")
          Some(s"graft_unicode((${args(0)}))")
        case "ASCII" =>
          require(args.size == 1, "ASCII takes (string)")
          Some(s"graft_ascii((${args(0)}))")
        case "CHR" =>
          require(args.size == 1, "CHR takes (code_point)")
          Some(s"graft_chr((${args(0)}))")
        case "SOUNDEX" =>
          require(args.size == 1, "SOUNDEX takes (string)")
          Some(s"graft_soundex((${args(0)}))")
        case "INITCAP" =>
          require(args.size == 1 || args.size == 2,
            "INITCAP takes (string [, delimiters])")
          if (args.size == 1) Some(s"graft_initcap((${args(0)}))")
          else Some(s"graft_initcap((${args(0)}), ${args(1)})")
        // BigQuery TEXT_ANALYZE(text [, analyzer => '...']) — the
        // tokenizer behind SEARCH/CREATE SEARCH INDEX exposed as a
        // scalar returning ARRAY<STRING>. LOG_ANALYZER (default) is
        // the B31/A44 analyzer EXACTLY (lowercase, split on
        // non-[a-z0-9] runs — the documented simplification of
        // BigQuery's delimiter list), so TEXT_ANALYZE output answers
        // the same containment SEARCH computes. NO_OP_ANALYZER is the
        // whole value as one term. PATTERN_ANALYZER and
        // analyzer_options are loud — a silently different token set
        // corrupts every downstream count.
        case "TEXT_ANALYZE" =>
          require(args.size == 1 || args.size == 2,
            "TEXT_ANALYZE takes (text [, analyzer => '...'])")
          val analyzer = if (args.size == 2) {
            val a = args(1).trim
            val arrow = a.indexOf("=>")
            require(arrow > 0 &&
              a.substring(0, arrow).trim.equalsIgnoreCase("analyzer"),
              s"TEXT_ANALYZE's second argument is analyzer => '...', got: $a " +
                "(analyzer_options is not supported)")
            val v = a.substring(arrow + 2).trim
            require(v.length >= 2 && v.head == '\'' && v.last == '\'',
              s"TEXT_ANALYZE analyzer must be a quoted literal, got: $v")
            v.substring(1, v.length - 1).toUpperCase(java.util.Locale.ROOT)
          } else "LOG_ANALYZER"
          analyzer match {
            case "LOG_ANALYZER" =>
              // the THREE-argument split: the 2-arg form would be
              // re-matched by the SPLIT literal-delimiter rewrite on
              // the next fixpoint pass and regex-quote the pattern
              Some(s"array_remove(split(lower((${args(0)})), '[^a-z0-9]+', -1), '')")
            case "NO_OP_ANALYZER" => Some(s"array((${args(0)}))")
            case other => throw new IllegalArgumentException(
              s"TEXT_ANALYZE analyzer '$other' is not supported " +
                "(LOG_ANALYZER, NO_OP_ANALYZER; PATTERN_ANALYZER needs analyzer_options)")
          }
        // NET.IP_* (netip.scala): BYTES-carried IPv4/IPv6 addresses,
        // exact byte arithmetic, registry-routed natives (the
        // graft_*-named inner calls never re-match the scanner)
        case "NET.IP_FROM_STRING" =>
          require(args.size == 1, "NET.IP_FROM_STRING takes (addr_str)")
          Some(s"graft_ip_from_string((${args(0)}))")
        case "NET.SAFE_IP_FROM_STRING" =>
          require(args.size == 1, "NET.SAFE_IP_FROM_STRING takes (addr_str)")
          Some(s"graft_safe_ip_from_string((${args(0)}))")
        case "NET.IP_TO_STRING" =>
          require(args.size == 1, "NET.IP_TO_STRING takes (addr_bytes)")
          Some(s"graft_ip_to_string((${args(0)}))")
        case "NET.IP_NET_MASK" =>
          require(args.size == 2, "NET.IP_NET_MASK takes (num_output_bytes, prefix_length)")
          Some(s"graft_ip_net_mask((${args(0)}), (${args(1)}))")
        case "NET.IP_TRUNC" =>
          require(args.size == 2, "NET.IP_TRUNC takes (addr_bytes, prefix_length)")
          Some(s"graft_ip_trunc((${args(0)}), (${args(1)}))")
        case "NET.IPV4_FROM_INT64" =>
          require(args.size == 1, "NET.IPV4_FROM_INT64 takes (int)")
          Some(s"graft_ipv4_from_int64((${args(0)}))")
        case "NET.IPV4_TO_INT64" =>
          require(args.size == 1, "NET.IPV4_TO_INT64 takes (addr_bytes)")
          Some(s"graft_ipv4_to_int64((${args(0)}))")
        // BigQuery's KLL_QUANTILES sketch family (kll.scala — the
        // quantile analogue of HLL_COUNT): typed INIT → sketch BYTES,
        // MERGE_PARTIAL re-aggregation, POINT/array reads; the
        // MERGE_* read forms are EXTRACT over a MERGE_PARTIAL.
        case n if n.startsWith("KLL_QUANTILES.") =>
          val verb = n.stripPrefix("KLL_QUANTILES.")
          def one(what: String) = {
            require(args.size == 1, s"KLL_QUANTILES.$what takes (sketch)"); s"(${args(0)})"
          }
          def two(what: String) = {
            require(args.size == 2, s"KLL_QUANTILES.$what takes (sketch, ${
              if (what.contains("POINT")) "phi" else "n"})")
            (s"(${args(0)})", s"(${args(1)})")
          }
          verb match {
            case "INIT_INT64" | "INIT_FLOAT64" =>
              require(args.size == 1 || args.size == 2,
                s"KLL_QUANTILES.$verb takes (value [, precision])")
              val t = if (verb == "INIT_INT64") "int64" else "float64"
              Some(s"graft_kll_init_$t(${args.map(a => s"($a)").mkString(", ")})")
            case "MERGE_PARTIAL" =>
              Some(s"graft_kll_merge_partial(${one("MERGE_PARTIAL")})")
            case "EXTRACT_POINT_INT64" | "EXTRACT_POINT_FLOAT64" =>
              val (s1, s2) = two(verb)
              val t = if (verb.endsWith("INT64")) "int64" else "float64"
              Some(s"graft_kll_extract_point_$t($s1, $s2)")
            case "EXTRACT_INT64" | "EXTRACT_FLOAT64" =>
              val (s1, s2) = two(verb)
              val t = if (verb.endsWith("INT64")) "int64" else "float64"
              Some(s"graft_kll_extract_$t($s1, $s2)")
            case "MERGE_POINT_INT64" | "MERGE_POINT_FLOAT64" =>
              val (s1, s2) = two(verb)
              val t = if (verb.endsWith("INT64")) "int64" else "float64"
              Some(s"graft_kll_extract_point_$t(graft_kll_merge_partial($s1), $s2)")
            case "MERGE_INT64" | "MERGE_FLOAT64" =>
              val (s1, s2) = two(verb)
              val t = if (verb.endsWith("INT64")) "int64" else "float64"
              Some(s"graft_kll_extract_$t(graft_kll_merge_partial($s1), $s2)")
            case other => throw new IllegalArgumentException(
              s"KLL_QUANTILES.$other is not supported (have INIT/MERGE_PARTIAL/" +
                "MERGE_POINT/EXTRACT_POINT/MERGE/EXTRACT in _INT64/_FLOAT64 forms)")
          }
        case "APPROX_TOP_COUNT" =>
          require(args.size == 2, "APPROX_TOP_COUNT takes (expr, number)")
          require("(?is)^DISTINCT\\s".r.findFirstIn(args(0)).isEmpty,
            "APPROX_TOP_COUNT DISTINCT is meaningless (every count would be 1)")
          Some(s"transform(approx_top_k((${args(0)}), ${args(1)}), " +
            "__s -> named_struct('value', __s.item, 'count', __s.count))")
        // weighted top-k by SUM — the engine's SpaceSaving aggregate
        // (functions/topsum.scala). BigQuery's struct field is `sum`;
        // items cast to STRING (the sketch keys on text — BigQuery
        // also renders the value), weights to INT64
        case "APPROX_TOP_SUM" =>
          require(args.size == 3, "APPROX_TOP_SUM takes (expr, weight, number)")
          Some(s"transform(graft_approx_top_sum(CAST((${args(0)}) AS STRING), " +
            s"CAST((${args(1)}) AS BIGINT), ${args(2)}), " +
            "__s -> named_struct('value', __s.value, 'sum', __s.sum_w))")
        case _ => None
      }
    }
    // `x [NOT] IN UNNEST(arr)` → `[NOT] array_contains((arr), x)`:
    // BigQuery's membership-in-array idiom. The left operand is
    // captured by a bounded BACKWARD scan — a qualified identifier
    // chain, a parenthesized group, or a call `f(...)`; anything
    // hairier should be parenthesized by the caller (the scan then
    // sees one group). NULL/empty semantics already agree:
    // array_contains is NULL on a NULL operand and FALSE on an empty
    // array, exactly IN UNNEST's.
    def inUnnest(sql: String): String = {
      val out = new StringBuilder
      var i = 0
      while (i < sql.length) {
        val c = sql.charAt(i)
        val e = Lexer.opaqueEnd(sql, i)
        if (e > i) { out ++= sql.substring(i, e); i = e }
        else if ((c == 'I' || c == 'i') && Lexer.wordAt(sql, "IN", i)) {
          val p = Lexer.skipSpace(sql, i + 2)
          val q = Lexer.skipSpace(sql, p + 6)
          if (!Lexer.wordAt(sql, "UNNEST", p) || !sql.startsWith("(", q)) { out += c; i += 1 }
          else {
            val r = Lexer.closeParen(sql, q) + 1
            require(r > 0, "unbalanced parens in IN UNNEST(...)")
            val arr = sql.substring(q + 1, r - 1)
            // backward over what's already emitted: optional NOT, then
            // the operand (identifier chain / (...) group / f(...))
            var tail = out.toString
            var negated = false
            val trimmed = tail.reverse.dropWhile(_.isWhitespace).reverse
            if (trimmed.length >= 3 &&
              trimmed.substring(trimmed.length - 3).equalsIgnoreCase("NOT") &&
              (trimmed.length == 3 || !isWord(trimmed.charAt(trimmed.length - 4)))) {
              negated = true
              tail = trimmed.substring(0, trimmed.length - 3)
            }
            val t2 = tail.reverse.dropWhile(_.isWhitespace).reverse
            var opStart = t2.length
            if (opStart > 0 && t2.charAt(opStart - 1) == ')') {
              val found = Lexer.openParen(t2, opStart - 1)
              require(found >= 0, "IN UNNEST: unbalanced operand parens")
              opStart = found
              // a call: the function name belongs to the operand
              while (opStart > 0 && isWord(t2.charAt(opStart - 1))) opStart -= 1
            } else {
              while (opStart > 0 && (isWord(t2.charAt(opStart - 1)) || t2.charAt(opStart - 1) == '.'))
                opStart -= 1
            }
            val operand = t2.substring(opStart).trim
            require(operand.nonEmpty,
              "IN UNNEST: could not capture the left operand — parenthesize it")
            out.setLength(0)
            out ++= t2.substring(0, opStart)
            val call = s"array_contains(($arr), ($operand))"
            out ++= (if (negated) s"(NOT $call)" else call)
            i = r
          }
        } else { out += c; i += 1 }
      }
      out.toString
    }

    // array subscripts: [OFFSET(i)] → [(i)], [ORDINAL(i)] → [(i) - 1]
    def subscripts(sql: String): String = {
      val out = new StringBuilder
      var i = 0
      while (i < sql.length) {
        val c = sql.charAt(i)
        val e = Lexer.opaqueEnd(sql, i)
        if (e > i) { out ++= sql.substring(i, e); i = e }
        else if (c == '[') {
          val p = Lexer.skipSpace(sql, i + 1)
          val kw = Seq("SAFE_OFFSET", "SAFE_ORDINAL", "OFFSET", "ORDINAL")
            .find(k => sql.regionMatches(true, p, k, 0, k.length) &&
              sql.startsWith("(", Lexer.skipSpace(sql, p + k.length)))
          kw match {
            case Some(k) =>
              val q = Lexer.skipSpace(sql, p + k.length)
              val r = Lexer.closeParen(sql, q) + 1
              require(r > 0, s"unbalanced parens in [$k(...)]")
              val idx = sql.substring(q + 1, r - 1)
              val close = Lexer.skipSpace(sql, r)
              require(close < sql.length && sql.charAt(close) == ']', s"expected ] after $k(...)")
              if (k.startsWith("SAFE_")) {
                // BigQuery NULL-on-out-of-bounds: capture the array
                // operand backward from what's already emitted (the
                // IN UNNEST discipline, plus a `]` tail for chained
                // subscripts) and guard the 0-based subscript with a
                // size() CASE — NULL index, negative/past-end index
                // and NULL array all yield NULL under either ANSI
                // setting.
                val t2 = out.toString.reverse.dropWhile(_.isWhitespace).reverse
                var opStart = t2.length
                var scanning = true
                while (scanning) {
                  scanning = false
                  if (opStart > 0 && (t2.charAt(opStart - 1) == ')' || t2.charAt(opStart - 1) == ']')) {
                    val closeCh = t2.charAt(opStart - 1)
                    val found = Lexer.openParen(t2, opStart - 1)
                    require(found >= 0, s"[$k(i)]: unbalanced operand brackets")
                    opStart = found
                    // a call name, or another bracket/group to the left
                    // (chained subscripts: m['k'][SAFE_OFFSET(0)])
                    while (opStart > 0 && (isWord(t2.charAt(opStart - 1)) || t2.charAt(opStart - 1) == '.'))
                      opStart -= 1
                    if (closeCh == ']' && opStart > 0 &&
                      (t2.charAt(opStart - 1) == ')' || t2.charAt(opStart - 1) == ']'))
                      scanning = true
                  } else {
                    while (opStart > 0 && (isWord(t2.charAt(opStart - 1)) || t2.charAt(opStart - 1) == '.'))
                      opStart -= 1
                  }
                }
                val operand = t2.substring(opStart).trim
                require(operand.nonEmpty,
                  s"[$k(i)]: could not capture the array operand — parenthesize it")
                out.setLength(0)
                out ++= t2.substring(0, opStart)
                out ++= (if (k == "SAFE_OFFSET")
                  s"(CASE WHEN ($idx) >= 0 AND ($idx) < size(($operand)) THEN ($operand)[($idx)] END)"
                else
                  s"(CASE WHEN ($idx) >= 1 AND ($idx) <= size(($operand)) THEN ($operand)[($idx) - 1] END)")
              } else {
                out ++= (if (k == "OFFSET") s"[($idx)]" else s"[($idx) - 1]")
              }
              i = close + 1
            case None => out += c; i += 1
          }
        } else { out += c; i += 1 }
      }
      out.toString
    }
    // BigQuery's `SAFE.` function prefix (NULL instead of error) →
    // the SAFE_-spelled forms the handlers above map. Only rewrites
    // when a supported name is followed by `(` — `safe.tbl` in FROM
    // position is a qualifier and passes through; an unsupported
    // SAFE.fn is loud (most Spark scalar functions are already total:
    // drop the prefix where the function cannot error).
    val SafeSupported = Set("CAST", "DIVIDE", "ADD", "SUBTRACT", "MULTIPLY",
      "PARSE_DATE", "PARSE_TIMESTAMP", "PARSE_DATETIME", "PARSE_JSON",
      "BOOL", "INT64", "FLOAT64", "STRING",
      "PARSE_NUMERIC", "PARSE_BIGNUMERIC")
    def safePrefix(sql: String): String = {
      if (!sql.toUpperCase(java.util.Locale.ROOT).contains("SAFE.")) return sql
      val out = new StringBuilder
      var i = 0
      while (i < sql.length) {
        val c = sql.charAt(i)
        val e = Lexer.opaqueEnd(sql, i)
        if (e > i) { out ++= sql.substring(i, e); i = e }
        else if ((c == 'S' || c == 's') && sql.regionMatches(true, i, "SAFE.", 0, 5) &&
          (i == 0 || (!isWord(sql.charAt(i - 1)) && sql.charAt(i - 1) != '.'))) {
          var j = i + 5
          while (j < sql.length && isWord(sql.charAt(j))) j += 1
          val fn = sql.substring(i + 5, j)
          val k = Lexer.skipSpace(sql, j)
          val fnUp = fn.toUpperCase(java.util.Locale.ROOT)
          if (fn.nonEmpty && k < sql.length && sql.charAt(k) == '(' &&
              (fnUp == "DETERMINISTIC_DECRYPT_STRING" || fnUp == "DETERMINISTIC_DECRYPT_BYTES")) {
            // the dotted name SAFE.DETERMINISTIC_DECRYPT_* is a
            // rewriteCalls-handled AEAD form, not a SAFE_ respelling —
            // pass it through untouched for that pass
            out ++= sql.substring(i, j)
            i = j
          } else if (fn.nonEmpty && k < sql.length && sql.charAt(k) == '(') {
            require(SafeSupported.contains(fn.toUpperCase(java.util.Locale.ROOT)),
              s"SAFE.$fn is not supported — supported SAFE. forms: " +
                s"${SafeSupported.toSeq.sorted.mkString(", ")}; most Spark scalar " +
                "functions never error (drop the prefix), and SAFE_OFFSET/" +
                "SAFE_ORDINAL are the array-subscript spellings")
            out ++= s"SAFE_${fn.toUpperCase(java.util.Locale.ROOT)}"
            i = j
          } else { out += c; i += 1 }
        } else { out += c; i += 1 }
      }
      out.toString
    }
    var cur = sql0; var n = 0
    var changed = true
    while (changed && n < 10) {
      val next = mapBqTypesInCasts(inUnnest(subscripts(onePass(safePrefix(bracketLiterals(rangeLiterals(timeLiterals(intervalLiterals(cur)))))))))
      changed = next != cur
      cur = next; n += 1
    }
    cur
  }

  /** BigQuery RANGE literals — `RANGE<DATE> '[2023-01-01,
    * 2023-12-31)'` (either side may be UNBOUNDED) — to the carried
    * struct form. Quote-aware scan: the `RANGE<DATE>` head must sit
    * OUTSIDE any string literal (the payload quotes are part of the
    * literal itself), so quoted text containing the same characters
    * is opaque, the fuzz-corpus contract every rewrite here keeps.
    */
  /** BigQuery TIME literals — `TIME '12:34:56[.ffffff]'` — onto the
    * 1970-01-01-pinned TIMESTAMP_NTZ carrier (see the TIME function
    * family). Same quote-aware scan contract as the RANGE literal:
    * the TIME keyword must sit outside any string.
    */
  private val TimeLitRe =
    """(?is)^TIME\s+'(\d{2}:\d{2}:\d{2}(?:\.\d{1,6})?)'""".r
  private[graft] def timeLiterals(sql: String): String =
    replaceLiterals(sql, "TIME", TimeLitRe)(m => s"TIMESTAMP_NTZ '1970-01-01 ${m.group(1)}'")

  /** `sql` with each code occurrence of the word `kw` that starts a
    * match of `re` replaced by `f(match)`; other text is kept.
    */
  private def replaceLiterals(sql: String, kw: String, re: scala.util.matching.Regex)
                             (f: scala.util.matching.Regex.Match => String): String = {
    if (!sql.toUpperCase(java.util.Locale.ROOT).contains(kw)) return sql
    val out = new StringBuilder
    var from = 0
    var i = Lexer.indexOfWord(sql, kw)
    while (i >= 0) {
      re.findPrefixMatchOf(sql.substring(i)) match {
        case Some(m) =>
          out ++= sql.substring(from, i) ++= f(m)
          from = i + m.matched.length
          i = Lexer.indexOfWord(sql, kw, from)
        case None => i = Lexer.indexOfWord(sql, kw, i + kw.length)
      }
    }
    out ++= sql.substring(from)
    out.toString
  }

  /** BigQuery range-form INTERVAL literals — `INTERVAL '1-2 3 4:5:6'
    * YEAR TO SECOND` (any contiguous part range) — parsed at REWRITE
    * time into Spark's make_interval, the CalendarInterval carrier.
    * Groups carry their own signs, BigQuery's payload grammar:
    * `[-]Y-M`, `[-]D`, `[-]H:M:S[.F]` (subsets per the part range,
    * fraction only when the range ends at SECOND). Bare single-part
    * `INTERVAL n unit` stays Spark-native (same semantics). Same
    * quote-aware scan contract as the TIME/RANGE literals.
    */
  private val IntervalRangeLitRe =
    ("""(?is)^INTERVAL\s+'([^']*)'\s+""" +
      """(YEAR|MONTH|DAY|HOUR|MINUTE|SECOND)\s+TO\s+(YEAR|MONTH|DAY|HOUR|MINUTE|SECOND)""").r
  private val IntervalParts = Seq("YEAR", "MONTH", "DAY", "HOUR", "MINUTE", "SECOND")
  private[graft] def intervalLiterals(sql: String): String =
    replaceLiterals(sql, "INTERVAL", IntervalRangeLitRe)(m =>
      intervalLiteralToMakeInterval(m.group(1).trim,
        m.group(2).toUpperCase(java.util.Locale.ROOT),
        m.group(3).toUpperCase(java.util.Locale.ROOT)))

  private def intervalLiteralToMakeInterval(payload: String, p1: String, p2: String): String = {
    val lo = IntervalParts.indexOf(p1)
    val hi = IntervalParts.indexOf(p2)
    require(lo <= hi, s"INTERVAL literal: $p1 TO $p2 is not a valid part range")
    // split into the up-to-three space-separated groups the range implies
    val hasYm = lo <= 1
    val hasDay = lo <= 2 && hi >= 2
    val hasTime = hi >= 3
    val groups = payload.split("\\s+").toSeq.filter(_.nonEmpty)
    val expected = Seq(hasYm, hasDay, hasTime).count(identity)
    require(groups.size == expected,
      s"INTERVAL '$payload' $p1 TO $p2: expected $expected space-separated group(s), " +
        s"got ${groups.size}")
    var gi = 0
    def nextGroup(): String = { val g = groups(gi); gi += 1; g }
    def signOf(g: String): (Long, String) =
      if (g.startsWith("-")) (-1L, g.substring(1)) else (1L, g.stripPrefix("+"))
    var months = 0L; var days = 0L
    var hours = 0L; var minutes = 0L; var secondsTxt = "0"
    var timeSign = 1L
    if (hasYm) {
      val (sg, body) = signOf(nextGroup())
      val parts = body.split("-", -1)
      (lo, math.min(hi, 1)) match {
        case (0, 0) =>
          require(parts.length == 1, s"INTERVAL ym group '$body': expected Y")
          months = sg * parts(0).toLong * 12
        case (0, 1) =>
          require(parts.length == 2, s"INTERVAL ym group '$body': expected Y-M")
          months = sg * (parts(0).toLong * 12 + parts(1).toLong)
        case _ => // MONTH-led
          require(parts.length == 1, s"INTERVAL ym group '$body': expected M")
          months = sg * parts(0).toLong
      }
    }
    if (hasDay) {
      val (sg, body) = signOf(nextGroup())
      days = sg * body.toLong
    }
    if (hasTime) {
      val (sg, body) = signOf(nextGroup())
      timeSign = sg
      val t = body.split(":", -1)
      val tLo = math.max(lo, 3); val n = hi - tLo + 1
      require(t.length == n,
        s"INTERVAL time group '$body': expected $n ':'-separated field(s) for " +
          s"${IntervalParts(tLo)} TO $p2")
      val vals = IntervalParts.slice(tLo, hi + 1).zip(t)
      vals.foreach { case (part, v) =>
        part match {
          case "HOUR" => hours = v.toLong
          case "MINUTE" => minutes = v.toLong
          case "SECOND" =>
            require(v.matches("""\d+(\.\d{1,6})?"""),
              s"INTERVAL seconds field '$v' is not a number")
            secondsTxt = v
        }
      }
    }
    val secSigned = if (timeSign < 0) s"-$secondsTxt" else secondsTxt
    s"make_interval(0, $months, 0, $days, ${timeSign * hours}, " +
      s"${timeSign * minutes}, CAST($secSigned AS DECIMAL(18,6)))"
  }

  private val RangeLitRe =
    """(?is)^RANGE\s*<\s*DATE\s*>\s*'\[\s*(\d{4}-\d{2}-\d{2}|UNBOUNDED)\s*,\s*(\d{4}-\d{2}-\d{2}|UNBOUNDED)\s*\)'""".r
  private[graft] def rangeLiterals(sql: String): String =
    replaceLiterals(sql, "RANGE", RangeLitRe) { m =>
      def side(v: String) =
        if (v.equalsIgnoreCase("UNBOUNDED")) "CAST(NULL AS DATE)"
        else s"DATE '$v'"
      s"named_struct('range_start', ${side(m.group(1))}, 'range_end', ${side(m.group(2))})"
    }

  /** BigQuery bare array literals: a `[` NOT in subscript position
    * (the previous emitted non-whitespace char is not an identifier
    * char, `)`, `]`, `` ` `` or `>`) opens an array literal and maps
    * to Spark's `array(...)`; contents rewrite recursively so nested
    * literals work and chained subscripts (`[1,2][OFFSET(0)]` — the
    * second `[` follows the emitted `)`) stay subscripts. Two spans
    * keep their own bracket syntax: `OPTIONS(...)` and `FILES(...)`
    * lists (`uris=['...']` is option-list syntax, not an expression),
    * and a `>`-preceded bracket (`ARRAY<INT64>[...]` typed literals)
    * stays untouched — loud at parse, as before.
    */
  private val BracketKeywords: Set[String] = Set(
    // no END: `CASE ... END[OFFSET(i)]` subscripts the CASE expression
    "SELECT", "DISTINCT", "ALL", "AS", "WHEN", "THEN", "ELSE", "CASE",
    "IN", "NOT", "AND", "OR", "ON", "WHERE", "HAVING", "BY", "FROM", "SET",
    "VALUES", "UNION", "EXCEPT", "INTERSECT", "RETURN", "RETURNS", "DEFAULT",
    "BETWEEN", "IS", "LIKE", "USING", "DO", "IF", "ELSEIF", "WHILE", "LIMIT")

  private[graft] def bracketLiterals(sql: String): String = {
    if (!sql.contains('[')) return sql
    val upper = sql.toUpperCase(java.util.Locale.ROOT)
    val out = new StringBuilder
    var i = 0
    var depth = 0
    var optSpans = List.empty[Int] // paren depths at which OPTIONS(/FILES( opened
    def prevNonWs: Char = {
      var p = out.length - 1
      while (p >= 0 && Character.isWhitespace(out.charAt(p))) p -= 1
      if (p < 0) '\u0000' else out.charAt(p)
    }
    while (i < sql.length) {
      val c = sql.charAt(i)
      val e = Lexer.opaqueEnd(sql, i)
      if (e > i) { out ++= sql.substring(i, e); i = e }
      else if (c == '(') {
        val pw = {
          var e = i - 1
          while (e >= 0 && Character.isWhitespace(sql.charAt(e))) e -= 1
          var b = e
          while (b >= 0 && isWord(sql.charAt(b))) b -= 1
          if (e < 0 || b == e) "" else upper.substring(b + 1, e + 1)
        }
        if (pw == "OPTIONS" || pw == "FILES") optSpans ::= depth
        depth += 1; out += c; i += 1
      } else if (c == ')') {
        depth -= 1
        if (optSpans.headOption.contains(depth)) optSpans = optSpans.tail
        out += c; i += 1
      } else if (c == '[' && optSpans.isEmpty) {
        val p = prevNonWs
        // a word-preceded bracket is a SUBSCRIPT on that identifier —
        // unless the word is a keyword (`SELECT [1,2]`, `THEN [...]`),
        // where the bracket starts a literal
        val wordIsKeyword = isWord(p) && {
          var e = out.length - 1
          while (e >= 0 && Character.isWhitespace(out.charAt(e))) e -= 1
          var b = e
          while (b >= 0 && isWord(out.charAt(b))) b -= 1
          BracketKeywords(out.substring(b + 1, e + 1).toUpperCase(java.util.Locale.ROOT))
        }
        if ((isWord(p) && !wordIsKeyword) || p == ')' || p == ']' || p == '`' || p == '>') {
          out += c; i += 1
        } else {
          val r = Lexer.closeParen(sql, i)
          require(r >= 0, s"unbalanced [ in: ${sql.substring(i).take(60)}")
          out ++= s"array(${bracketLiterals(sql.substring(i + 1, r))})"
          i = r + 1
        }
      } else { out += c; i += 1 }
    }
    out.toString
  }

  /** BigQuery `UNNEST` in FROM position → Spark `LATERAL VIEW
    * explode`: `FROM t, UNNEST(expr) AS x` and `FROM t [CROSS] JOIN
    * UNNEST(expr) AS x` rewrite to `FROM t LATERAL VIEW explode(expr)
    * __unnest_N AS x`; `... WITH OFFSET [AS o]` takes posexplode
    * (offset first, element second — posexplode's output order).
    * Same row semantics: the comma/CROSS JOIN form drops rows whose
    * array is NULL or empty, exactly what explode does. Quote-aware;
    * a standalone `FROM UNNEST(...)` (no driving table) and `LEFT
    * JOIN UNNEST` are loud — spell the first as a VALUES table and
    * the second as the comma form over a COALESCEd array.
    */
  private[graft] def rewriteUnnest(sql: String): String = {
    val upper = sql.toUpperCase(java.util.Locale.ROOT)
    if (!upper.contains("UNNEST")) return sql
    val out = new StringBuilder
    var i = 0
    while (i < sql.length) {
      val c = sql.charAt(i)
      val e = Lexer.opaqueEnd(sql, i)
      if (e > i) { out ++= sql.substring(i, e); i = e }
      else if ((c == 'U' || c == 'u') && upper.startsWith("UNNEST", i) &&
        (i == 0 || !isWord(sql.charAt(i - 1))) &&
        (i + 6 >= sql.length || !isWord(sql.charAt(i + 6)))) {
        // the preceding joiner: strip a trailing comma or
        // [CROSS|LEFT [OUTER]] JOIN — LEFT keeps empty/NULL-array rows
        // (explode_outer), exactly BigQuery's LEFT JOIN UNNEST
        val tail = out.toString
        val commaM = """(?s)^(.*?),\s*$""".r.pattern.matcher(tail)
        val joinM =
          """(?is)^(.*?)\b(?:(CROSS|LEFT|RIGHT|FULL|INNER)\s+)?(?:OUTER\s+)?JOIN\s*$"""
            .r.pattern.matcher(tail)
        var outer = false
        val kept =
          if (commaM.matches()) commaM.group(1)
          else if (joinM.matches()) {
            val jt = Option(joinM.group(2)).map(_.toUpperCase(java.util.Locale.ROOT))
            jt match {
              case Some("LEFT") => outer = true
              case Some("RIGHT") | Some("FULL") | Some("INNER") =>
                throw new IllegalArgumentException(
                  s"${jt.get} JOIN UNNEST is not supported — use the comma/CROSS form " +
                    "(drops empty arrays) or LEFT JOIN UNNEST (keeps them)")
              case _ => ()
            }
            joinM.group(1)
          }
          else throw new IllegalArgumentException(
            "UNNEST is supported after a driving table only: " +
              "`FROM t, UNNEST(expr) AS x`, `FROM t [CROSS] JOIN UNNEST(expr) AS x` " +
              "or `FROM t LEFT JOIN UNNEST(expr) AS x [ON TRUE]`")
        out.setLength(0); out ++= kept
        // UNNEST ( args )
        val p = Lexer.skipSpace(sql, i + 6)
        require(p < sql.length && sql.charAt(p) == '(', "UNNEST must be called with (expr)")
        val q = Lexer.closeParen(sql, p) + 1
        require(q > 0, "unbalanced parens in UNNEST(...)")
        val args = sql.substring(p + 1, q - 1)
        // optional [AS] alias
        var r = Lexer.skipSpace(sql, q)
        if (upper.startsWith("AS", r) && (r + 2 >= sql.length || !isWord(sql.charAt(r + 2)))) {
          r += 2
          r = Lexer.skipSpace(sql, r)
        }
        var a = r
        while (a < sql.length && isWord(sql.charAt(a))) a += 1
        require(a > r, "UNNEST(...) needs an element alias: UNNEST(expr) AS x")
        val alias = sql.substring(r, a)
        require(!alias.equalsIgnoreCase("WITH"),
          "UNNEST(...) needs an element alias before WITH OFFSET")
        // optional WITH OFFSET [AS off]
        var w = Lexer.skipSpace(sql, a)
        var offset: Option[String] = None
        if (upper.startsWith("WITH", w) && (w + 4 >= sql.length || !isWord(sql.charAt(w + 4)))) {
          var o = Lexer.skipSpace(sql, w + 4)
          require(upper.startsWith("OFFSET", o),
            "expected WITH OFFSET after the UNNEST alias")
          o += 6
          var o2 = Lexer.skipSpace(sql, o)
          // a custom offset name requires AS (a bare following word is
          // the next clause keyword, not an alias)
          if (upper.startsWith("AS", o2) && (o2 + 2 >= sql.length || !isWord(sql.charAt(o2 + 2)))) {
            o2 += 2
            o2 = Lexer.skipSpace(sql, o2)
            var o3 = o2
            while (o3 < sql.length && isWord(sql.charAt(o3))) o3 += 1
            require(o3 > o2, "WITH OFFSET AS needs a name")
            offset = Some(sql.substring(o2, o3))
            w = o3
          } else {
            offset = Some("offset") // BigQuery's default column name
            w = o
          }
          a = w
        }
        var end = offset.map(_ => w).getOrElse(a)
        // a LEFT JOIN form may carry BigQuery's vestigial ON TRUE
        if (outer) {
          val o = Lexer.skipSpace(sql, end)
          if (upper.startsWith("ON", o) && (o + 2 >= sql.length || !isWord(sql.charAt(o + 2)))) {
            val o2 = Lexer.skipSpace(sql, o + 2)
            require(upper.startsWith("TRUE", o2) &&
              (o2 + 4 >= sql.length || !isWord(sql.charAt(o2 + 4))),
              "LEFT JOIN UNNEST supports only ON TRUE (the lateral relationship is implicit)")
            end = o2 + 4
          }
        }
        val gen = s"__unnest_${GraftSql.asOfCounter.incrementAndGet()}"
        val ov = if (outer) "OUTER " else ""
        offset match {
          case Some(off) =>
            out ++= s" LATERAL VIEW $ov" + s"posexplode($args) $gen AS $off, $alias"
          case None =>
            out ++= s" LATERAL VIEW $ov" + s"explode($args) $gen AS $alias"
        }
        i = end
      } else { out += c; i += 1 }
    }
    out.toString
  }

  /** Tokenwise BigQuery→Spark type-name mapping over a parameter list
    * or type text (quote-aware; identifiers in NAME position are
    * untouched unless they collide with a BigQuery type keyword —
    * don't name a parameter `int64`). ARRAY<...>/STRUCT<...> angle
    * syntax is shared by both dialects and passes through.
    */
  private[graft] def mapBqTypes(text: String): String = {
    val map = Map(
      "INT64" -> "BIGINT", "FLOAT64" -> "DOUBLE", "BOOL" -> "BOOLEAN",
      "NUMERIC" -> "DECIMAL(38,9)", "BIGNUMERIC" -> "DECIMAL(38,18)",
      "DATETIME" -> "TIMESTAMP_NTZ", "BYTES" -> "BINARY")
    val out = new StringBuilder
    var i = 0
    while (i < text.length) {
      val c = text.charAt(i)
      val e = Lexer.opaqueEnd(text, i)
      if (e > i) { out ++= text.substring(i, e); i = e }
      else if (Character.isLetter(c) &&
        (i == 0 || !(Character.isLetterOrDigit(text.charAt(i - 1)) || text.charAt(i - 1) == '_'))) {
        var j = i
        while (j < text.length && (Character.isLetterOrDigit(text.charAt(j)) || text.charAt(j) == '_')) j += 1
        val w = text.substring(i, j)
        out ++= map.getOrElse(w.toUpperCase(java.util.Locale.ROOT), w)
        i = j
      } else { out += c; i += 1 }
    }
    out.toString
  }

  /** [[mapBqTypes]] restricted to TYPE POSITIONS inside a SQL
    * expression body: only text between a `CAST(`/`SAFE_CAST(`/
    * `TRY_CAST(` clause's top-level `AS` and its closing paren is
    * mapped; everything else — including identifiers that happen to
    * spell a BigQuery type keyword (`bytes`, `numeric`, `bool`,
    * `datetime`) — passes through verbatim. An `AS` nested deeper
    * than the cast's own paren (a subquery alias inside the cast
    * operand) is NOT a type position. Quote- and backtick-aware,
    * like every scanner in this file; SAFE_CAST itself is spelled to
    * Spark's TRY_CAST.
    */
  private[graft] def mapBqTypesInCasts(text: String): String = {
    val out = new StringBuilder
    var i = 0
    var depth = 0
    // stack of open casts: paren depth at which each cast's arg list
    // opened; typeFrom = that depth once the cast's own AS was seen
    var castDepths = List.empty[Int]
    var typeDepths = List.empty[Int]
    while (i < text.length) {
      val c = text.charAt(i)
      val e = Lexer.opaqueEnd(text, i)
      if (e > i) { out ++= text.substring(i, e); i = e }
      else if (c == '(') { out += c; depth += 1; i += 1 }
      else if (c == ')') {
        depth -= 1
        if (typeDepths.headOption.contains(depth)) { // cast closes
          typeDepths = typeDepths.tail
          castDepths = castDepths.tail
        } else if (castDepths.headOption.contains(depth)) {
          castDepths = castDepths.tail // cast closed before any AS
        }
        out += c; i += 1
      }
      else if (Character.isLetter(c) && (i == 0 || !isWord(text.charAt(i - 1)))) {
        var j = i
        while (j < text.length && isWord(text.charAt(j))) j += 1
        val w = text.substring(i, j)
        val up = w.toUpperCase(java.util.Locale.ROOT)
        // lookahead: next non-space char
        val k = Lexer.skipSpace(text, j)
        if ((up == "CAST" || up == "SAFE_CAST" || up == "TRY_CAST") &&
            k < text.length && text.charAt(k) == '(') {
          out ++= (if (up == "SAFE_CAST") "TRY_CAST" else w)
          castDepths = depth :: castDepths // arg list opens at this depth
        } else if (up == "AS" && castDepths.nonEmpty &&
                   castDepths.head == depth - 1 &&
                   !typeDepths.headOption.contains(depth - 1)) {
          // the cast's OWN top-level AS: type text runs to its close paren
          typeDepths = (depth - 1) :: typeDepths
          out ++= w
        } else if (typeDepths.headOption.exists(d => depth > d)) {
          out ++= mapBqTypes(w) // inside a cast's type text
        } else out ++= w
        i = j
      } else { out += c; i += 1 }
    }
    out.toString
  }
}
