package graft

/** Deterministic fuzz over GraftSql's own dialect pass list (all of
  * it, in load's order) — the property the shared lexer promises
  * every pass: what Spark reads as a string literal, a backtick
  * identifier or a comment is OPAQUE (a literal that happens to spell
  * `COUNTIF(` or `UNNEST(` or `[OFFSET(1)]`, in any quoting Spark
  * accepts, must survive byte-identically), passes are identity on
  * trigger-free SQL, and the chain is idempotent (applying it to its
  * own output changes nothing — the fixpoint loops terminate because
  * each pass is stable). Passes that take a session get the shared
  * one; no text here triggers a catalog lookup, and the spec starts
  * no Spark job.
  *
  * Hand-rolled generator (seeded — reproducible failures) rather than
  * scalacheck's forAll: the scalatest-plus bridge is not on this
  * classpath, and a seeded loop gives the same coverage with plainer
  * failure output.
  */
class RewriteFuzzSpec extends SparkSuite {

  private val pool = Seq(
    "COUNTIF(x > 1)", "SAFE_DIVIDE(a, b)", "DATE_ADD(d, INTERVAL 1 DAY)",
    "UNNEST(arr) AS x", "TABLESAMPLE SYSTEM (10 PERCENT)",
    "GENERATE_ARRAY(1, 9)", "JSON_EXTRACT_ARRAY(j, '$.k')",
    "[OFFSET(1)]", "[SAFE_OFFSET(2)]", "IN UNNEST(tags)",
    "FOR SYSTEM_TIME AS OF", "FORMAT_DATE('%Y', d)", "RAISE", "CALL p()",
    "a |> b", "JSON_SET(j, '$.k', 1)", "GAP_FILL(TABLE t, ts_column => 'd')",
    "TIME '12:34:56'", "RANGE<DATE> '[2023-01-01, 2023-12-31)'",
    "FORMAT('%d', x)", "DATE_BUCKET(d, INTERVAL 7 DAY)",
    "JSON_KEYS(j, 1)", "INT64('42')", "STRING(j)", "ERROR('boom')",
    "NET.IP_FROM_STRING('1.2.3.4')", "TO_CODE_POINTS(s)", "CHR(97)",
    "MAKE_INTERVAL(1, 2)", "JUSTIFY_DAYS(i)", "TEXT_ANALYZE(t)",
    "INTERVAL '1-2 3 4:5:6' YEAR TO SECOND", "INITCAP(s, '.')",
    "RANGE_INTERSECT(r1, r2)", "ML.LABEL_ENCODER(f, 10, 1)",
    "ST_GEOGPOINT(lng, lat)", "ST_DISTANCE(g1, g2)", "ST_GEOHASH(g, 6)",
    "ST_GEOGFROMTEXT('POINT(1 2)')", "ST_ASTEXT(g)",
    // malformed WKT/GeoJSON as LITERAL CONTENT: the rewrites must pass
    // the bytes through untouched — loudness belongs to the runtime
    // parser, never to a scanner mangling the quoted text
    "ST_GEOGFROMTEXT('POINT(1d 2)')", "ST_LINEFROMTEXT('LINESTRING(1 2')",
    "ST_POLYGONFROMTEXT('POLYGON((0 0, 1 0, 0 0))')",
    "ST_GEOGFROMGEOJSON('{\"type\":\"Pointy\",\"coordinates\":[1,2]}')",
    "ST_COVERS(poly, tp)", "ST_TOUCHES(poly, tp)", "ST_EQUALS(a, b)",
    "ST_BUFFER(p, 100)", "ST_SIMPLIFY(g, 10)", "ST_CONVEXHULL(g)",
    "ST_CLOSESTPOINT(g, p)", "ST_DUMP(g)",
    "DETERMINISTIC_ENCRYPT(ks, pt, ad)",
    "SAFE.DETERMINISTIC_DECRYPT_STRING(ks, ct, ad)",
    "TIMESTAMP_TRUNC(ts, DAY, 'Europe/Paris')", "DATE(ts, 'Asia/Tokyo')",
    "DATE_TRUNC(d, WEEK(TUESDAY))", "LAST_DAY(d, ISOWEEK)",
    "DATE_DIFF(a, b, MONTH)", "DATETIME_DIFF(a, b, HOUR)",
    "ARRAY_SLICE(arr, 1, -1)", "IS_NAN(x)", "IS_INF(x)",
    "PARSE_TIMESTAMP('%Y-%m-%d %H:%M', s, 'Europe/Paris')",
    "CURRENT_DATE('Etc/GMT+12')", "SESSION_USER()", "TIME(ts, 'Asia/Tokyo')",
    "plain words", "commas, and, more", "(nested (parens))", "back`tick",
    "semicolon; inside", "percent % sign", "star *", "dots.and.paths")

  private def samples(rnd: scala.util.Random, n: Int): Seq[String] =
    (1 to n).map { _ =>
      (1 to 1 + rnd.nextInt(4)).map(_ => pool(rnd.nextInt(pool.size))).mkString(" ")
    }

  private lazy val rewrites: Seq[(String, String => String)] = GraftSql.passes(spark)

  test("quoted literal content is opaque to every rewrite") {
    val rnd = new scala.util.Random(42)
    for (content <- samples(rnd, 300)) {
      val lit = "'" + content.replace("'", "''") + "'"
      val sql = s"SELECT $lit AS v FROM t WHERE x = $lit"
      for ((name, f) <- rewrites) {
        val out = f(sql)
        assert(out.contains(lit),
          s"$name rewrote inside a quoted literal:\n in: $sql\nout: $out")
      }
    }
  }

  // `content` in every opaque token class Spark's lexer has; None
  // where the content cannot be spelled in that class
  private def opaqueForms(content: String): Seq[String] = {
    val esc = content.replace("\\", "\\\\")
    Seq(
      Some("'" + esc.replace("'", "\\'") + " \\' '"),
      Some("\"" + esc.replace("\"", "\\\"") + "\""),
      Seq('\'', '"').find(q => !content.contains(q)).map(q => s"R$q$content$q"),
      Some("`" + content.replace("`", "``") + "`"),
      Some(s"-- $content\n"),
      if (content.contains("*/") || content.contains("/*")) None
      else Some(s"/* outer /* $content */ still comment */")).flatten
  }

  test("literal, identifier and comment content is opaque to every pass") {
    val rnd = new scala.util.Random(42)
    val jobs = jobsStartedBy {
      for (content <- samples(rnd, 300); tok <- opaqueForms(content)) {
        val sql = s"SELECT $tok AS v FROM t WHERE x = 1 $tok"
        for ((name, f) <- rewrites) {
          val out = f(sql)
          assert(out.contains(tok),
            s"$name rewrote inside an opaque token:\n in: $sql\nout: $out")
        }
      }
    }
    assert(jobs == 0)
  }

  test("rewrites are identity on trigger-free SQL") {
    val benign = Seq(
      "SELECT a, b, COUNT(*) AS n FROM t GROUP BY a, b ORDER BY n DESC",
      "SELECT * FROM t JOIN u ON t.id = u.id WHERE t.x IN (1, 2, 3)",
      "WITH c AS (SELECT 1 AS one) SELECT one FROM c",
      "INSERT INTO t SELECT * FROM s WHERE s.v > 0",
      "SELECT CAST(x AS DATE) AS d, date_add(d2, 5) FROM t",
      "SELECT format_number(1234.5, 2), instr('abc', 'b') FROM t")
    for (sql <- benign; (name, f) <- rewrites)
      assert(f(sql) == sql, s"$name must be identity on: $sql")
  }

  test("the composed rewrite chain is idempotent on its own output") {
    // the whole chain in load's order: a rewrite applied to
    // already-rewritten text must change nothing — this is what makes
    // the internal fixpoint loops terminate, and what guarantees a
    // statement containing the EXPANSION of a macro (e.g. written by
    // hand in Spark dialect) is never re-mangled
    def chain(sql: String): String = rewrites.foldLeft(sql) { case (t, (_, f)) => f(t) }
    val triggerHeavy = Seq(
      "SELECT COUNTIF(x > 1) AS n, SAFE_DIVIDE(a, b) AS r FROM t",
      "SELECT GENERATE_ARRAY(1, 5, 2) AS g, GENERATE_DATE_ARRAY(lo, hi) AS d FROM t",
      "SELECT e FROM t, UNNEST(JSON_EXTRACT_ARRAY(j, '$.k')) AS e",
      "SELECT arr[OFFSET(1)] AS a, arr[ORDINAL(2)] AS b FROM t",
      "SELECT arr[SAFE_OFFSET(1)] AS a, t.arr[SAFE_ORDINAL(2)] AS b FROM t",
      "SELECT * REPLACE (x + 1 AS x) FROM t",
      "SELECT t.* EXCEPT (v) REPLACE (CAST(x AS STRING) AS x) FROM t",
      "SELECT STRING_AGG(v, '|' ORDER BY o DESC, v) AS s FROM t GROUP BY g",
      "SELECT ARRAY_AGG(v ORDER BY o LIMIT 3) AS a FROM t GROUP BY g",
      "SELECT APPROX_QUANTILES(x, 4) AS q, APPROX_TOP_COUNT(c, 3) AS tc FROM t",
      "SELECT ML.DISTANCE(va, vb, 'COSINE') AS d FROM t",
      "SELECT SAFE.CAST(s AS INT64) AS a, SAFE.PARSE_DATE('%Y-%m-%d', s) AS b FROM t",
      "SELECT TIMESTAMP_TRUNC(ts, HOUR) AS h, DATE_TRUNC(d, MONTH) AS m FROM t",
      "SELECT SPLIT(s, '|') AS p, EDIT_DISTANCE(a, b, 2) AS e FROM t",
      "SELECT NORMALIZE(s, NFKC) AS n, CONTAINS_SUBSTR(s, 'x') AS c FROM t",
      "SELECT x FROM t WHERE x IN UNNEST(allowed)",
      "SELECT x FROM t WHERE x NOT IN UNNEST(f(a, b))",
      "SELECT TIMESTAMP_DIFF(a, b, HOUR) AS h, DATE_ADD(d, INTERVAL 2 WEEK) AS w FROM t",
      "SELECT FORMAT_DATE('%Y/%m', d) AS s, ANY_VALUE(v HAVING MAX score) AS top FROM t",
      "SELECT * FROM big_t TABLESAMPLE SYSTEM (5 PERCENT)",
      "SELECT day FROM b, UNNEST(GENERATE_DATE_ARRAY(lo, hi)) AS day WITH OFFSET AS o",
      "SELECT JSON_SET(j, '$.a', 1, '$.b', 2) AS m, JSON_STRIP_NULLS(j) AS sn FROM t",
      "SELECT JSON_OBJECT('k', v) AS o, PARSE_JSON(s) AS p, JSON_TYPE(j) AS ty FROM t",
      "FROM t |> WHERE x > 1 |> AGGREGATE SUM(v) AS sv GROUP BY g |> ORDER BY g",
      "FROM t |> EXTEND a || b AS ab |> SELECT ab |> LIMIT 5",
      "SELECT TIME '12:34:56' AS t, TIME_ADD(TIME(ts), INTERVAL 5 MINUTE) AS t2 FROM t",
      "SELECT RANGE_CONTAINS(RANGE<DATE> '[2023-01-01, 2024-01-01)', d) AS c FROM t",
      "SELECT GENERATE_RANGE_ARRAY(RANGE(a, b), INTERVAL 7 DAY) AS rs FROM t",
      "SELECT DATE_BUCKET(d, INTERVAL 3 MONTH, DATE '1992-01-01') AS q FROM t",
      "SELECT TIMESTAMP_BUCKET(ts, INTERVAL 90 MINUTE) AS tb FROM t",
      "SELECT FORMAT('ev-%06d:%s', id, tag) AS f, LAST_DAY(d, QUARTER) AS le FROM t",
      "SELECT JSON_KEYS(j, mode => 'lax recursive') AS ks, SAFE.INT64(j) AS i FROM t",
      "SELECT BOOL(j) AS b, STRING(j2) AS s, FLOAT64(j3, wide_number_mode => 'round') AS f FROM t",
      "SELECT ML.FEATURE_CROSS(STRUCT(a, b)) AS fc, ML.POLYNOMIAL_EXPAND(STRUCT(p, q), 3) AS pe FROM t",
      "SELECT NET.IP_TO_STRING(NET.IP_TRUNC(NET.IP_FROM_STRING(s), 24)) AS n, NET.IPV4_TO_INT64(b) AS i FROM t",
      "SELECT TO_CODE_POINTS(s) AS c, CODE_POINTS_TO_STRING(a) AS r, UNICODE(s) AS u, CHR(x) AS ch FROM t",
      "SELECT INITCAP(s) AS i, INITCAP(s, '-') AS i2, SOUNDEX(s) AS sx, TRANSLATE(s, 'ab', 'xy') AS tr FROM t",
      "SELECT TEXT_ANALYZE(t1) AS ta, TEXT_ANALYZE(t2, analyzer => 'NO_OP_ANALYZER') AS tn FROM t",
      "SELECT MAKE_INTERVAL(1, 2, 3) AS i, MAKE_INTERVAL(day => 3, hour => 4) AS j FROM t",
      "SELECT JUSTIFY_INTERVAL(MAKE_INTERVAL(0, m, d)) AS ji, JUSTIFY_HOURS(i) AS jh FROM t",
      "SELECT EXTRACT(MONTH FROM JUSTIFY_DAYS(MAKE_INTERVAL(0, m, d))) AS jm FROM t",
      "SELECT ts + INTERVAL '1-2 3 4:5:6.5' YEAR TO SECOND AS t2, INTERVAL '10:20:30' HOUR TO SECOND AS hs FROM t",
      "SELECT EXTRACT(YEAR FROM DATE_ADD(d, INTERVAL 2 WEEK)) AS y FROM t",
      "SELECT RANGE_INTERSECT(RANGE(a, b), RANGE<DATE> '[1995-01-01, 1996-01-01)') AS ix FROM t",
      "SELECT ML.LABEL_ENCODER(f, 1000, 1) OVER () AS le, ML.ONE_HOT_ENCODER(f, 'none', 9, 1) OVER () AS oh FROM t")
    for (sql <- triggerHeavy) {
      val once = chain(sql)
      assert(chain(once) == once,
        s"chain is not idempotent:\nonce:  $once\ntwice: ${chain(once)}")
    }
  }
}
