package graft
package faces

import org.apache.spark.sql.{Column, DataFrame, SparkSession, functions => F}
import graft.sources.Tables

/** What the driver faces share: exact-parity aggregates, fixture
  * decorations and their SQL replays, pinned fixture tables, and the
  * DuckDB helpers several oracles build on.
  *
  * Float-parity rule used throughout: any order-sensitive double
  * aggregate goes through `CAST(... AS DECIMAL(30,s))` on BOTH sides,
  * so the sum is exact and engine-order-independent, then is cast back
  * to double (bit-identical in Spark and DuckDB). Per-row double
  * arithmetic mirrors the oracle expression structure exactly.
  */
private[graft] object Kit {

  /** Exact, order-independent sums of double expressions. The decimal
    * scale must match the true decimal width of the data (all money
    * columns in the corpus are 2dp; 2dp×2dp products are 4dp, triple
    * products 6dp): value×10^scale then stays well inside the exactly
    * representable double range, so Spark's exact binary→decimal
    * conversion and DuckDB's multiply-and-round cast land on the same
    * decimal, making the sum bit-identical across engines. Products
    * are rounded to their true width first (no midpoint exists — the
    * true value IS a grid point — so both engines agree).
    */
  private[faces] def dsum(c: Column): Column = F.sum(c.cast("decimal(30,2)")).cast("double")
  private[faces] def dsum4(c: Column): Column = F.sum(F.round(c, 4).cast("decimal(30,4)")).cast("double")
  private[faces] def dsum6(c: Column): Column = F.sum(F.round(c, 6).cast("decimal(30,6)")).cast("double")
  /** Exact-parity average (decimal sum / count). */
  private[faces] def davg(c: Column): Column = dsum(c) / F.count(F.lit(1))

  private[faces] def evDay(c: Column): Column = F.to_date(F.date_trunc("day", c))
  /** The A45 change-history fixture: a 4-commit Versioned table over
    * event thirds at pinned timestamps — append, append, an overwrite
    * that drops clicks and doubles purchase values (so the diff holds
    * pure DELETEs and DELETE+INSERT update pairs), and a final
    * append. Built once per JVM and sf dir, shared by
    * sql_appends/sql_changes.
    */
  private[faces] def changesFixture(s: SparkSession, d: String): String =
    Scratch.fixture(d, "changes") { dir =>
      val e = Tables.events(s, d)
        .select(F.col("event_id"), F.col("event_type"), F.col("value"))
      def third(i: Int) = e.filter(F.pmod(F.col("event_id"), F.lit(3)) === i)
      def ts(lit: String) = Some(graft.GraftSql.parseTsLiteralUs(lit))
      graft.sources.Versioned.append(third(0), dir, ts("2024-01-01 00:00:00"))
      graft.sources.Versioned.append(third(1), dir, ts("2024-01-02 00:00:00"))
      val rewritten = e.filter(F.pmod(F.col("event_id"), F.lit(3)) < 2)
        .filter(F.col("event_type") =!= "click")
        .withColumn("value", F.when(F.col("event_type") === "purchase",
          F.col("value") * 2).otherwise(F.col("value")))
      graft.sources.Versioned.overwrite(rewritten, dir, ts("2024-01-03 00:00:00"))
      graft.sources.Versioned.append(third(2), dir, ts("2024-01-04 00:00:00"))
    }

  /** D8b/D12 fixture codebooks: subvector slices of every 32nd corpus
    * vector (anchors taken verbatim from the data, no k-means) — the
    * pinned law the ann_pq_topk_pinned oracle replays.
    */
  private[faces] def pinnedPqCodebooks(e: DataFrame, m: Int = 8): Seq[Seq[Seq[Float]]] = {
    // the 256 cap is PqEncode's byte-code ceiling; both DuckDB oracles
    // model it (ORDER BY vec_id LIMIT 256 in their anch CTE), so the
    // replay stays exact even if the harness ever runs at a scale
    // (>= ~8200 vectors) where the cap binds
    val anchors = e.filter(F.col("vec_id") % 32 === 1).orderBy("vec_id").limit(256)
      .select("embedding").collect().map(_.getSeq[Float](0).toArray)
    val dsub = anchors.head.length / m
    (0 until m).map(sq => anchors.toSeq.map(a => a.slice(sq * dsub, (sq + 1) * dsub).toSeq))
  }

  /** E15b fixture: odd docs get a doc_id-derived token no even
    * (training-half) doc can contain, so the unseen backoff level is
    * guaranteed to fire alongside tri/bi/uni.
    */
  private[faces] def backoffFixture(docs: DataFrame): DataFrame =
    docs.withColumn("text",
      F.when(F.col("doc_id") % 2 === 1,
        F.concat(F.col("text"), F.lit(" zq"), F.col("doc_id").cast("string")))
        .otherwise(F.col("text")))

  // Reference load-strategy fixtures: the "existing table" is events
  // minus every 10th row; the incoming "batch" is every 3rd row (so it
  // overlaps the table — the interesting idempotency case).
  private[faces] def fxTarget(e: DataFrame): DataFrame =
    e.filter(F.col("event_id") % 10 =!= 0).select("event_id", "user_id", "value")
  private[faces] def fxBatch(e: DataFrame): DataFrame =
    e.filter(F.col("event_id") % 3 === 0).select("event_id", "user_id", "value")

  // E16/E17 driver-query decorations (the proven E7/E11 recipe): the
  // fixture corpus is single-line word salad, so each document gains
  // deterministic rule-triggering structure keyed on doc_id — bullets,
  // ellipsis lines, symbol runs, numeric and very-long tokens for
  // Gopher; a rendered multi-line page for C4 — and the oracle replays
  // the identical CASE/concat construction. Shared with
  // QualityRulesSpec so the spec pins that every rule fires both ways.
  private[graft] def gopherDecorated: Column = F.concat(
    F.col("text"),
    F.when(F.col("doc_id") % 4 === 0,
      "\n• bullet point one\n• bullet point two\n* bullet item three").otherwise(""),
    F.when(F.col("doc_id") % 20 === 0,
      (1 to 12).map(i => s"\n• extra bullet $i").mkString).otherwise(""),
    F.when(F.col("doc_id") % 13 === 0,
      "\nto be continued...\nand more soon...\nstill more...\nnearly done...\nfinal thought...").otherwise(""),
    F.when(F.col("doc_id") % 6 === 0,
      " 1234567890 2234567890 3234567890 4234567890 5234567890 6234567890" +
        " 7234567890 8234567890 9234567890 1034567890 1134567890 1234567891").otherwise(""),
    F.when(F.col("doc_id") % 11 === 0,
      " pneumonoultramicroscopicsilicovolcanoconiosis supercalifragilisticexpialidocious" +
        " honorificabilitudinitatibus floccinaucinihilipilification" +
        " antidisestablishmentarianism pseudopseudohypoparathyroidism").otherwise(""),
    F.when(F.col("doc_id") % 17 === 0, " ## ### #").otherwise(""))

  private[graft] val gopherDriverThresholds =
    graft.operators.QualityRules.GopherThresholds(
      minWords = 40, maxWords = 100000,
      minMeanWordLen = 3.0, maxMeanWordLen = 6.0,
      maxSymbolWordRatio = 0.1, maxBulletLineFrac = 0.9,
      maxEllipsisLineFrac = 0.3, minAlphaWordFrac = 0.8,
      minStopwords = 2, stopwords = Seq("the", "a", "and", "of", "to"))

  private[graft] def repetitionDecorated: Column = F.concat(
    F.col("text"),
    F.when(F.col("doc_id") % 8 === 0,
      "\nrepeated chrome line here\nrepeated chrome line here\nrepeated chrome line here")
      .otherwise(""),
    F.when(F.col("doc_id") % 12 === 0,
      " spam spam spam spam spam spam spam spam").otherwise(""))

  // E16c fixture: %4 docs gain a 12-token phrase repeated twice (dup
  // n-grams for every n <= 12 — the fail side of all six rules); %6
  // docs gain a 5-token phrase repeated twice (dup 5-grams ONLY, and
  // whether the 5-gram rule fires depends on the doc's own length —
  // both ways within the %6 cohort)
  // S11 fixture: md5-derived integer centi-nat weights (±1000) per
  // bucket — the same 52-bit md5-prefix law the oracle replays, so the
  // driver query needs no libm fit
  private[graft] val dsirBuckets = 4096
  private[graft] lazy val dsirFixtureWeights: Array[Long] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    (0 until dsirBuckets).map { b =>
      val hex = md.digest(s"w:$b".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.substring(0, 13)
      (java.lang.Long.parseLong(hex, 16) % 2001L) - 1000L
    }.toArray
  }

  // E19 fixture: a pinned WELL-FORMED merge table (every component is
  // a character or the output of a LOWER-ranked merge — the invariant
  // every trained table has by construction). Well-formedness is what
  // makes ApplyBpe's min-rank iterative application equal to the
  // oracle's sequential one-pass-per-rank replay: a merge's output
  // symbol only participates in HIGHER-ranked merges, so finishing
  // rank r can never re-enable a rank < r (and a pair cannot recreate
  // itself — its output differs from both parts). BpeSpec pins the
  // equivalence against a driver-side sequential reference.
  private[graft] val bpeFixtureMerges: Seq[(String, String)] = Seq(
    ("t", "h"), ("th", "e"), ("i", "n"), ("a", "n"), ("o", "n"), ("e", "r"),
    ("an", "d"), ("in", "g"), ("o", "u"), ("s", "t"), ("e", "n"), ("o", "r"))

  /** The oracle's sequential-replay spelling of [[bpeFixtureMerges]]:
    * words ride as `~~`-separated character strings (`~` is absent
    * from the fixture corpus — pure [a-z0-9 ]), and each merge is one
    * left-to-right non-overlapping `replace('~a~~b~' -> '~ab~')` —
    * boundary-anchored on both sides, and the shared `~` between
    * adjacent occurrences survives because each occurrence consumes
    * only its own inner separators.
    */
  private[graft] def bpeOracleChain(base: String): String =
    bpeOracleChainOf(base, bpeFixtureMerges)

  private[graft] def bpeOracleChainOf(base: String,
                                      ms: Seq[(String, String)]): String =
    ms.foldLeft(base) { case (e, (a, b)) =>
      s"replace($e, '~$a~~$b~', '~$a$b~')"
    }

  // the SAME fixture under the byte-level 2-hex renaming: on a pure-
  // ASCII corpus byte-level BPE IS char-level BPE with hex symbol
  // names (1 char = 1 byte), so the table transports verbatim
  private[graft] val bpeByteFixtureMerges: Seq[(String, String)] =
    bpeFixtureMerges.map { case (a, b) =>
      def hx(s: String) = s.getBytes("UTF-8").map(c => f"${c & 0xff}%02X").mkString
      (hx(a), hx(b))
    }

  /** A full INDEPENDENT replay of BPE TRAINING in DuckDB: vanilla
    * one-merge-at-a-time rounds, unrolled as chained CTEs — round i
    * recounts adjacent pairs over the current symbol state (weight =
    * Σ word-frequency, ties to the lexicographically smallest pair,
    * pairs below weight 2 never merge), picks the argmax, and applies
    * it with the same boundary-anchored replace [[bpeOracleChain]]
    * uses (words ride as `~~`-separated symbol strings; the corpus is
    * pure [a-z0-9 ], so `~` is free). Bpe.train's BATCHED rounds are
    * provably equal to this sequential schedule (BpeSpec pins the
    * equivalence), so the trained merge table hashes against the
    * replay directly. Early exhaustion matches: an empty round leaves
    * the state unchanged and contributes no row.
    */
  private[graft] def bpeTrainOracleSql(rounds: Int, byteLevel: Boolean = false): String = {
    // byte level: round-0 symbols are the word's UTF-8 bytes as
    // fixed-width hex pairs — hex(encode(w)) chunked by twos replays
    // Spark's substr(hex(CAST(w AS BINARY))) tokens exactly
    val s0 =
      if (byteLevel) """s0 AS (SELECT '~~' || regexp_replace(hex(encode(w)), '(..)', '\1~~', 'g') AS s, n FROM words)"""
      else """s0 AS (SELECT '~~' || regexp_replace(w, '(.)', '\1~~', 'g') AS s, n FROM words)"""
    val head =
      """WITH w0 AS (SELECT unnest(list_filter(
        |    string_split_regex(lower(trim(text)), '\s+'), x -> len(x) > 0)) AS w
        |  FROM documents),
        |words AS (SELECT w, COUNT(*) AS n FROM w0 GROUP BY w),
        |""".stripMargin + s0
    val roundsSql = (1 to rounds).map { i =>
      s"""p$i AS (SELECT syms[i] AS a, syms[i+1] AS b, CAST(SUM(n) AS BIGINT) AS w
         |  FROM (SELECT syms, n, unnest(range(1, len(syms))) AS i
         |        FROM (SELECT list_filter(string_split(s, '~~'), x -> len(x) > 0) AS syms, n
         |              FROM s${i - 1}))
         |  GROUP BY a, b HAVING SUM(n) >= 2),
         |m$i AS (SELECT a, b, w FROM p$i ORDER BY w DESC, a, b LIMIT 1),
         |s$i AS (SELECT CASE WHEN m.a IS NULL THEN s
         |               ELSE replace(s, '~' || m.a || '~~' || m.b || '~',
         |                            '~' || m.a || m.b || '~') END AS s, n
         |        FROM s${i - 1} LEFT JOIN m$i m ON TRUE)""".stripMargin
    }.mkString(",\n", ",\n", "\n")
    val union = (1 to rounds).map { i =>
      s"""SELECT $i AS rank, a AS "left", b AS "right", a || b AS merged, w AS weight FROM m$i"""
    }.mkString("SELECT * FROM (\n", "\nUNION ALL ", ") ORDER BY rank")
    head + roundsSql + union
  }

  // Round-7 URL decorations (the E7 recipe): documents carry no URL,
  // so derive a deterministic messy URL per doc_id exercising every
  // normalization rule — mixed scheme/host case, default and explicit
  // ports, trailing slashes, unsorted query params, fragments, and an
  // un-normalizable row class (%11) that must surface as NULL
  private[graft] def messyUrl: Column = {
    val even = F.col("doc_id") % 2 === 0
    val host0 = F.concat(F.lit("ex"), (F.col("doc_id") % 7).cast("string"), F.lit(".org"))
    val built = F.concat(
      F.when(even, F.lit("HTTP")).otherwise(F.lit("https")), F.lit("://"),
      F.when(F.col("doc_id") % 3 === 0, F.upper(host0)).otherwise(host0),
      F.when(F.col("doc_id") % 4 === 0, F.lit(":80"))
        .when(F.col("doc_id") % 4 === 1, F.lit(":443"))
        .when(F.col("doc_id") % 4 === 2, F.lit(":8080"))
        .otherwise(F.lit("")),
      F.when(F.col("doc_id") % 9 === 0, F.lit(""))
        .otherwise(F.concat(F.lit("/a"), (F.col("doc_id") % 5).cast("string"),
          F.when(even, F.lit("")).otherwise(F.lit("/")))),
      F.when(F.col("doc_id") % 5 === 0, F.lit("?b=2&a=1"))
        .when(F.col("doc_id") % 5 === 1, F.lit("?a=1&b=2"))
        .when(F.col("doc_id") % 5 === 2, F.lit("?z=9"))
        .otherwise(F.lit("")),
      F.when(F.col("doc_id") % 6 === 0, F.lit("#sec-2")).otherwise(F.lit("")))
    F.when(F.col("doc_id") % 11 === 0,
      F.concat(F.lit("bad url "), F.col("doc_id").cast("string"))).otherwise(built)
  }

  private[faces] val messyUrlSql: String =
    "CASE WHEN doc_id % 11 = 0 THEN 'bad url ' || CAST(doc_id AS VARCHAR) ELSE " +
      "CASE WHEN doc_id % 2 = 0 THEN 'HTTP' ELSE 'https' END || '://' || " +
      "CASE WHEN doc_id % 3 = 0 THEN upper('ex' || CAST(doc_id % 7 AS VARCHAR) || '.org') " +
      "ELSE 'ex' || CAST(doc_id % 7 AS VARCHAR) || '.org' END || " +
      "CASE WHEN doc_id % 4 = 0 THEN ':80' WHEN doc_id % 4 = 1 THEN ':443' " +
      "WHEN doc_id % 4 = 2 THEN ':8080' ELSE '' END || " +
      "CASE WHEN doc_id % 9 = 0 THEN '' ELSE '/a' || CAST(doc_id % 5 AS VARCHAR) || " +
      "CASE WHEN doc_id % 2 = 0 THEN '' ELSE '/' END END || " +
      "CASE WHEN doc_id % 5 = 0 THEN '?b=2&a=1' WHEN doc_id % 5 = 1 THEN '?a=1&b=2' " +
      "WHEN doc_id % 5 = 2 THEN '?z=9' ELSE '' END || " +
      "CASE WHEN doc_id % 6 = 0 THEN '#sec-2' ELSE '' END END"

  // URL-dedup fixture: consecutive id pairs render DIFFERENT messy
  // spellings of the SAME resource, so normalization is what collapses
  // them (min-id witness = the even id)
  private[graft] def dupUrl: Column = {
    val grp = F.floor(F.col("doc_id") / 2).cast("string")
    F.when(F.col("doc_id") % 2 === 0,
      F.concat(F.lit("HTTP://DUP.org:80/p"), grp, F.lit("?b=2&a=1")))
      .otherwise(F.concat(F.lit("http://dup.org/p"), grp, F.lit("/?a=1&b=2#x")))
  }

  private[faces] val dupUrlSql: String =
    "CASE WHEN doc_id % 2 = 0 THEN 'HTTP://DUP.org:80/p' || " +
      "CAST(CAST(floor(doc_id / 2) AS BIGINT) AS VARCHAR) || '?b=2&a=1' " +
      "ELSE 'http://dup.org/p' || CAST(CAST(floor(doc_id / 2) AS BIGINT) AS VARCHAR) || " +
      "'/?a=1&b=2#x' END"

  // the DuckDB replay of Url.normalize over a `u(doc_id, url)` CTE —
  // shared by the three URL oracles (single-backslash regexes: these
  // land in non-interpolated SQL through s-string \\ escapes)
  private[faces] def urlNormSql(inner: String): String =
    s"""$inner,
       |n AS (SELECT doc_id, url,
       |  lower(regexp_extract(trim(url), '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
       |  regexp_replace(regexp_replace(trim(url), '^[A-Za-z][A-Za-z0-9+.-]*://', ''), '#.*$$', '') AS nofrag
       |  FROM u),
       |p AS (SELECT doc_id, url, scheme,
       |  regexp_extract(nofrag, '^([^/?]*)', 1) AS authority,
       |  regexp_replace(nofrag, '^[^/?]*', '') AS after_auth FROM n),
       |q AS (SELECT doc_id, url, scheme,
       |  lower(regexp_extract(authority, '^([^:]*)', 1)) AS host,
       |  regexp_extract(authority, ':([0-9]+)$$', 1) AS port,
       |  regexp_extract(after_auth, '^([^?]*)', 1) AS path,
       |  regexp_extract(after_auth, '\\?(.*)$$', 1) AS query FROM p),
       |norm AS (SELECT doc_id, url,
       |  CASE WHEN scheme = '' OR host = '' THEN NULL ELSE
       |    scheme || '://' || host ||
       |    CASE WHEN port = '' OR (scheme = 'http' AND port = '80')
       |              OR (scheme = 'https' AND port = '443')
       |         THEN '' ELSE ':' || port END ||
       |    CASE WHEN regexp_replace(path, '/+$$', '') = '' THEN '/'
       |         ELSE regexp_replace(path, '/+$$', '') END ||
       |    CASE WHEN query = '' THEN ''
       |         ELSE '?' || array_to_string(list_sort(string_split(query, '&')), '&') END
       |  END AS url_norm FROM q)""".stripMargin

  // C13 fixture: the embeddings table has no natural near-dups (max
  // pairwise cosine ≈ 0.51), so inject replicas — ×2-scaled copies
  // (cosine exactly 1 but different BYTES: semantic, not byte
  // equality; ×2 is float-exact so both engines see identical bits)
  // and exact copies, with %40 ids forming 3-member transitive chains
  private[graft] def semanticFixture(e: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val base = e.select("vec_id", "embedding")
    val scaled = e.filter(F.col("vec_id") % 20 === 0)
      .select((F.col("vec_id") + 10000L).as("vec_id"),
        F.transform(F.col("embedding"), (x: Column) => x * F.lit(2.0f)).as("embedding"))
    val exact = e.filter(F.col("vec_id") % 40 === 0)
      .select((F.col("vec_id") + 20000L).as("vec_id"), F.col("embedding"))
    base.unionByName(scaled).unionByName(exact)
  }

  private[graft] val dupPhraseLong: String =
    "lorem ipsum dolor sit amet consectetur adipiscing elit sed do eiusmod tempor"
  private[graft] val dupPhraseShort: String = "foo bar baz qux quux"
  private[graft] def dupNGramDecorated: Column = F.concat(
    F.col("text"),
    F.when(F.col("doc_id") % 4 === 0,
      s" $dupPhraseLong $dupPhraseLong").otherwise(""),
    F.when(F.col("doc_id") % 6 === 0,
      s" $dupPhraseShort $dupPhraseShort").otherwise(""))

  private[graft] def c4Decorated: Column = F.concat(
    F.lit("Opening sentence number "), F.col("doc_id").cast("string"),
    F.lit(" stands here.\n"), F.col("text"),
    F.when(F.col("doc_id") % 3 === 0,
      "\nThis sentence ends with a period too.").otherwise(""),
    F.when(F.col("doc_id") % 5 === 0,
      "\nAnother good sentence appears right here!").otherwise(""),
    F.when(F.col("doc_id") % 9 === 0,
      "\nPlease enable javascript for the dynamic view.").otherwise(""),
    F.when(F.col("doc_id") % 7 === 0, "\nShort one.").otherwise(""),
    F.when(F.col("doc_id") % 50 === 0,
      "\nlorem ipsum dolor sit amet.").otherwise(""),
    F.when(F.col("doc_id") % 41 === 0,
      "\nconfig = { debug: true }").otherwise(""))

  // the SCD2 run collapse as DuckDB windows, shared by fx_scd2 and
  // fx_scd2_incremental
  private[faces] val scd2OracleSql =
    """WITH h AS (
      |  SELECT event_type, event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us,
      |         CAST(floor(value / 10) AS BIGINT) AS band
      |  FROM events
      |), c AS (
      |  SELECT event_type, event_id, ts_us, band, lag(band) OVER w AS prev,
      |         lag(event_id) OVER w AS prev_id
      |  FROM h WINDOW w AS (PARTITION BY event_type ORDER BY ts_us, event_id)
      |), s AS (
      |  -- run start = first row of the key (prev_id NULL — event_id is
      |  -- non-null, so this is a true first-row test even if band were
      |  -- NULL) or a band change under null-safe comparison, matching
      |  -- Spark's <=> exactly (a non-null→NULL transition is a start)
      |  SELECT * FROM c WHERE prev_id IS NULL OR band IS DISTINCT FROM prev
      |)
      |SELECT event_type, band, ts_us AS vf_us,
      |       lead(ts_us) OVER w2 AS vt_us,
      |       lead(ts_us) OVER w2 IS NULL AS is_current
      |FROM s WINDOW w2 AS (PARTITION BY event_type ORDER BY ts_us, event_id)
      |ORDER BY event_type, vf_us""".stripMargin

  // cosine and the MMR/k-means replays the similarity oracles build on
  private[faces] def dot(a: String, b: String): String =
    s"list_aggregate(list_transform(list_zip($a, $b), x -> CAST(x[1] AS DOUBLE)*CAST(x[2] AS DOUBLE)), 'sum')"
  private[faces] def cosSql(a: String, b: String): String =
    s"${dot(a, b)} / (sqrt(${dot(a, a)}) * sqrt(${dot(b, b)}))"
  // the m=8 greedy MMR steps as chained CTEs: pick r = per-qid argmax
  // of 0.75·score − 0.25·max-cos-to-selected (QUALIFY rn=1, id tie),
  // state r = the selected ids + vectors so far
  private[faces] val mmrSteps: String = (2 to 8).map { r =>
    val p = r - 1
    s"""p$r AS (
       |  SELECT c.qid, c.vec_id, c.vec,
       |         0.75*c.score - 0.25*list_max(list_transform(s$p.vecs, sv -> ${cosSql("c.vec", "sv")})) AS mmr
       |  FROM cand c JOIN s$p ON c.qid = s$p.qid
       |  WHERE NOT list_contains(s$p.ids, c.vec_id)
       |  QUALIFY row_number() OVER (PARTITION BY c.qid ORDER BY mmr DESC, c.vec_id) = 1),
       |s$r AS (SELECT s$p.qid, list_append(s$p.ids, p$r.vec_id) AS ids,
       |               list_append(s$p.vecs, p$r.vec) AS vecs
       |        FROM s$p JOIN p$r ON s$p.qid = p$r.qid),""".stripMargin
  }.mkString("\n")
  private[faces] val mmrUnion: String = (1 to 8).map(r => s"SELECT qid, vec_id, $r AS r, mmr FROM p$r")
    .mkString("\n  UNION ALL ")
  // k-means replay: strict fold-order squared-L2 (mirrors
  // NearestCentroidL2's index-order accumulation bit for bit)
  private[faces] def kmDist(v: String, c: String): String =
    s"list_aggregate(list_transform(list_zip($v, $c), " +
      "p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)) * " +
      "(CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))), 'sum')"
  // one Lloyd iteration: assign to argmin (ties -> lowest cluster),
  // exact integer per-(cluster, dim) sums, centroid = sum/n as ONE
  // double division; an emptied cluster keeps its previous centroid
  private[faces] def kmIter(i: Int): String = {
    val prev = s"kc${i - 1}"
    s"""kd$i AS (SELECT cd.vec_id, cd.v, cc.cluster, ${kmDist("cd.v", "cc.c")} AS dist
       |         FROM km_codes cd CROSS JOIN $prev cc),
       |ka$i AS (SELECT vec_id, v, cluster FROM (
       |           SELECT vec_id, v, cluster,
       |                  row_number() OVER (PARTITION BY vec_id ORDER BY dist, cluster) AS rn
       |           FROM kd$i) WHERE rn = 1),
       |ks$i AS (SELECT cluster, unnest(range(len(v))) AS dim, unnest(v) AS x FROM ka$i),
       |kg$i AS (SELECT cluster, dim, SUM(x) AS sm, COUNT(*) AS n FROM ks$i GROUP BY 1, 2),
       |kc$i AS (SELECT p.cluster, coalesce(m.c, p.c) AS c
       |         FROM $prev p LEFT JOIN (
       |           SELECT cluster, list(CAST(sm AS DOUBLE) / n ORDER BY dim) AS c
       |           FROM kg$i GROUP BY cluster) m ON p.cluster = m.cluster),""".stripMargin
  }
}
