package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession, functions => F}
import org.apache.spark.sql.expressions.Window
import graft.sources.Tables
import graft.operators.{AsOf, Dedup, Profile, Similarity, Skew, Upsert}
import graft.functions.{text => T}
import graft.multimodal.Multimodal

/** Driver contract — one `queries` entry per SURVEY.md §2 operator,
  * with DuckDB `oracleSql` wherever the semantics are SQL-expressible.
  *
  * Float-parity rule used throughout: any order-sensitive double
  * aggregate goes through `CAST(... AS DECIMAL(30,s))` on BOTH sides,
  * so the sum is exact and engine-order-independent, then is cast back
  * to double (bit-identical in Spark and DuckDB). Per-row double
  * arithmetic mirrors the oracle expression structure exactly.
  */
object SparkEntry {

  /** Flagship query on sf=0.001; driver smoke-checks rows>0.
    * q1_agg: always 6 (returnflag, linestatus) groups — robust to the
    * sparse dimension chains of the smallest scale factor (q5 yields a
    * single row there).
    */
  def entry(spark: SparkSession): DataFrame =
    queries("q1_agg")(spark, "/root/testdata/sf0.001")

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
  private def dsum(c: Column): Column = F.sum(c.cast("decimal(30,2)")).cast("double")
  private def dsum4(c: Column): Column = F.sum(F.round(c, 4).cast("decimal(30,4)")).cast("double")
  private def dsum6(c: Column): Column = F.sum(F.round(c, 6).cast("decimal(30,6)")).cast("double")
  /** Exact-parity average (decimal sum / count). */
  private def davg(c: Column): Column = dsum(c) / F.count(F.lit(1))

  private def evDay(c: Column): Column = F.to_date(F.date_trunc("day", c))

  /** Fresh scratch base for a streaming face: one deterministic path
    * per (face, sf), wiped at face start so every run — including the
    * repeated in-session Bench reps — replays the identical trajectory
    * from an empty checkpoint.
    */
  /** Run `f` with a reduced shuffle-partition count: a stateful
    * streaming query creates one state-store instance per shuffle
    * partition PER micro-batch (checkpoint delta files included), so
    * at calibration scale the default 32 partitions cost more in
    * store commits than in data — 8 keeps the operator exercised at
    * a quarter of the fixed overhead. The state partition count is
    * pinned at the checkpoint's FIRST run; the stream faces wipe
    * their checkpoints per run, so the setting always takes.
    */
  private def withShufflePartitions[T](s: SparkSession, n: Int)(f: => T): T = {
    val prev = s.conf.get("spark.sql.shuffle.partitions")
    s.conf.set("spark.sql.shuffle.partitions", n.toString)
    try f finally s.conf.set("spark.sql.shuffle.partitions", prev)
  }

  /** Shuffle-partition count for the stream faces (r17):
    * micro-batch state volume, not core count, sizes these — conf
    * `spark.graft.stream.shuffle.partitions` / env
    * SPARK_GRAFT_STREAM_PARTS for A/B and cluster overrides.
    */
  private def streamShufflePartitions(s: SparkSession): Int =
    s.conf.get("spark.graft.stream.shuffle.partitions",
      sys.env.getOrElse("SPARK_GRAFT_STREAM_PARTS", "8")).toInt

  /** Construct `f`'s frames with the calibration scan fan-out
    * (Tables.fanOut) ENABLED — r17, opt-in per face after A/B
    * measurement: the fan-out parallelizes a single-row-group scan's
    * downstream map work (JSON parse 2.4x, gopher folds 2.0-2.4x,
    * DSIR scoring 2.3x measured at sf0.1/32 cores), but a face that
    * references the same table from many subtrees or runs many small
    * jobs pays the exchange per reference and REGRESSES — so the
    * default is off and only measured winners wrap their body. The
    * conf is read at frame-construction time, so wrapping the face
    * body is exact.
    */
  private def withFanout[T](s: SparkSession)(f: => T): T = {
    val prev = s.conf.getOption("spark.graft.scan.fanout")
    s.conf.set("spark.graft.scan.fanout", "on")
    try f finally prev match {
      case Some(v) => s.conf.set("spark.graft.scan.fanout", v)
      case None => s.conf.unset("spark.graft.scan.fanout")
    }
  }

  private def streamScratch(s: SparkSession, d: String, tag: String): String = {
    val base = s"${System.getProperty("java.io.tmpdir")}/graft_stream_${tag}_" +
      d.replaceAll("[^A-Za-z0-9]", "_")
    val p = new org.apache.hadoop.fs.Path(base)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.delete(p, true)
    fs.mkdirs(p)
    base
  }

  // Reference load-strategy fixtures: the "existing table" is events
  // minus every 10th row; the incoming "batch" is every 3rd row (so it
  // overlaps the table — the interesting idempotency case).
  private val rawJsonFeeds = scala.collection.mutable.Set.empty[String]
  private val versionedFixtures = scala.collection.mutable.Set.empty[String]

  /** The A45 change-history fixture: a 4-commit Versioned table over
    * event thirds at pinned timestamps — append, append, an overwrite
    * that drops clicks and doubles purchase values (so the diff holds
    * pure DELETEs and DELETE+INSERT update pairs), and a final
    * append. Built once per sf dir, shared by sql_appends/sql_changes.
    */
  private def changesFixture(s: SparkSession, d: String): String = {
    val dir = s"${System.getProperty("java.io.tmpdir")}/graft_changes_${d.replaceAll("[^A-Za-z0-9]", "_")}"
    versionedFixtures.synchronized {
      if (!versionedFixtures.contains(dir)) {
        val have = try graft.sources.Versioned.commits(s, dir).size catch { case _: Exception => -1 }
        if (have != 4) {
          val p = new org.apache.hadoop.fs.Path(dir)
          val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
          if (fs.exists(p)) fs.delete(p, true)
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
        versionedFixtures += dir
      }
    }
    dir
  }

  private val ivfPqLayouts = scala.collection.mutable.Set.empty[String]

  /** D8b/D12 fixture codebooks: subvector slices of every 32nd corpus
    * vector (anchors taken verbatim from the data, no k-means) — the
    * pinned law the ann_pq_topk_pinned oracle replays.
    */
  private def pinnedPqCodebooks(e: DataFrame, m: Int = 8): Seq[Seq[Seq[Float]]] = {
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
  private def backoffFixture(docs: DataFrame): DataFrame =
    docs.withColumn("text",
      F.when(F.col("doc_id") % 2 === 1,
        F.concat(F.col("text"), F.lit(" zq"), F.col("doc_id").cast("string")))
        .otherwise(F.col("text")))

  private def fxTarget(e: DataFrame): DataFrame =
    e.filter(F.col("event_id") % 10 =!= 0).select("event_id", "user_id", "value")
  private def fxBatch(e: DataFrame): DataFrame =
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

  private val messyUrlSql: String =
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

  private val dupUrlSql: String =
    "CASE WHEN doc_id % 2 = 0 THEN 'HTTP://DUP.org:80/p' || " +
      "CAST(CAST(floor(doc_id / 2) AS BIGINT) AS VARCHAR) || '?b=2&a=1' " +
      "ELSE 'http://dup.org/p' || CAST(CAST(floor(doc_id / 2) AS BIGINT) AS VARCHAR) || " +
      "'/?a=1&b=2#x' END"

  // the DuckDB replay of Url.normalize over a `u(doc_id, url)` CTE —
  // shared by the three URL oracles (single-backslash regexes: these
  // land in non-interpolated SQL through s-string \\ escapes)
  private def urlNormSql(inner: String): String =
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

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ───────────────────────── A. reference FX-ETL semantics ─────────────────────────
    "fx_ingest_json" -> ((s, d) => {
      val e = Tables.events(s, d)
      e.select(
          F.col("event_id"),
          F.from_json(F.col("props"), org.apache.spark.sql.types.StructType(Seq(org.apache.spark.sql.types.StructField("k", org.apache.spark.sql.types.IntegerType)))).getField("k").as("k"),
          F.col("event_type"), F.col("value"))
        .orderBy("event_id")
    }),
    // the reference's actual extract output shape: raw JSON FILES →
    // explicit-schema typed load (LoadJobConfig equivalent). The JSON
    // feed is materialized from the events table (deterministic
    // round-trip), then read back through the RawJson loader.
    "fx_ingest_raw_json" -> ((s, d) => withFanout(s) {
      // fixture: materialize the feed once per (JVM, sf) — repeated
      // invocations (bench runs 3×) should time the LOADER, not the
      // deterministic fixture write
      val jsonDir = s"${System.getProperty("java.io.tmpdir")}/graft_rawjson_${d.replaceAll("[^A-Za-z0-9]", "_")}"
      rawJsonFeeds.synchronized {
        if (!rawJsonFeeds.contains(jsonDir)) {
          Tables.events(s, d).select(F.to_json(F.struct(
              F.col("event_id"), F.col("user_id"), F.col("event_type"), F.col("value"),
              F.unix_micros(F.col("ts")).as("ts_us"))).as("value"))
            .write.mode("overwrite").text(jsonDir)
          rawJsonFeeds += jsonDir
        }
      }
      graft.sources.RawJson.loadEvents(s, jsonDir)
        .select(F.col("event_id"), F.col("user_id"), F.col("event_type"), F.col("value"),
          F.to_date(F.col("ts")).as("day"))
        .orderBy("event_id")
    }),
    "fx_idempotent_append" -> ((s, d) => {
      val e = Tables.events(s, d)
      Upsert.idempotentAppend(fxTarget(e), fxBatch(e), Seq("event_id")).orderBy("event_id")
    }),
    "fx_merge_upsert" -> ((s, d) => {
      val e = Tables.events(s, d)
      val source = fxBatch(e).withColumn("value", F.col("value") * 2)
      Upsert.merge(fxTarget(e), source, Seq("event_id")).orderBy("event_id")
    }),
    "fx_daily_report" -> ((s, d) => {
      Tables.events(s, d)
        .groupBy(evDay(F.col("ts")).as("day"), F.col("event_type"))
        .agg(davg(F.col("value")).as("avg_value"), F.count(F.lit(1)).as("n"))
        .orderBy("day", "event_type")
    }),
    "fx_latest_n_avg" -> ((s, d) => {
      Tables.events(s, d)
        .orderBy(F.col("ts").desc, F.col("event_id").desc).limit(10)
        .agg(davg(F.col("value")).as("avg_rate"), F.count(F.lit(1)).as("n"))
    }),
    "fx_current_day_avg" -> ((s, d) => {
      val e = Tables.events(s, d).withColumn("day", evDay(F.col("ts")))
      val maxd = e.agg(F.max("day").as("day"))
      e.join(F.broadcast(maxd), "day")
        .groupBy("day", "event_type")
        .agg(davg(F.col("value")).as("avg_value"))
        .orderBy("day", "event_type")
    }),
    "fx_dedup_latest" -> ((s, d) => {
      val e = Tables.events(s, d).select("user_id", "event_type", "event_id", "value", "ts")
      Upsert.dedupLatest(e, Seq("user_id", "event_type"), "ts", Seq("event_id"))
        .select("user_id", "event_type", "event_id", "value")
        .orderBy("user_id", "event_type")
    }),

    "fx_asof_rate" -> ((s, d) => {
      val e = Tables.events(s, d)
      val purchases = e.filter(F.col("event_type") === "purchase")
        .select("event_id", "user_id", "ts")
      val rates = e.filter(F.col("event_type") === "signup")
        .select(F.col("user_id"), F.col("ts"), F.col("value").as("rate"))
      AsOf.join(purchases, rates, Seq("user_id"), "ts", "ts", Seq("rate"))
        .select("event_id", "user_id", "rate")
        .orderBy("event_id")
    }),
    "fx_salted_daily_report" -> ((s, d) => {
      val e = Tables.events(s, d).withColumn("day", evDay(F.col("ts")))
      Skew.saltedStats(e, Seq("day", "event_type"), "value")
        .select(F.col("day"), F.col("event_type"), F.col("avg").as("avg_value"), F.col("n"))
        .orderBy("day", "event_type")
    }),
    // salted fact⋈dim join for a skewed broadcast-ineligible key:
    // result-identical to the plain join by construction (each fact
    // row meets exactly the one dim replica carrying its salt), so the
    // oracle IS the plain join — hash-checked, salt placement free
    "q_salted_join" -> ((s, d) => {
      val fact = Tables.orders(s, d)
      val dim = Tables.customer(s, d)
        .select(F.col("c_custkey").as("o_custkey"), F.col("c_nationkey"))
      Skew.saltedJoin(fact, dim, Seq("o_custkey"), salts = 8)
        .groupBy("c_nationkey")
        .agg(F.count(F.lit(1)).as("n_orders"), dsum(F.col("o_totalprice")).as("revenue"))
        .orderBy("c_nationkey")
    }),
    // Bloom-reduced anti-join: droplist application when the list is
    // past broadcast size — definite negatives pass MAP-ONLY (no
    // false negatives), only bloom hits enter the exact anti-join, so
    // the shuffled side shrinks from |corpus| to ~|matches|. Result
    // is exactly the plain anti-join (false positives resolved by the
    // exact join), so the oracle is the plain NOT EXISTS spelling
    "q_bloom_anti" -> ((s, d) => {
      val li = Tables.lineitem(s, d)
      val drop = Tables.orders(s, d).filter(F.col("o_orderstatus") === "F")
        .select(F.col("o_orderkey").as("l_orderkey"))
      graft.operators.BloomJoin.antiJoin(li, drop, Seq("l_orderkey"), expectedItems = 10000)
        .groupBy("l_returnflag")
        .agg(F.count(F.lit(1)).as("n_rows"), dsum(F.col("l_extendedprice")).as("revenue"))
        .orderBy("l_returnflag")
    }),

    // SCD2 history: run-length-encoded validity intervals over a
    // banded rate attribute — one window shuffle; epoch-micros on
    // both sides (the proven ts-parity recipe)
    "fx_scd2" -> ((s, d) => {
      val h = Tables.events(s, d).select(
        F.col("event_type"), F.col("event_id"),
        F.unix_micros(F.col("ts")).as("ts_us"),
        F.floor(F.col("value") / 10).cast("long").as("band"))
      graft.operators.Scd2.fromHistory(h, Seq("event_type"), "ts_us", "event_id", Seq("band"))
        .select(F.col("event_type"), F.col("band"),
          F.col("valid_from").as("vf_us"), F.col("valid_to").as("vt_us"),
          F.col("is_current"))
        .orderBy("event_type", "vf_us")
    }),
    // the incremental face: fold the post-cutoff observations into
    // the pre-cutoff interval table; applyBatch ≡ full recompute
    // (spec-pinned), so the oracle is the SAME full-history SQL
    "fx_scd2_incremental" -> ((s, d) => {
      val h = Tables.events(s, d).select(
        F.col("event_type"), F.col("event_id"),
        F.unix_micros(F.col("ts")).as("ts_us"),
        F.floor(F.col("value") / 10).cast("long").as("band"))
      val cut = 1705708800000000L // 2024-01-20T00:00:00Z in epoch micros
      val current = graft.operators.Scd2.fromHistory(
        h.filter(F.col("ts_us") < cut), Seq("event_type"), "ts_us", "event_id", Seq("band"))
      graft.operators.Scd2.applyBatch(current, h.filter(F.col("ts_us") >= cut),
          Seq("event_type"), "ts_us", "event_id", Seq("band"))
        .select(F.col("event_type"), F.col("band"),
          F.col("valid_from").as("vf_us"), F.col("valid_to").as("vt_us"),
          F.col("is_current"))
        .orderBy("event_type", "vf_us")
    }),

    // dense daily series with last-observation-carried-forward fill
    // (the FX weekend-gap fill; AsOf answers point lookups, this
    // materializes the dense table)
    "fx_gapfill" -> ((s, d) => {
      val daily = Tables.events(s, d)
        .groupBy(F.col("event_type"), evDay(F.col("ts")).as("day"))
        .agg(davg(F.col("value")).as("avg_value"))
      graft.operators.Resample.forwardFillDaily(daily, Seq("event_type"), "day", "avg_value")
        .orderBy("event_type", "day")
    }),
    // A14's SQL spelling (round 12): the GAP_FILL TVF resolved
    // textually onto Resample.gapFill — same densify + locf engine,
    // BigQuery-shaped output (no observed flag)
    "sql_gap_fill" -> ((s, d) => {
      Tables.events(s, d)
        .groupBy(F.col("event_type"), evDay(F.col("ts")).as("day"))
        .agg(davg(F.col("value")).as("avg_value"))
        .createOrReplaceTempView("gf_daily")
      graft.GraftSql.load(s,
        """SELECT * FROM GAP_FILL(TABLE gf_daily, ts_column => 'day',
          |  bucket_width => INTERVAL 1 DAY,
          |  partitioning_columns => ['event_type'],
          |  value_columns => [('avg_value', 'locf')])
          |ORDER BY event_type, day""".stripMargin)
    }),
    // GAP_FILL's third method (round 13): linear interpolation between
    // the bracketing observations. Clicks lose days 7-9 of every month
    // so interior 3-day gaps exercise fractions 1/4, 2/4, 3/4 — exact
    // in doubles, and the fold replays textually in DuckDB
    "sql_gap_fill_linear" -> ((s, d) => {
      Tables.events(s, d)
        .filter(!(F.dayofmonth(F.col("ts")).isin(7, 8, 9) && F.col("event_type") === "click"))
        .groupBy(F.col("event_type"), evDay(F.col("ts")).as("day"))
        .agg(davg(F.col("value")).as("avg_value"))
        .createOrReplaceTempView("gf_daily_lin")
      graft.GraftSql.load(s,
        """SELECT * FROM GAP_FILL(TABLE gf_daily_lin, ts_column => 'day',
          |  bucket_width => INTERVAL 1 DAY,
          |  partitioning_columns => ['event_type'],
          |  value_columns => [('avg_value', 'linear')])
          |ORDER BY event_type, day""".stripMargin)
    }),
    // A47c (round 13): the sub-day GAP_FILL — hourly buckets on the
    // timestamp grid with deterministic 3-hour holes, linear filled
    // on the MICROS axis; the DuckDB oracle replays the identical
    // epoch_us fraction fold
    "sql_gap_fill_hourly" -> ((s, d) => {
      Tables.events(s, d)
        .filter(!(F.hour(F.col("ts")).isin(5, 6, 7) && F.col("event_type") === "click"))
        .groupBy(F.col("event_type"), F.date_trunc("hour", F.col("ts")).as("hr"))
        .agg(davg(F.col("value")).as("avg_value"))
        .createOrReplaceTempView("gf_hourly_f")
      graft.GraftSql.load(s,
        """SELECT * FROM GAP_FILL(TABLE gf_hourly_f, ts_column => 'hr',
          |  bucket_width => INTERVAL 1 HOUR,
          |  partitioning_columns => ['event_type'],
          |  value_columns => [('avg_value', 'linear')])
          |ORDER BY event_type, hr""".stripMargin)
    }),

    // A29: the (day × key) completeness grid over a feed with
    // deterministic punched holes (clicks vanish on every 5th
    // day-of-month) — missing partitions surface as n_rows = 0
    "fx_completeness" -> ((s, d) => {
      val e = Tables.events(s, d).filter(
        !(F.dayofmonth(F.col("ts")) % 5 === 0 && F.col("event_type") === "click"))
      graft.operators.Audit.completeness(e, "ts", Seq("event_type"))
        .orderBy("day", "event_type")
    }),

    // daily OHLC bars — the canonical FX resample (open = value at the
    // day's first tick, close at its last, low/high across it). min_by/
    // max_by with a (ts, event_id) struct ordering key: one shuffle with
    // map-side partials, deterministic ties, no window sort anywhere
    "fx_ohlc" -> ((s, d) => {
      val ord = F.struct(F.col("ts"), F.col("event_id"))
      Tables.events(s, d)
        .groupBy(evDay(F.col("ts")).as("day"), F.col("event_type"))
        .agg(
          F.min_by(F.col("value"), ord).as("open"),
          F.max_by(F.col("value"), ord).as("close"),
          F.min("value").as("low"),
          F.max("value").as("high"),
          F.count(F.lit(1)).as("n"))
        .orderBy("day", "event_type")
    }),

    // incremental report maintenance: the events table arrives as three
    // disjoint batches; each folds into a mergeable partial-aggregate
    // state (decimal sums + counts) O(batch), and the report derives
    // avg at read time. Hash-green vs the full recompute — merging IS
    // the aggregation, exactly.
    "fx_incremental_report" -> ((s, d) => {
      val e = Tables.events(s, d).withColumn("day", evDay(F.col("ts")))
      val keys = Seq("day", "event_type")
      def part(b: DataFrame) = graft.operators.Incremental.partials(b, keys, Seq(
        F.sum(F.col("value").cast("decimal(30,2)")).as("value_sum"),
        F.count(F.lit(1)).as("n_cnt")))
      val state = graft.operators.Incremental.mergeAll(
        (0 to 2).map(i => part(e.filter(F.pmod(F.col("event_id"), F.lit(3)) === i))), keys)
      state.select(F.col("day"), F.col("event_type"),
          (F.col("value_sum").cast("double") / F.col("n_cnt")).as("avg_value"),
          F.col("n_cnt").as("n"))
        .orderBy("day", "event_type")
    }),

    // A31 driver face: the FULL materialized-view lifecycle as SQL
    // text — CREATE OR REPLACE MATERIALIZED VIEW over a third of
    // events, two O(batch) refreshes folding the other thirds, read
    // back from the registered view. The oracle is the plain one-shot
    // aggregate over ALL rows, so refresh ≡ recompute sits under the
    // hash gate (decimal sums keep fold order out of the bytes; AVG
    // stays spec-gated — its read-time decimal division rounds at a
    // different scale than DuckDB's)
    "sql_matview_refresh" -> ((s, d) => {
      val ev = Tables.events(s, d)
      def part(i: Int) = ev.filter(F.pmod(F.col("event_id"), F.lit(3)) === i)
      part(0).createOrReplaceTempView("mv_drv_seed")
      graft.GraftSql.load(s,
        """CREATE OR REPLACE MATERIALIZED VIEW mv_drv_report AS
          |SELECT CAST(date_trunc('day', ts) AS DATE) AS day, event_type,
          |       SUM(CAST(value AS DECIMAL(30,6))) AS v_sum, COUNT(*) AS n,
          |       MIN(value) AS v_min, MAX(value) AS v_max
          |FROM mv_drv_seed WHERE event_type <> 'click' GROUP BY 1, 2""".stripMargin)
      graft.GraftSql.refreshMaterialized(s, "mv_drv_report", part(1))
      graft.GraftSql.refreshMaterialized(s, "mv_drv_report", part(2))
      s.table("mv_drv_report")
        .select(F.col("day"), F.col("event_type"),
          F.col("v_sum").cast("double").as("v_sum"),
          F.col("n"), F.col("v_min"), F.col("v_max"))
        .orderBy("day", "event_type")
    }),

    // A33 driver face: BigQuery time travel over a Versioned table.
    // Fixture (built once per JVM+sf, pinned commit timestamps):
    // commit 0 appends the event_id%3==0 third, commit 1 appends the
    // %3==1 third, commit 2 OVERWRITES with the %3==2 third. The SQL
    // statement then reads both faces through GraftSql.load — AS OF
    // between commits 1 and 2 (sees thirds 0+1) and the latest view
    // (sees only third 2, the overwrite) — so the oracle is two plain
    // filtered aggregates over events: a hash match proves the commit
    // log, the AS OF resolution, and the overwrite's live-set cut all
    // reproduce exact history (decimal sums keep fold order out of
    // the bytes)
    "sql_time_travel" -> ((s, d) => {
      val dir = s"${System.getProperty("java.io.tmpdir")}/graft_versioned_${d.replaceAll("[^A-Za-z0-9]", "_")}"
      versionedFixtures.synchronized {
        if (!versionedFixtures.contains(dir)) {
          val have = try graft.sources.Versioned.commits(s, dir).size catch { case _: Exception => -1 }
          if (have != 3) {
            val p = new org.apache.hadoop.fs.Path(dir)
            val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
            if (fs.exists(p)) fs.delete(p, true)
            val e = Tables.events(s, d)
              .select(F.col("event_id"), F.col("event_type"), F.col("value"))
            def third(i: Int) = e.filter(F.pmod(F.col("event_id"), F.lit(3)) === i)
            def ts(lit: String) = Some(graft.GraftSql.parseTsLiteralUs(lit))
            graft.sources.Versioned.append(third(0), dir, ts("2024-01-01 00:00:00"))
            graft.sources.Versioned.append(third(1), dir, ts("2024-01-02 00:00:00"))
            graft.sources.Versioned.overwrite(third(2), dir, ts("2024-01-03 00:00:00"))
          }
          versionedFixtures += dir
        }
      }
      graft.sources.Versioned.register(s, "vt_events", dir)
      graft.GraftSql.load(s,
        """SELECT 'asof' AS face, event_type, COUNT(*) AS n,
          |       CAST(SUM(CAST(value AS DECIMAL(30,6))) AS DOUBLE) AS v_sum
          |FROM vt_events FOR SYSTEM_TIME AS OF TIMESTAMP '2024-01-02 12:00:00'
          |GROUP BY event_type
          |UNION ALL
          |SELECT 'latest' AS face, event_type, COUNT(*) AS n,
          |       CAST(SUM(CAST(value AS DECIMAL(30,6))) AS DOUBLE) AS v_sum
          |FROM vt_events GROUP BY event_type
          |ORDER BY face, event_type""".stripMargin)
    }),

    // A45 driver faces: BigQuery's change-history TVFs over the A33
    // commit log. sql_appends gates the CDC reading contract — the
    // windowed INSERT stream comes from each commit's OWN delta
    // directories (O(changed bytes), never a table scan) with the
    // commit time as _change_timestamp; the DuckDB oracle replays the
    // two in-window appends as filtered selects with literal
    // timestamps. sql_changes gates the rewrite half: an overwrite's
    // row-level history is the multiset diff (update = DELETE+INSERT,
    // no keys at this layer), the following append rides in as
    // INSERTs — the oracle recomputes the diff with ±1-weight
    // grouping and |delta| expansion.
    "sql_appends" -> ((s, d) => {
      graft.sources.Versioned.register(s, "chg_events", changesFixture(s, d))
      graft.GraftSql.load(s,
        """SELECT event_type, unix_micros(_change_timestamp) AS ts_us, COUNT(*) AS n,
          |       CAST(SUM(CAST(value AS DECIMAL(30,6))) AS DOUBLE) AS v_sum
          |FROM APPENDS(TABLE chg_events, TIMESTAMP '2024-01-01', TIMESTAMP '2024-01-03')
          |GROUP BY event_type, ts_us ORDER BY event_type, ts_us""".stripMargin)
    }),
    "sql_changes" -> ((s, d) => {
      graft.sources.Versioned.register(s, "chg_events", changesFixture(s, d))
      graft.GraftSql.load(s,
        """SELECT _change_type AS change_type, event_type, COUNT(*) AS n,
          |       CAST(SUM(CAST(value AS DECIMAL(30,6))) AS DOUBLE) AS v_sum
          |FROM CHANGES(TABLE chg_events, TIMESTAMP '2024-01-03', NULL)
          |GROUP BY _change_type, event_type
          |ORDER BY change_type, event_type""".stripMargin)
    }),

    // A28+A34 driver face: the unload → load ROUND TRIP under the
    // hash gate (both verbs were test-only before): EXPORT DATA
    // shards events to parquet, CREATE EXTERNAL TABLE mounts the
    // shards, LOAD DATA INTO lands them in a fresh table, and the
    // aggregate over the loaded table must equal the aggregate over
    // the source — file-level fidelity (sharding, mounting, load-time
    // coercion) is what the oracle's plain aggregate gates
    "sql_export_load" -> ((s, d) => {
      val dir = s"${System.getProperty("java.io.tmpdir")}/graft_expload_${d.replaceAll("[^A-Za-z0-9]", "_")}"
      val p = new org.apache.hadoop.fs.Path(dir)
      val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (fs.exists(p)) fs.delete(p, true)
      Tables.events(s, d)
        .select(F.col("event_id"), F.col("event_type"), F.col("value"))
        .createOrReplaceTempView("expload_src")
      graft.GraftSql.load(s,
        s"EXPORT DATA OPTIONS(uri='$dir/out/part-*.parquet', format='PARQUET') AS " +
          "SELECT event_id, event_type, value FROM expload_src WHERE event_type <> 'click'")
      graft.GraftSql.load(s,
        s"CREATE OR REPLACE EXTERNAL TABLE expload_ext OPTIONS(format='PARQUET', uris=['$dir/out/*.parquet'])")
      s.sql("SELECT * FROM expload_ext LIMIT 0").createOrReplaceTempView("expload_tgt")
      graft.GraftSql.load(s,
        s"LOAD DATA INTO expload_tgt FROM FILES(format='PARQUET', uris=['$dir/out/*.parquet'])")
      graft.GraftSql.load(s,
        """SELECT event_type, COUNT(*) AS n,
          |       CAST(SUM(CAST(value AS DECIMAL(30,6))) AS DOUBLE) AS v_sum,
          |       CAST(MIN(event_id) AS BIGINT) AS min_id, CAST(MAX(event_id) AS BIGINT) AS max_id
          |FROM expload_tgt GROUP BY event_type ORDER BY event_type""".stripMargin)
    }),

    // the AVRO sibling of sql_export_load (round 11): the same
    // round-trip shape routed through the engine's own DSv2 avro
    // bridge (sources/AvroSource.scala) — EXPORT avro → EXTERNAL TABLE
    // over the shards → LOAD DATA → aggregate. The oracle replays the
    // SELECT+aggregate directly on the parquet source, so the hash
    // gates write fidelity, split reads, and the type bridge
    // (timestamp-micros column included) end to end
    "sql_export_avro" -> ((s, d) => {
      val dir = s"${System.getProperty("java.io.tmpdir")}/graft_expavro_${d.replaceAll("[^A-Za-z0-9]", "_")}"
      val p = new org.apache.hadoop.fs.Path(dir)
      val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (fs.exists(p)) fs.delete(p, true)
      Tables.events(s, d)
        .select(F.col("event_id"), F.col("event_type"), F.col("ts"), F.col("value"))
        .createOrReplaceTempView("expavro_src")
      graft.GraftSql.load(s,
        s"EXPORT DATA OPTIONS(uri='$dir/out/part-*.avro', format='AVRO') AS " +
          "SELECT event_id, event_type, ts, value FROM expavro_src WHERE event_type <> 'view'")
      graft.GraftSql.load(s,
        s"CREATE OR REPLACE EXTERNAL TABLE expavro_ext OPTIONS(format='AVRO', uris=['$dir/out'])")
      s.sql("SELECT * FROM expavro_ext LIMIT 0").createOrReplaceTempView("expavro_tgt")
      graft.GraftSql.load(s,
        s"LOAD DATA INTO expavro_tgt FROM FILES(format='AVRO', uris=['$dir/out'])")
      graft.GraftSql.load(s,
        """SELECT event_type, COUNT(*) AS n,
          |       CAST(SUM(CAST(value AS DECIMAL(30,6))) AS DOUBLE) AS v_sum,
          |       CAST(MIN(event_id) AS BIGINT) AS min_id, CAST(MAX(event_id) AS BIGINT) AS max_id,
          |       MIN(ts) AS min_ts, MAX(ts) AS max_ts
          |FROM expavro_tgt GROUP BY event_type ORDER BY event_type""".stripMargin)
    }),

    // A40 driver face: BigQuery WILDCARD TABLES — the sharded-by-date
    // dataset idiom (`FROM events_*` + `_TABLE_SUFFIX`). Three
    // year-shards of orders register as views; the wildcard statement
    // unions them with the suffix pseudo-column and the BETWEEN
    // predicate prunes the 1997 shard's SCAN from the plan (the
    // literal suffix constant-folds per branch — table pruning, not
    // row filtering; spec-pinned in TypedSqlSpec). The oracle replays
    // as a filtered UNION ALL, so a hash match proves shard matching,
    // suffix values, union-by-name and the pruning cut
    "sql_wildcard_tables" -> ((s, d) => {
      val o = Tables.orders(s, d)
      for (y <- 1995 to 1997)
        o.filter(F.year(F.col("o_orderdate")) === y)
          .createOrReplaceTempView(s"wt_orders_$y")
      graft.GraftSql.load(s,
        """SELECT _TABLE_SUFFIX AS yr, o_orderpriority, COUNT(*) AS n,
          |       CAST(SUM(CAST(o_totalprice AS DECIMAL(30,2))) AS DOUBLE) AS sum_price
          |FROM wt_orders_*
          |WHERE _TABLE_SUFFIX BETWEEN '1995' AND '1996'
          |GROUP BY yr, o_orderpriority
          |ORDER BY yr, o_orderpriority""".stripMargin)
    }),

    // A41 driver face: the PARTITION BY / CLUSTER BY DDL round trip —
    // the statement materializes a day-partitioned layout, the read
    // back re-aggregates through the p_day directory column with a
    // pruning day-range filter; the oracle replays the same window as
    // a plain filtered aggregate, so a hash match proves the physical
    // write+read preserves content and the day derivation exactly
    "sql_partition_ddl" -> ((s, d) => {
      Tables.events(s, d)
        .select(F.col("event_id"), F.col("ts"), F.col("user_id"), F.col("event_type"), F.col("value"))
        .createOrReplaceTempView("pddl_events")
      graft.GraftSql.load(s,
        """CREATE OR REPLACE TABLE pddl_daily PARTITION BY DATE(ts) CLUSTER BY user_id
          |AS SELECT event_id, ts, user_id, event_type, value FROM pddl_events""".stripMargin)
      s.table("pddl_daily")
        .filter(F.col("p_day").between("2024-01-05", "2024-01-15"))
        .groupBy("p_day", "event_type")
        .agg(F.count(F.lit(1)).as("n"),
          F.sum(F.col("value").cast("decimal(30,6)")).cast("double").as("v_sum"),
          F.min("event_id").as("min_id"), F.max("event_id").as("max_id"))
        .withColumnRenamed("p_day", "day")
        .orderBy("day", "event_type")
    }),

    // A37b driver face (round 13): INFORMATION_SCHEMA.PARTITIONS over
    // an A41 day-partitioned layout — partition ids, row counts and
    // sizes come from the file listing + parquet FOOTERS (no data
    // scan); the oracle replays partition_id/total_rows as a direct
    // group-by over the source
    "sql_partition_meta" -> ((s, d) => {
      Tables.events(s, d).createOrReplaceTempView("pmeta_events")
      graft.GraftSql.load(s,
        """CREATE OR REPLACE TABLE pmeta_daily PARTITION BY DATE(ts) CLUSTER BY user_id
          |AS SELECT event_id, ts, user_id, event_type, value FROM pmeta_events""".stripMargin)
      graft.GraftSql.load(s,
        """SELECT table_name, partition_id, total_rows
          |FROM INFORMATION_SCHEMA.PARTITIONS
          |WHERE table_name = 'pmeta_daily'
          |ORDER BY partition_id""".stripMargin)
    }),

    // A37b driver face (round 13): the DDL-registry INFORMATION_SCHEMA
    // views — a search index, a vector index and a SQL routine created
    // through the statement surface, read back joined from
    // SEARCH_INDEXES / VECTOR_INDEXES / ROUTINES; every column is
    // determined by the DDL TEXT alone, so the oracle is the
    // hand-derived literal row (the q_json_keys discipline)
    "sql_info_schema_meta" -> ((s, d) => {
      Tables.documents(s, d).createOrReplaceTempView("ism_docs")
      Tables.embeddings(s, d).createOrReplaceTempView("ism_emb")
      graft.GraftSql.load(s,
        "CREATE SEARCH INDEX IF NOT EXISTS ism_sidx ON ism_docs (doc_id, text)")
      graft.GraftSql.load(s,
        """CREATE VECTOR INDEX IF NOT EXISTS ism_vidx ON ism_emb (embedding)
          |OPTIONS(index_type = 'IVF', distance_type = 'COSINE',
          |        ivf_options = '{"num_lists": 4}')""".stripMargin)
      graft.GraftSql.load(s,
        "CREATE OR REPLACE TEMP FUNCTION ism_twice(x INT64) RETURNS INT64 AS (x * 2)")
      // round 15: the VIEWS definition text and the single-dataset
      // SCHEMATA row join the same one-row metadata gate
      graft.GraftSql.load(s,
        "CREATE OR REPLACE VIEW ism_view AS SELECT doc_id FROM ism_docs")
      graft.GraftSql.load(s,
        """SELECT si.index_name, si.table_name, si.analyzer,
          |       vi.index_name AS v_name, vi.column_name, vi.index_type,
          |       vi.distance_type, CAST(vi.num_lists AS BIGINT) AS num_lists,
          |       r.routine_name, r.routine_type, r.data_type, r.routine_definition,
          |       w.table_name AS view_name, w.view_definition, w.use_standard_sql,
          |       sc.catalog_name, sc.schema_name, sc.location
          |FROM INFORMATION_SCHEMA.SEARCH_INDEXES si
          |CROSS JOIN INFORMATION_SCHEMA.VECTOR_INDEXES vi
          |CROSS JOIN INFORMATION_SCHEMA.ROUTINES r
          |CROSS JOIN INFORMATION_SCHEMA.VIEWS w
          |CROSS JOIN INFORMATION_SCHEMA.SCHEMATA sc
          |WHERE si.index_name = 'ism_sidx' AND vi.index_name = 'ism_vidx'
          |  AND r.routine_name = 'ism_twice' AND w.table_name = 'ism_view'""".stripMargin)
    }),

    // A54 driver face (round 14): OPTIONS(...) metadata on CREATE
    // TABLE / VIEW surfaced through INFORMATION_SCHEMA.TABLE_OPTIONS —
    // the hash pins the clause split, the pair parsing (labels keep
    // their bracketed inner commas), BigQuery's value rendering
    // (strings double-quoted, labels as [STRUCT("k", "v"), ...]) and
    // the TABLES join
    "sql_table_options" -> ((s, d) => {
      Tables.events(s, d).createOrReplaceTempView("topt_events")
      graft.GraftSql.load(s,
        """CREATE OR REPLACE TABLE topt_daily
          |OPTIONS(description = 'daily fx report',
          |        labels = [('team', 'fx'), ('env', 'prod')],
          |        friendly_name = 'Daily FX', partition_expiration_days = 30,
          |        require_partition_filter = false)
          |AS SELECT event_type, COUNT(*) AS n FROM topt_events GROUP BY event_type""".stripMargin)
      graft.GraftSql.load(s,
        """CREATE OR REPLACE VIEW topt_view OPTIONS(description = 'view over the daily table')
          |AS SELECT * FROM topt_daily""".stripMargin)
      graft.GraftSql.load(s,
        """SELECT o.table_name, o.option_name, o.option_type, o.option_value,
          |       t.table_type
          |FROM INFORMATION_SCHEMA.TABLE_OPTIONS o
          |JOIN INFORMATION_SCHEMA.TABLES t ON t.table_name = o.table_name
          |WHERE o.table_name IN ('topt_daily', 'topt_view')
          |ORDER BY o.table_name, o.option_name""".stripMargin)
    }),

    // A20/A30/A42 driver face (round 15): the DDL/DML lifecycle verbs
    // that were spec-only — ALTER TABLE ADD/RENAME/DROP COLUMN, UPDATE,
    // DELETE, DROP TABLE, TRUNCATE — gated through one content +
    // metadata hash: the surviving rows of the mutated table aggregate
    // under the hash beside the INFORMATION_SCHEMA.COLUMNS shape
    // (names, ordinals, BigQuery type names) after the column surgery,
    // a TABLES probe proving the dropped table is GONE, and a count
    // proving TRUNCATE emptied its target. The oracle replays the
    // whole lifecycle as plain relational algebra over events.
    "sql_ddl_lifecycle" -> ((s, d) => {
      Tables.events(s, d).createOrReplaceTempView("ddl_events")
      // ALTER/UPDATE/DELETE/TRUNCATE persist through the Versioned
      // commit path (on an unregistered target the verbs keep their
      // pure snapshot-return contract and would not compose)
      val base = s"${System.getProperty("java.io.tmpdir")}/graft_ddl_${d.replaceAll("[^A-Za-z0-9]", "_")}"
      val ts = Some(graft.GraftSql.parseTsLiteralUs("2024-01-01 00:00:00"))
      for ((name, dir) <- Seq("ddl_t" -> s"$base/t", "ddl_trunc" -> s"$base/trunc")) {
        val p = new org.apache.hadoop.fs.Path(dir)
        val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
        if (fs.exists(p)) fs.delete(p, true)
        val df =
          if (name == "ddl_t")
            Tables.events(s, d).select(F.col("event_id"), F.col("user_id"),
              F.col("event_type"),
              ((F.col("user_id") * 13 + F.col("event_id")) % 100).cast("long").as("v"))
          else Tables.events(s, d).filter(F.col("event_id") % 2 === 0).select("event_id")
        graft.sources.Versioned.overwrite(df, dir, ts)
        graft.sources.Versioned.register(s, name, dir)
      }
      graft.GraftSql.load(s, "ALTER TABLE ddl_t ADD COLUMN flag STRING")
      graft.GraftSql.load(s, "UPDATE ddl_t SET flag = 'hi' WHERE v >= 50")
      graft.GraftSql.load(s, "DELETE FROM ddl_t WHERE v % 7 = 0")
      graft.GraftSql.load(s, "ALTER TABLE ddl_t RENAME COLUMN event_type TO etype")
      graft.GraftSql.load(s, "ALTER TABLE ddl_t DROP COLUMN user_id")
      graft.GraftSql.load(s, "CREATE OR REPLACE TABLE ddl_gone AS SELECT 1 AS x")
      graft.GraftSql.load(s, "DROP TABLE ddl_gone")
      graft.GraftSql.load(s, "TRUNCATE TABLE ddl_trunc")
      // table rename: the old name disappears, the new one carries
      // the rows (drop first — Bench repeats faces in one session)
      graft.GraftSql.load(s, "DROP TABLE IF EXISTS ddl_ren2")
      graft.GraftSql.load(s, "CREATE OR REPLACE TABLE ddl_ren AS SELECT 11 AS y")
      graft.GraftSql.load(s, "ALTER TABLE ddl_ren RENAME TO ddl_ren2")
      graft.GraftSql.load(s,
        """SELECT c.column_name, CAST(c.ordinal_position AS BIGINT) AS pos, c.data_type,
          |       s.n, s.hi_n, s.v_sum, s.gone_n, s.trunc_n,
          |       (SELECT CAST(COUNT(*) AS BIGINT) FROM INFORMATION_SCHEMA.TABLES
          |        WHERE table_name = 'ddl_ren') AS ren_old_n,
          |       (SELECT CAST(MAX(y) AS BIGINT) FROM ddl_ren2) AS ren_y
          |FROM INFORMATION_SCHEMA.COLUMNS c
          |CROSS JOIN (SELECT CAST(COUNT(*) AS BIGINT) AS n,
          |                   CAST(SUM(CASE WHEN flag = 'hi' THEN 1 ELSE 0 END) AS BIGINT) AS hi_n,
          |                   CAST(SUM(v) AS BIGINT) AS v_sum,
          |                   (SELECT CAST(COUNT(*) AS BIGINT) FROM INFORMATION_SCHEMA.TABLES
          |                    WHERE table_name = 'ddl_gone') AS gone_n,
          |                   (SELECT CAST(COUNT(*) AS BIGINT) FROM ddl_trunc) AS trunc_n
          |            FROM ddl_t) s
          |WHERE c.table_name = 'ddl_t'
          |ORDER BY pos""".stripMargin)
    }),

    // ─────────── G-family driver faces (round 16): streaming sinks
    // under the batch CORRECTNESS gate. graft.streaming.Replay writes
    // the input as modification-time-ordered single-file slices and
    // streams them back one file per micro-batch under
    // Trigger.AvailableNow — the whole trajectory is deterministic, so
    // the sink's FINAL state is exactly what a plain batch SQL oracle
    // computes. Reference anchor: the every-minute idempotent ingest
    // loop (idempotent_fx_pipeline.py:75-92) IS this shape — files
    // land, each lands once, state folds forward.

    // G3 gate: foreachBatch MERGE-upsert with the EVENT-TIME-wins
    // merge policy — the final table is the latest (ts, event_id) row
    // per (user_id, event_type) no matter how rows split across
    // micro-batches, which is the same row fx_dedup_latest's oracle
    // selects. State persists via stage-per-generation parquet (the
    // production shape: never overwrite the file you are reading).
    "stream_merge_upsert" -> ((s, d) => withShufflePartitions(s, streamShufflePartitions(s)) {
      val base = streamScratch(s, d, "smu")
      val e = Tables.events(s, d)
        .select("user_id", "event_type", "event_id", "value", "ts")
      val schema = graft.streaming.Replay.writeSlices(
        e, s"$base/in", F.pmod(F.col("event_id"), F.lit(4)), 4)
      val stream = graft.streaming.Replay.readSliced(s, s"$base/in", schema)
      var gen = 0
      var statePath: Option[String] = None
      val q = graft.streaming.EventStream.mergeSink(
          stream, Seq("user_id", "event_type"),
          () => statePath.map(s.read.parquet(_)),
          merged => {
            gen += 1
            val p = s"$base/state/$gen"
            // state is a few hundred rows: one file per commit, not one
            // per shuffle partition (it is re-read every micro-batch)
            merged.coalesce(1).write.mode("overwrite").parquet(p)
            statePath = Some(p)
          },
          orderCol = Some("ts"), byEventTime = true, tieBreak = Seq("event_id"))
        .option("checkpointLocation", s"$base/chk").start()
      q.awaitTermination()
      s.read.parquet(statePath.getOrElse(
          throw new IllegalStateException("stream produced no state")))
        .select("user_id", "event_type", "event_id", "value")
        .orderBy("user_id", "event_type")
    }),

    // G8 gate: incremental-report sink — four micro-batches fold
    // O(batch) decimal partials into the persisted state; additive
    // decimal sums commute, so the final state equals the one-shot
    // aggregate bit-for-bit (fx_incremental_report's oracle). The
    // (state, batchId) pair persists atomically per batch — the
    // replay guard the sink documents.
    "stream_incremental_report" -> ((s, d) => withShufflePartitions(s, streamShufflePartitions(s)) {
      val base = streamScratch(s, d, "sir")
      val e = Tables.events(s, d).withColumn("day", evDay(F.col("ts")))
        .select("day", "event_type", "value", "event_id")
      val schema = graft.streaming.Replay.writeSlices(
        e, s"$base/in", F.pmod(F.col("event_id"), F.lit(4)), 4)
      val stream = graft.streaming.Replay.readSliced(s, s"$base/in", schema)
      val keys = Seq("day", "event_type")
      val measures = Seq(
        F.sum(F.col("value").cast("decimal(30,2)")).as("value_sum"),
        F.count(F.lit(1)).as("n_cnt"))
      var state: Option[(String, Long)] = None
      val q = graft.streaming.EventStream.incrementalReportSink(
          stream, keys, measures,
          () => state.map { case (p, id) => (s.read.parquet(p), id) },
          (st, id) => {
            val p = s"$base/state/$id"
            st.coalesce(1).write.mode("overwrite").parquet(p)
            state = Some((p, id))
          })
        .option("checkpointLocation", s"$base/chk").start()
      q.awaitTermination()
      s.read.parquet(state.getOrElse(
          throw new IllegalStateException("stream produced no state"))._1)
        .select(F.col("day"), F.col("event_type"),
          (F.col("value_sum").cast("double") / F.col("n_cnt")).as("avg_value"),
          F.col("n_cnt").as("n"))
        .orderBy("day", "event_type")
    }),

    // G7 gate: streaming corpus ingest against the persisted
    // DedupIndex. The fixture makes every near-dup decision EXACT
    // while still driving the full MinHash/banded machinery: doc
    // content is eight repetitions of its group token, so docs of one
    // group share an identical single shingle (est-Jaccard 1.0) and
    // docs of different groups share none (est ~0 — a cross-group
    // slot collision needs a 64-bit hash collision). Groups 0-9 are
    // pre-seeded into the index; the survivor of every other group is
    // its first-processed doc = min (slice, doc_id), which the oracle
    // replays as one ROW_NUMBER.
    "stream_dedup_ingest" -> ((s, d) => withShufflePartitions(s, streamShufflePartitions(s)) {
      val base = streamScratch(s, d, "sdi")
      val token = F.concat(F.lit("g"), F.col("grp").cast("string"))
      def withText(df: DataFrame): DataFrame = df.withColumn("text",
        F.concat_ws(" ", F.array(Seq.fill(8)(token): _*)))
      val docs = withText(Tables.orders(s, d)
        .filter(F.col("o_orderkey") % 11 === 0)
        .select(F.col("o_orderkey").as("doc_id"),
          (F.col("o_orderkey") % 25).as("grp")))
      val seed = withText(s.range(0, 10).select(
        (F.col("id") + 10000000L).as("doc_id"), F.col("id").as("grp")))
      graft.operators.DedupIndex.create(s, "sdi16_idx", s"$base/index",
        seed, "doc_id", "text", k = 64, bands = 16, buckets = 4)
      val schema = graft.streaming.Replay.writeSlices(
        docs, s"$base/in", F.pmod(F.col("doc_id"), F.lit(4)), 4)
      val stream = graft.streaming.Replay.readSliced(s, s"$base/in", schema)
      val q = graft.streaming.EventStream.dedupIngestSink(
          stream, "sdi16_idx", s"$base/index", "doc_id", "text",
          writeSurvivors = sv =>
            sv.select("doc_id", "grp").write.mode("append").parquet(s"$base/out"))
        .option("checkpointLocation", s"$base/chk").start()
      q.awaitTermination()
      s.read.parquet(s"$base/out").orderBy("doc_id")
    }),

    // A18/A32/B35/B41/B42 driver face (round 16): the statement forms
    // that were spec-only, under one content hash. A Versioned target
    // takes two INSERT shapes (positional + explicit column list; the
    // src marker equals event_id % 3 by construction, so the oracle
    // replays it arithmetically), CTAS snapshots the post-insert
    // state, CREATE EXTERNAL TABLE mounts the raw events parquet, and
    // the probe query runs SELECT * EXCEPT, the PIVOT and UNPIVOT
    // clauses (round-tripping: unpivoting the pivot restores the
    // per-type count), and GROUP BY ALL.
    "sql_statement_forms" -> ((s, d) => {
      Tables.events(s, d).createOrReplaceTempView("stf_events")
      val base = s"${System.getProperty("java.io.tmpdir")}/graft_stf_${d.replaceAll("[^A-Za-z0-9]", "_")}"
      val p = new org.apache.hadoop.fs.Path(base)
      val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (fs.exists(p)) fs.delete(p, true)
      val ts = Some(graft.GraftSql.parseTsLiteralUs("2024-01-01 00:00:00"))
      val seedDf = Tables.events(s, d).filter(F.col("event_id") % 3 === 0)
        .select(F.col("event_id"), F.col("event_type"), F.col("value"),
          F.lit(0L).as("src"))
      graft.sources.Versioned.overwrite(seedDf, s"$base/t", ts)
      graft.sources.Versioned.register(s, "stf_t", s"$base/t")
      graft.GraftSql.load(s,
        """INSERT INTO stf_t
          |SELECT event_id, event_type, value, 1 FROM stf_events
          |WHERE event_id % 3 = 1""".stripMargin)
      graft.GraftSql.load(s,
        """INSERT INTO stf_t (event_id, event_type, value, src)
          |SELECT event_id, event_type, value, 2 FROM stf_events
          |WHERE event_id % 3 = 2""".stripMargin)
      graft.GraftSql.load(s,
        """CREATE OR REPLACE TABLE stf_ctas AS
          |SELECT event_type, CAST(COUNT(*) AS BIGINT) AS ctas_n
          |FROM stf_t GROUP BY event_type""".stripMargin)
      graft.GraftSql.load(s,
        s"CREATE OR REPLACE EXTERNAL TABLE stf_ext " +
          s"OPTIONS(format = 'PARQUET', uris = ['$d/events.parquet'])")
      graft.GraftSql.load(s,
        """WITH gba AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS gba_n
          |             FROM stf_events GROUP BY ALL),
          |     exc AS (SELECT * EXCEPT (props, ts) FROM stf_ext),
          |     pvt AS (SELECT * FROM (SELECT event_type, event_id % 2 AS par FROM stf_events)
          |             PIVOT (COUNT(*) FOR par IN (0 AS even, 1 AS odd))),
          |     unp AS (SELECT event_type, k, v FROM pvt UNPIVOT (v FOR k IN (even, odd))),
          |     t AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_t,
          |                  CAST(SUM(src) AS BIGINT) AS src_sum
          |           FROM stf_t GROUP BY event_type)
          |SELECT t.event_type, t.n_t, t.src_sum, c.ctas_n, g.gba_n,
          |       (SELECT CAST(COUNT(*) AS BIGINT) FROM exc) AS exc_n,
          |       CAST(p.even AS BIGINT) AS even, CAST(p.odd AS BIGINT) AS odd,
          |       (SELECT CAST(SUM(v) AS BIGINT) FROM unp
          |        WHERE unp.event_type = t.event_type) AS unp_sum
          |FROM t JOIN stf_ctas c ON c.event_type = t.event_type
          |       JOIN gba g ON g.event_type = t.event_type
          |       JOIN pvt p ON p.event_type = t.event_type
          |ORDER BY t.event_type""".stripMargin)
    }),

    // G9 gate: streaming SCD2 maintenance. Observations slice by
    // EVENT-TIME week (the sink's time-ordered-per-key contract: a
    // later micro-batch carries later observations), and applyBatch ≡
    // full recompute is the Scd2 law the spec pins — so the oracle is
    // the SAME full-history SQL as fx_scd2.
    "stream_scd2" -> ((s, d) => withShufflePartitions(s, streamShufflePartitions(s)) {
      val base = streamScratch(s, d, "ssc")
      val t0 = 1704067200000000L // 2024-01-01T00:00:00Z epoch micros
      val h = Tables.events(s, d).select(
        F.col("event_type"), F.col("event_id"),
        F.unix_micros(F.col("ts")).as("ts_us"),
        F.floor(F.col("value") / 10).cast("long").as("band"))
      val weekSlice = F.greatest(F.lit(0), F.least(F.lit(3),
        F.floor((F.col("ts_us") - F.lit(t0)) / F.lit(8L * 86400000000L)))).cast("int")
      val schema = graft.streaming.Replay.writeSlices(h, s"$base/in", weekSlice, 4)
      val stream = graft.streaming.Replay.readSliced(s, s"$base/in", schema)
      var state: Option[(String, Long)] = None
      val q = graft.streaming.EventStream.scd2Sink(
          stream, Seq("event_type"), "ts_us", "event_id", Seq("band"),
          () => state.map { case (p, id) => (s.read.parquet(p), id) },
          (st, id) => {
            val p = s"$base/state/$id"
            st.coalesce(1).write.mode("overwrite").parquet(p)
            state = Some((p, id))
          })
        .option("checkpointLocation", s"$base/chk").start()
      q.awaitTermination()
      s.read.parquet(state.getOrElse(
          throw new IllegalStateException("stream produced no state"))._1)
        .select(F.col("event_type"), F.col("band"),
          F.col("valid_from").as("vf_us"), F.col("valid_to").as("vt_us"),
          F.col("is_current"))
        .orderBy("event_type", "vf_us")
    }),

    // G13 gate: streaming materialized-view maintenance — four
    // micro-batches fold into an EMPTY-seeded MV through
    // refreshMaterialized; the registered view's final state must
    // equal the one-shot aggregate (the sql_matview_refresh oracle).
    "stream_matview" -> ((s, d) => withShufflePartitions(s, streamShufflePartitions(s)) {
      val base = streamScratch(s, d, "smv")
      val ev = Tables.events(s, d)
      ev.filter(F.lit(false)).createOrReplaceTempView("smv_seed")
      graft.GraftSql.load(s,
        """CREATE OR REPLACE MATERIALIZED VIEW smv_report AS
          |SELECT CAST(date_trunc('day', ts) AS DATE) AS day, event_type,
          |       SUM(CAST(value AS DECIMAL(30,6))) AS v_sum, COUNT(*) AS n,
          |       MIN(value) AS v_min, MAX(value) AS v_max
          |FROM smv_seed WHERE event_type <> 'click' GROUP BY 1, 2""".stripMargin)
      val src = ev.select("event_id", "event_type", "value", "ts")
      val schema = graft.streaming.Replay.writeSlices(
        src, s"$base/in", F.pmod(F.col("event_id"), F.lit(4)), 4)
      val stream = graft.streaming.Replay.readSliced(s, s"$base/in", schema)
      var last: Option[Long] = None
      val q = graft.streaming.EventStream.materializedViewSink(
          stream, "smv_report", () => last, id => last = Some(id))
        .option("checkpointLocation", s"$base/chk").start()
      q.awaitTermination()
      s.table("smv_report")
        .select(F.col("day"), F.col("event_type"),
          F.col("v_sum").cast("double").as("v_sum"),
          F.col("n"), F.col("v_min"), F.col("v_max"))
        .orderBy("day", "event_type")
    }),

    // G14 gate: streaming versioned-commit sink — each micro-batch
    // lands as a time-travelable commit at baseTsUs + batchId (the
    // manifest IS the exactly-once ledger). Week-sliced input makes
    // every AS OF cut a TIME PREFIX, so the oracle replays the
    // time-travel read as a plain ts predicate; the commit count pins
    // the ledger itself.
    "stream_versioned" -> ((s, d) => withShufflePartitions(s, streamShufflePartitions(s)) {
      val base = streamScratch(s, d, "svn")
      val t0 = 1704067200000000L
      val ev = Tables.events(s, d).select("event_id", "event_type", "value", "ts")
      val weekSlice = F.greatest(F.lit(0), F.least(F.lit(3),
        F.floor((F.unix_micros(F.col("ts")) - F.lit(t0)) / F.lit(8L * 86400000000L)))).cast("int")
      val schema = graft.streaming.Replay.writeSlices(ev, s"$base/in", weekSlice, 4)
      val stream = graft.streaming.Replay.readSliced(s, s"$base/in", schema)
      val q = graft.streaming.EventStream.versionedAppendSink(stream, s"$base/t", 1000000L)
        .option("checkpointLocation", s"$base/chk").start()
      q.awaitTermination()
      val full = graft.sources.Versioned.read(s, s"$base/t")
        .groupBy("event_type").agg(F.count(F.lit(1)).as("n_total"))
      val asOf1 = graft.sources.Versioned.readAsOf(s, s"$base/t", 1000001L)
        .groupBy("event_type").agg(F.count(F.lit(1)).as("n_asof1"))
      val nCommits = graft.sources.Versioned.commits(s, s"$base/t").length.toLong
      full.join(asOf1, Seq("event_type"), "left")
        .select(F.col("event_type"), F.col("n_total"),
          F.coalesce(F.col("n_asof1"), F.lit(0L)).as("n_asof1"),
          F.lit(nCommits).as("commits"))
        .orderBy("event_type")
    }),

    // G15 gate: streaming MERGE into a versioned table. The input is
    // pre-collapsed to one row per (key, week) — merge's unique-
    // source-keys contract — and week order makes last-merge-wins
    // coincide with global latest-per-key; AS OF commit 1 replays as
    // latest-per-key over the first two weeks.
    "stream_versioned_merge" -> ((s, d) => withShufflePartitions(s, streamShufflePartitions(s)) {
      val base = streamScratch(s, d, "svm")
      val t0 = 1704067200000000L
      val ev = Tables.events(s, d)
        .select("user_id", "event_type", "event_id", "value", "ts")
      val week = F.greatest(F.lit(0), F.least(F.lit(3),
        F.floor((F.unix_micros(F.col("ts")) - F.lit(t0)) / F.lit(8L * 86400000000L)))).cast("int")
      val perWeek = Upsert.dedupLatest(ev.withColumn("wk", week),
        Seq("user_id", "event_type", "wk"), "ts", Seq("event_id"))
      val schema = graft.streaming.Replay.writeSlices(perWeek, s"$base/in", F.col("wk"), 4)
      val stream = graft.streaming.Replay.readSliced(s, s"$base/in", schema)
      val q = graft.streaming.EventStream.versionedMergeSink(
          stream, s"$base/t", Seq("user_id", "event_type"), 2000000L)
        .option("checkpointLocation", s"$base/chk").start()
      q.awaitTermination()
      val commits = graft.sources.Versioned.commits(s, s"$base/t").length.toLong
      val asof1 = graft.sources.Versioned.readAsOf(s, s"$base/t", 2000001L).count()
      graft.sources.Versioned.read(s, s"$base/t")
        .select("user_id", "event_type", "event_id", "value")
        .withColumn("commits", F.lit(commits))
        .withColumn("asof1_n", F.lit(asof1))
        .orderBy("user_id", "event_type")
    }),

    // G2 gate: the STATE-STORE dedup path (dropDuplicatesWithinWatermark)
    // — unlike the foreachBatch sinks this drives Spark's stateful
    // operator itself. Every third event is duplicated INSIDE its
    // event-time-week slice (same id, same ts — so the duplicate pair
    // always shares a micro-batch and the watermark can never expire
    // between them), and time-ordered slices keep every row on or
    // ahead of the watermark (no late drops): the emitted set is each
    // event exactly once.
    "stream_dedup_state" -> ((s, d) => withShufflePartitions(s, streamShufflePartitions(s)) {
      val base = streamScratch(s, d, "sdd")
      val t0 = 1704067200000000L
      val ev = Tables.events(s, d)
        .filter(F.col("event_id") % 4 === 0)
        .select("event_id", "event_type", "user_id", "value", "ts")
      val src = ev.unionByName(ev.filter(F.col("event_id") % 3 === 0))
      val week = F.greatest(F.lit(0), F.least(F.lit(3),
        F.floor((F.unix_micros(F.col("ts")) - F.lit(t0)) / F.lit(8L * 86400000000L)))).cast("int")
      val schema = graft.streaming.Replay.writeSlices(src, s"$base/in", week, 4)
      val deduped = graft.streaming.EventStream.dedupStream(
        graft.streaming.Replay.readSliced(s, s"$base/in", schema))
      val q = deduped.writeStream.outputMode("append").format("parquet")
        .option("path", s"$base/out")
        .option("checkpointLocation", s"$base/chk")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination()
      s.read.parquet(s"$base/out")
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).as("n"),
          F.countDistinct(F.col("event_id")).as("n_ids"))
        .orderBy("event_type")
    }),

    // G16 gate: streaming cluster assignment — centroids train in
    // BATCH (the lambda shape), the stream assigns statelessly; the
    // emitted set equals the batch kmeansAssign, so the oracle is
    // cluster_kmeans' DuckDB k-means replay verbatim.
    "stream_cluster_assign" -> ((s, d) => withShufflePartitions(s, streamShufflePartitions(s)) {
      val base = streamScratch(s, d, "sca")
      val codes = Tables.embeddings(s, d)
        .select(F.col("vec_id"), graft.functions.native.int8_quantize(F.col("embedding")).as("q"))
        .select(F.col("vec_id"), F.col("q.codes").cast("array<int>").as("vec"))
      val centroids = graft.operators.Clustering.kmeansTrain(codes, k = 8, iters = 2)
      val schema = graft.streaming.Replay.writeSlices(
        codes, s"$base/in", F.pmod(F.col("vec_id"), F.lit(4)), 4)
      val assigned = graft.streaming.EventStream.clusterAssignStream(
        graft.streaming.Replay.readSliced(s, s"$base/in", schema), centroids, "vec")
      val q = assigned.select("vec_id", "cluster", "dist")
        .writeStream.outputMode("append").format("parquet")
        .option("path", s"$base/out")
        .option("checkpointLocation", s"$base/chk")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination()
      s.read.parquet(s"$base/out").orderBy("vec_id")
    }),

    // G17 gate: streaming text embedding — E24's trainless embedder on
    // a stream; emitted vectors equal the batch pipeline, so the
    // oracle is text_embed's replay verbatim.
    "stream_embed" -> ((s, d) => withShufflePartitions(s, streamShufflePartitions(s)) {
      val base = streamScratch(s, d, "sem")
      val docs = Tables.documents(s, d).select("doc_id", "text")
      val schema = graft.streaming.Replay.writeSlices(
        docs, s"$base/in", F.pmod(F.col("doc_id"), F.lit(4)), 4)
      val embedded = graft.streaming.EventStream.embedStream(
        graft.streaming.Replay.readSliced(s, s"$base/in", schema), "doc_id", "text", 32)
      val q = embedded.select("doc_id", "embedding")
        .writeStream.outputMode("append").format("parquet")
        .option("path", s"$base/out")
        .option("checkpointLocation", s"$base/chk")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination()
      s.read.parquet(s"$base/out")
        .select(F.col("doc_id"), F.posexplode(F.col("embedding")).as(Seq("pos", "v")))
        .orderBy("doc_id", "pos")
    }),

    // G6 gate: the stream-stream interval join — Spark's buffered
    // two-sided join state, driven across four event-time-week
    // micro-batches. State retention follows watermark − interval, so
    // boundary pairs (purchase early in week N, signup late in week
    // N−1 within the hour) survive eviction and the emitted set is
    // EXACTLY the batch interval join, each pair once.
    "stream_join" -> ((s, d) => withShufflePartitions(s, streamShufflePartitions(s)) {
      val base = streamScratch(s, d, "ssj")
      val t0 = 1704067200000000L
      // calibration cap: the buffered two-sided state is the cost —
      // a quarter of the users exercises it identically
      val ev = Tables.events(s, d)
        .filter(F.pmod(F.col("user_id"), F.lit(4)) === 0)
        .select("event_id", "event_type", "user_id", "value", "ts")
      val week = F.greatest(F.lit(0), F.least(F.lit(3),
        F.floor((F.unix_micros(F.col("ts")) - F.lit(t0)) / F.lit(8L * 86400000000L)))).cast("int")
      val schema = graft.streaming.Replay.writeSlices(ev, s"$base/in", week, 4)
      val joined = graft.streaming.EventStream.enrichPurchases(
        graft.streaming.Replay.readSliced(s, s"$base/in", schema))
      val q = joined.writeStream.outputMode("append").format("parquet")
        .option("path", s"$base/out")
        .option("checkpointLocation", s"$base/chk")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination()
      s.read.parquet(s"$base/out")
        .select(F.col("event_id"), F.col("user_id"),
          F.unix_micros(F.col("p_ts")).as("p_us"), F.col("amount"),
          F.unix_micros(F.col("s_ts")).as("s_us"), F.col("rate"))
        .orderBy("event_id", "s_us", "rate")
    }),

    // G1 gate: the event-time windowed aggregate WITH watermark —
    // Spark's stateful window operator itself. Day windows, zero-lag
    // watermark, event-time-week slices (time-ordered, so no late
    // drops); after the final no-data watermark-advance batch the
    // emitted set is every day window strictly before the data's last
    // day (the last day's window end exceeds max event time, so it
    // never finalizes) — a pure batch predicate for the oracle.
    "stream_windowed_report" -> ((s, d) => withShufflePartitions(s, streamShufflePartitions(s)) {
      val base = streamScratch(s, d, "swr")
      val t0 = 1704067200000000L
      val ev = Tables.events(s, d)
        .filter(F.col("event_id") % 4 === 0)
        .select("event_id", "event_type", "value", "ts")
      val week = F.greatest(F.lit(0), F.least(F.lit(3),
        F.floor((F.unix_micros(F.col("ts")) - F.lit(t0)) / F.lit(8L * 86400000000L)))).cast("int")
      val schema = graft.streaming.Replay.writeSlices(ev, s"$base/in", week, 4)
      val report = graft.streaming.EventStream.windowedReport(
        graft.streaming.Replay.readSliced(s, s"$base/in", schema),
        window = "1 day", watermark = "0 seconds")
      val q = report.writeStream.outputMode("append").format("parquet")
        .option("path", s"$base/out")
        .option("checkpointLocation", s"$base/chk")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination()
      s.read.parquet(s"$base/out")
        .select(F.col("window_start"), F.col("event_type"), F.col("n"))
        .orderBy("window_start", "event_type")
    }),

    // G20 gate: the range-sessionize sink — interval merging is
    // associative over merged results, so the maintained session
    // table is trajectory-independent and equals the one-shot merge;
    // the oracle is the classic gaps-and-islands rewrite.
    "stream_range_sessionize" -> ((s, d) => withShufflePartitions(s, streamShufflePartitions(s)) {
      val base = streamScratch(s, d, "srs")
      val ranges = Tables.events(s, d).select(F.col("user_id"),
        F.struct(evDay(F.col("ts")).as("range_start"),
          F.date_add(evDay(F.col("ts")),
            (F.pmod(F.col("user_id"), F.lit(5)) + 1).cast("int")).as("range_end")).as("rng"),
        F.col("event_id"))
      val schema = graft.streaming.Replay.writeSlices(
        ranges, s"$base/in", F.pmod(F.col("event_id"), F.lit(4)), 4)
      val stream = graft.streaming.Replay.readSliced(s, s"$base/in", schema)
        .drop("event_id")
      var state: Option[(String, Long)] = None
      val q = graft.streaming.EventStream.rangeSessionizeSink(
          stream, "rng", Seq("user_id"),
          () => state.map { case (p, id) => (s.read.parquet(p), id) },
          (st, id) => {
            val p = s"$base/state/$id"
            st.coalesce(1).write.mode("overwrite").parquet(p)
            state = Some((p, id))
          })
        .option("checkpointLocation", s"$base/chk").start()
      q.awaitTermination()
      s.read.parquet(state.getOrElse(
          throw new IllegalStateException("stream produced no state"))._1)
        .select(F.col("user_id"), F.col("rng.range_start").as("ss"),
          F.col("rng.range_end").as("se"))
        .orderBy("user_id", "ss")
    }),

    // G11 gate: stream-static enrich join — the dim broadcasts into
    // every micro-batch, left_outer keeps unmatched events flowing
    // with NULL attributes; the emitted set is the plain batch join.
    "stream_enrich_dim" -> ((s, d) => withShufflePartitions(s, streamShufflePartitions(s)) {
      import s.implicits._
      val base = streamScratch(s, d, "sed")
      val dim = Seq(("click", 1L), ("view", 2L), ("purchase", 3L))
        .toDF("event_type", "type_rank")
      val ev = Tables.events(s, d).select("event_id", "event_type", "user_id", "value", "ts")
      val schema = graft.streaming.Replay.writeSlices(
        ev, s"$base/in", F.pmod(F.col("event_id"), F.lit(4)), 4)
      val enriched = graft.streaming.EventStream.enrichFromDim(
        graft.streaming.Replay.readSliced(s, s"$base/in", schema),
        dim, Seq("event_type"))
      val q = enriched.writeStream.outputMode("append").format("parquet")
        .option("path", s"$base/out")
        .option("checkpointLocation", s"$base/chk")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination()
      s.read.parquet(s"$base/out")
        .groupBy("event_type", "type_rank")
        .agg(F.count(F.lit(1)).as("n"))
        .orderBy("event_type")
    }),

    // G10 gate: the streaming constraints gate — clean rows to the
    // accept sink, violators quarantined with their per-row blame
    // list AND the batch id (event-time-week slices make the batch id
    // itself oracle-computable). Two Satisfies rules with controlled
    // labels keep the violated-array rendering deterministic.
    "stream_constraints_gate" -> ((s, d) => withShufflePartitions(s, streamShufflePartitions(s)) {
      val base = streamScratch(s, d, "scg")
      val t0 = 1704067200000000L
      val ev = Tables.events(s, d).select("event_id", "event_type", "user_id", "value", "ts")
      val week = F.greatest(F.lit(0), F.least(F.lit(3),
        F.floor((F.unix_micros(F.col("ts")) - F.lit(t0)) / F.lit(8L * 86400000000L)))).cast("int")
      val schema = graft.streaming.Replay.writeSlices(ev, s"$base/in", week, 4)
      val rules = Seq(
        graft.operators.Constraints.Satisfies("value_small", F.col("value") < 40),
        graft.operators.Constraints.Satisfies("user_even",
          F.pmod(F.col("user_id"), F.lit(2)) === 0))
      val q = graft.streaming.EventStream.constraintsGateSink(
          graft.streaming.Replay.readSliced(s, s"$base/in", schema), rules,
          ok => ok.write.mode("append").parquet(s"$base/ok"),
          dead => dead
            .select(F.col("event_type"), F.col("batch_id"),
              F.array_join(F.col("violated"), ",").as("violated"))
            .write.mode("append").parquet(s"$base/dead"))
        .option("checkpointLocation", s"$base/chk").start()
      q.awaitTermination()
      val ok = s.read.parquet(s"$base/ok").groupBy("event_type")
        .agg(F.count(F.lit(1)).as("n"))
        .select(F.lit("ok").as("kind"), F.col("event_type"),
          F.lit(-1L).as("batch_id"), F.lit("").as("violated"), F.col("n"))
      val dead = s.read.parquet(s"$base/dead")
        .groupBy("event_type", "batch_id", "violated")
        .agg(F.count(F.lit(1)).as("n"))
        .select(F.lit("dead").as("kind"), F.col("event_type"),
          F.col("batch_id"), F.col("violated"), F.col("n"))
      ok.unionByName(dead).orderBy("kind", "event_type", "batch_id", "violated")
    }),

    // G4 gate: custom-state sessionization (flatMapGroupsWithState,
    // event-time timeout). Week slices + a zero-lag watermark pin the
    // trajectory; a session emits when its successor opens or when the
    // final no-data watermark advance times it out — so the emitted
    // set is every gap-rule session except a user's LAST session
    // whose (end + gap) is not strictly below the global max event
    // time. Session arithmetic runs at the sink's millisecond
    // precision (java.sql.Timestamp.getTime); the fixture was checked
    // free of ms/µs boundary and timeout-equality edges at every sf.
    // The double `total_value` column is excluded (stream add order
    // differs) — start/end/count are exact.
    "stream_sessionize" -> ((s, d) => withShufflePartitions(s, streamShufflePartitions(s)) {
      val base = streamScratch(s, d, "sss")
      val t0 = 1704067200000000L
      val ev = Tables.events(s, d)
        .filter(F.pmod(F.col("user_id"), F.lit(4)) === 0)
        .select("user_id", "value", "ts")
      val week = F.greatest(F.lit(0), F.least(F.lit(3),
        F.floor((F.unix_micros(F.col("ts")) - F.lit(t0)) / F.lit(8L * 86400000000L)))).cast("int")
      val schema = graft.streaming.Replay.writeSlices(ev, s"$base/in", week, 4)
      val sessions = graft.streaming.EventStream.sessionize(
        graft.streaming.Replay.readSliced(s, s"$base/in", schema),
        gapMinutes = 30, watermark = "0 seconds")
      val q = sessions.toDF.writeStream.outputMode("append").format("parquet")
        .option("path", s"$base/out")
        .option("checkpointLocation", s"$base/chk")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination()
      s.read.parquet(s"$base/out")
        .select(F.col("user_id"),
          F.unix_micros(F.col("session_start")).as("start_us"),
          F.unix_micros(F.col("session_end")).as("end_us"),
          F.col("n_events"))
        .orderBy("user_id", "start_us")
    }),

    // G18+G19 gate: the avro streaming SINK and SOURCE back to back —
    // four parquet micro-batches land as epoch-unique avro shards
    // (G18), then the file-name-watermark avro source streams them
    // back out (G19); content must round-trip bit-for-bit.
    "stream_avro_roundtrip" -> ((s, d) => withShufflePartitions(s, streamShufflePartitions(s)) {
      val base = streamScratch(s, d, "sar")
      val ev = Tables.events(s, d).select("event_id", "event_type", "user_id", "value")
      val schema = graft.streaming.Replay.writeSlices(
        ev, s"$base/in", F.pmod(F.col("event_id"), F.lit(4)), 4)
      val q1 = graft.streaming.Replay.readSliced(s, s"$base/in", schema)
        .writeStream.format("graft-avro")
        .option("checkpointLocation", s"$base/chk1")
        .option("compression", "none")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start(s"$base/avro")
      q1.awaitTermination()
      val q2 = s.readStream.schema(schema).format("graft-avro").load(s"$base/avro")
        .writeStream.format("parquet")
        .option("path", s"$base/out")
        .option("checkpointLocation", s"$base/chk2")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q2.awaitTermination()
      s.read.parquet(s"$base/out").orderBy("event_id")
    }),

    // G12 gate: the streaming corpus filter+score front door —
    // stateless map-only, so the emitted set is the batch expressions'
    // verdict doc for doc. The oracle replays all three signal
    // families (Gopher rule gate at DEFAULT thresholds, quality
    // floor, hashed classifier score): every gate ratio is the same
    // IEEE double in both engines, so the threshold compares are
    // exact.
    "stream_corpus_filter" -> ((s, d) => withShufflePartitions(s, streamShufflePartitions(s)) {
      val base = streamScratch(s, d, "scf")
      val docs = Tables.documents(s, d).select("doc_id", "text")
      val schema = graft.streaming.Replay.writeSlices(
        docs, s"$base/in", F.pmod(F.col("doc_id"), F.lit(4)), 4)
      // thresholds matched to the synthetic corpus (the E16 face's
      // discipline — the default stopword octet barely appears in it)
      val filtered = graft.streaming.EventStream.corpusFilterStream(
        graft.streaming.Replay.readSliced(s, s"$base/in", schema), "text",
        graft.operators.QualityRules.GopherThresholds(minWords = 40,
          maxMeanWordLen = 6.0, stopwords = Seq("the", "a", "and", "of", "to")),
        minQuality = 0.6,
        weights = graft.operators.TextClassifier.hashedWeights(4096))
      val q = filtered.select("doc_id", "clf_score")
        .writeStream.outputMode("append").format("parquet")
        .option("path", s"$base/out")
        .option("checkpointLocation", s"$base/chk")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination()
      s.read.parquet(s"$base/out").orderBy("doc_id")
    }),

    // A55 driver face (round 14): unenforced PRIMARY KEY / FOREIGN KEY
    // constraints on CREATE TABLE, surfaced through
    // INFORMATION_SCHEMA.TABLE_CONSTRAINTS × KEY_COLUMN_USAGE — the
    // hash pins the clause split (STRUCT commas survive), BigQuery's
    // generated names (pk$, fk$N), the enforced=NO invariant and the
    // key-column ordinals
    "sql_constraints_meta" -> ((s, d) => {
      graft.GraftSql.load(s,
        "CREATE OR REPLACE TABLE cm_orders (o_id INT64 NOT NULL, PRIMARY KEY (o_id) NOT ENFORCED)")
      graft.GraftSql.load(s,
        """CREATE OR REPLACE TABLE cm_items (
          |  i_id INT64 NOT NULL, o_id INT64, p_id INT64,
          |  meta STRUCT<a INT64, b STRING>,
          |  PRIMARY KEY (i_id) NOT ENFORCED,
          |  CONSTRAINT fk_order FOREIGN KEY (o_id) REFERENCES cm_orders(o_id) NOT ENFORCED,
          |  FOREIGN KEY (p_id) REFERENCES cm_parts(p_id) NOT ENFORCED)""".stripMargin)
      graft.GraftSql.load(s,
        """SELECT tc.table_name, tc.constraint_name, tc.constraint_type, tc.enforced,
          |       k.column_name, CAST(k.ordinal_position AS BIGINT) AS ord
          |FROM INFORMATION_SCHEMA.TABLE_CONSTRAINTS tc
          |JOIN INFORMATION_SCHEMA.KEY_COLUMN_USAGE k ON k.constraint_name = tc.constraint_name
          |WHERE tc.table_name IN ('cm_orders', 'cm_items')
          |ORDER BY tc.table_name, tc.constraint_name, ord""".stripMargin)
    }),

    // A56 driver face (round 14): the metadata LIFECYCLE verbs —
    // ALTER ... SET OPTIONS (merge + NULL-clears), ALTER TABLE
    // ADD/DROP CONSTRAINT, and the nested-schema COLUMN_FIELD_PATHS
    // walk (struct fields recurse; repeated structs recurse through
    // the array element, BigQuery's shape) — one pinned-literal hash
    "sql_meta_lifecycle" -> ((s, d) => {
      graft.GraftSql.load(s,
        """CREATE OR REPLACE TABLE ml_t (a INT64, b INT64,
          |  meta STRUCT<x INT64, tags ARRAY<STRUCT<k STRING, v STRING>>>)""".stripMargin)
      graft.GraftSql.load(s,
        "ALTER TABLE ml_t SET OPTIONS(description = 'altered', labels = [('t', 'x')])")
      graft.GraftSql.load(s,
        "ALTER TABLE ml_t SET OPTIONS(labels = NULL, owner = 'fx-team')")
      graft.GraftSql.load(s, "ALTER TABLE ml_t ADD PRIMARY KEY (a) NOT ENFORCED")
      graft.GraftSql.load(s,
        "ALTER TABLE ml_t ADD CONSTRAINT fk_b FOREIGN KEY (b) REFERENCES o(x) NOT ENFORCED")
      graft.GraftSql.load(s, "ALTER TABLE ml_t DROP CONSTRAINT fk_b")
      graft.GraftSql.load(s,
        """SELECT 'opt' AS kind, option_name AS name, option_value AS val
          |FROM INFORMATION_SCHEMA.TABLE_OPTIONS WHERE table_name = 'ml_t'
          |UNION ALL
          |SELECT 'con', constraint_name, constraint_type
          |FROM INFORMATION_SCHEMA.TABLE_CONSTRAINTS WHERE table_name = 'ml_t'
          |UNION ALL
          |SELECT 'fp', field_path, data_type
          |FROM INFORMATION_SCHEMA.COLUMN_FIELD_PATHS
          |WHERE table_name = 'ml_t' AND column_name = 'meta'
          |ORDER BY kind, name""".stripMargin)
    }),

    // A57 driver face (round 14): ROW ACCESS POLICIES — BigQuery's
    // row-level security on the session-catalog model. The face hashes
    // BOTH regimes in one frame: two policies active (a row passes if
    // ANY grants it — the OR rule) and the post-DROP single-policy
    // view; the returned plans are analyzed eagerly, so the first
    // SELECT keeps its two-policy semantics after the drop
    "sql_row_policy" -> ((s, d) => {
      Tables.events(s, d).createOrReplaceTempView("rp_events")
      graft.GraftSql.load(s, "DROP ALL ROW ACCESS POLICIES ON rp_events")
      graft.GraftSql.load(s,
        """CREATE ROW ACCESS POLICY p_click ON rp_events
          |GRANT TO ('user:analyst@example.com') FILTER USING (event_type = 'click')""".stripMargin)
      graft.GraftSql.load(s,
        "CREATE ROW ACCESS POLICY p_big ON rp_events FILTER USING (value > 4.0)")
      val q = """SELECT event_type, COUNT(*) AS n,
                |       CAST(MIN(event_id) AS BIGINT) AS min_id
                |FROM rp_events GROUP BY event_type""".stripMargin
      val both = graft.GraftSql.load(s, q).withColumn("phase", F.lit("both"))
      graft.GraftSql.load(s, "DROP ROW ACCESS POLICY p_big ON rp_events")
      val one = graft.GraftSql.load(s, q).withColumn("phase", F.lit("click_only"))
      both.unionByName(one).orderBy("phase", "event_type")
    }),

    // A36c driver face: a stored procedure defined and CALLed through
    // the SQL surface; the procedure parameterizes a gated aggregate,
    // the caller passes script variables — the oracle replays the
    // fully-substituted statement, so the hash gates definition,
    // scope binding and CALL execution
    "sql_procedure" -> ((s, d) => {
      Tables.events(s, d).createOrReplaceTempView("proc_events")
      graft.GraftScript.run(s,
        """CREATE OR REPLACE PROCEDURE evt_report(gate FLOAT64, cap INT64)
          |BEGIN
          |  SELECT event_type, COUNT(*) AS n,
          |         CAST(SUM(CAST(value AS DECIMAL(30,6))) AS DOUBLE) AS v_sum
          |  FROM proc_events
          |  WHERE value > gate AND event_id % cap != 0
          |  GROUP BY event_type ORDER BY event_type;
          |END;
          |DECLARE g FLOAT64 DEFAULT 1.0;
          |CALL evt_report(g, 7);""".stripMargin)
    }),

    // A15b driver face: the GENERAL MERGE surface — conditional WHEN
    // clauses, a DELETE action and a conditional INSERT in one
    // statement (first-match-wins). The oracle replays the whole
    // trajectory as a LEFT JOIN with CASE/filters, so a hash match
    // proves clause ordering, the delete cut, the conditional insert
    // gate and the update's all-from-source values
    "sql_merge_conditional" -> ((s, d) => {
      val e = Tables.events(s, d).select("event_id", "event_type", "value")
      e.filter(F.pmod(F.col("event_id"), F.lit(2)) === 0).createOrReplaceTempView("mc_tgt")
      e.filter(F.pmod(F.col("event_id"), F.lit(3)) === 0).createOrReplaceTempView("mc_src")
      graft.GraftSql.load(s,
        """MERGE INTO mc_tgt T USING mc_src S ON T.event_id = S.event_id
          |WHEN MATCHED AND S.event_type = 'click' THEN DELETE
          |WHEN MATCHED THEN UPDATE SET T.event_type = S.event_type, T.value = S.value
          |WHEN NOT MATCHED AND S.value > 1.0 THEN
          |  INSERT (event_id, event_type, value) VALUES (S.event_id, S.event_type, S.value)""".stripMargin)
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).as("n"),
          F.sum(F.col("value").cast("decimal(30,6)")).cast("double").as("v_sum"),
          F.min("event_id").as("min_id"), F.max("event_id").as("max_id"))
        .orderBy("event_type")
    }),

    // A33b driver face: TRANSACTIONAL DML — INSERT/DELETE/UPDATE
    // statements against a registered Versioned table land as commits
    // (INSERT as an O(batch) APPEND commit, the mutations as snapshot
    // commits; the manifest write is the atomic commit point), and
    // the pre-image stays readable AS OF the pinned first commit.
    // The oracle replays the whole trajectory as filters + a CASE —
    // hash-green proves the commit log, the per-verb routing, and the
    // history cut
    "sql_versioned_dml" -> ((s, d) => {
      val dir = s"${System.getProperty("java.io.tmpdir")}/graft_vdml_${d.replaceAll("[^A-Za-z0-9]", "_")}"
      val p = new org.apache.hadoop.fs.Path(dir)
      val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (fs.exists(p)) fs.delete(p, true)
      val e = Tables.events(s, d)
        .select(F.col("event_id"), F.col("event_type"), F.col("value"))
      def third(i: Int) = e.filter(F.pmod(F.col("event_id"), F.lit(3)) === i)
      graft.sources.Versioned.overwrite(third(0), dir,
        Some(graft.GraftSql.parseTsLiteralUs("2024-01-01 00:00:00")))
      graft.sources.Versioned.register(s, "vd_events", dir)
      third(1).createOrReplaceTempView("vd_incoming")
      graft.GraftSql.load(s, "INSERT INTO vd_events SELECT * FROM vd_incoming")
      graft.GraftSql.load(s, "DELETE FROM vd_events WHERE event_type = 'click'")
      graft.GraftSql.load(s, "UPDATE vd_events SET value = value * 2 WHERE event_type = 'purchase'")
      graft.GraftSql.load(s,
        """SELECT 'asof' AS face, event_type, COUNT(*) AS n,
          |       CAST(SUM(CAST(value AS DECIMAL(30,6))) AS DOUBLE) AS v_sum
          |FROM vd_events FOR SYSTEM_TIME AS OF TIMESTAMP '2024-06-01 00:00:00'
          |GROUP BY event_type
          |UNION ALL
          |SELECT 'latest' AS face, event_type, COUNT(*) AS n,
          |       CAST(SUM(CAST(value AS DECIMAL(30,6))) AS DOUBLE) AS v_sum
          |FROM vd_events GROUP BY event_type
          |ORDER BY face, event_type""".stripMargin)
    }),

    // A46 driver face: BEGIN TRANSACTION ... COMMIT / ROLLBACK — a
    // multi-statement transaction over a registered Versioned table
    // (the reference's stage-then-merge shape,
    // fx_pipeline_with_merge.py:96-112, as ONE atomic commit). The
    // committed transaction's three verbs land as a single manifest
    // commit (asserted), the rolled-back transaction's destructive
    // DELETE leaves no trace, and the pre-image stays readable AS OF
    // the pinned first commit. The oracle replays the committed
    // trajectory as filters + CASE — hash-green proves staging,
    // read-your-writes ordering, the single commit point and the
    // rollback
    "sql_transaction" -> ((s, d) => {
      val dir = s"${System.getProperty("java.io.tmpdir")}/graft_txn_${d.replaceAll("[^A-Za-z0-9]", "_")}"
      val p = new org.apache.hadoop.fs.Path(dir)
      val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (fs.exists(p)) fs.delete(p, true)
      val e = Tables.events(s, d)
        .select(F.col("event_id"), F.col("event_type"), F.col("value"))
      graft.sources.Versioned.overwrite(
        e.filter(F.pmod(F.col("event_id"), F.lit(3)) === 0), dir,
        Some(graft.GraftSql.parseTsLiteralUs("2024-01-01 00:00:00")))
      graft.sources.Versioned.register(s, "tx_events", dir)
      e.filter(F.pmod(F.col("event_id"), F.lit(3)) === 1 && F.col("value") > 2.0)
        .createOrReplaceTempView("tx_incoming")
      graft.GraftScript.run(s,
        """BEGIN TRANSACTION;
          |INSERT INTO tx_events SELECT * FROM tx_incoming;
          |DELETE FROM tx_events WHERE event_type = 'click';
          |UPDATE tx_events SET value = value * 2 WHERE event_type = 'purchase';
          |COMMIT TRANSACTION;
          |BEGIN TRANSACTION;
          |DELETE FROM tx_events WHERE value >= 0;
          |ROLLBACK TRANSACTION;""".stripMargin)
      require(graft.sources.Versioned.commits(s, dir).map(_.action) ==
        Seq("overwrite", "txn"),
        "the committed transaction must land as exactly ONE commit, the rollback as none")
      graft.GraftSql.load(s,
        """SELECT 'asof' AS face, event_type, COUNT(*) AS n,
          |       CAST(SUM(CAST(value AS DECIMAL(30,6))) AS DOUBLE) AS v_sum
          |FROM tx_events FOR SYSTEM_TIME AS OF TIMESTAMP '2024-06-01 00:00:00'
          |GROUP BY event_type
          |UNION ALL
          |SELECT 'latest' AS face, event_type, COUNT(*) AS n,
          |       CAST(SUM(CAST(value AS DECIMAL(30,6))) AS DOUBLE) AS v_sum
          |FROM tx_events GROUP BY event_type
          |ORDER BY face, event_type""".stripMargin)
    }),

    // A35 driver face: a BigQuery multi-statement script (DECLARE /
    // SET / IF / WHILE around distributed statements) through
    // GraftScript.run. Every variable is an INT64 scalar derived from
    // the data, so the whole control-flow trajectory — the IF branch
    // taken, the WHILE fold across buckets, the final substituted
    // literals — replays in DuckDB as plain SQL under the hash gate
    "sql_script" -> ((s, d) => {
      Tables.events(s, d).createOrReplaceTempView("script_events")
      graft.GraftScript.run(s,
        """DECLARE hi INT64 DEFAULT (SELECT MAX(event_id) FROM script_events);
          |DECLARE bucket_n INT64;
          |IF hi >= 100 THEN SET bucket_n = 4; ELSE SET bucket_n = 2; END IF;
          |DECLARE i INT64 DEFAULT 0;
          |DECLARE acc INT64 DEFAULT 0;
          |WHILE i < bucket_n DO
          |  SET acc = acc + (SELECT COUNT(*) FROM script_events
          |                   WHERE event_id % bucket_n = i AND event_type <> 'click');
          |  SET i = i + 1;
          |END WHILE;
          |ASSERT acc <= (SELECT COUNT(*) FROM script_events) AS 'fold overflow';
          |SELECT event_type, COUNT(*) AS n, acc AS nonclick_total, bucket_n AS buckets
          |FROM script_events WHERE event_id <= hi
          |GROUP BY event_type ORDER BY event_type""".stripMargin)
    }),

    // A36d driver face: the loop verbs driving a distributed statement
    // — LOOP/BREAK doubles a step past a bound, REPEAT/UNTIL with
    // CONTINUE folds the odd integers; all INT64 state, so the final
    // substituted statement replays as plain SQL under the hash gate
    "sql_script_loops" -> ((s, d) => {
      Tables.events(s, d).createOrReplaceTempView("script_loop_events")
      graft.GraftScript.run(s,
        """DECLARE step INT64 DEFAULT 1;
          |DECLARE floor_v INT64 DEFAULT 0;
          |DECLARE i INT64 DEFAULT 0;
          |LOOP
          |  SET step = step * 2;
          |  IF step >= 40 THEN BREAK; END IF;
          |END LOOP;
          |REPEAT
          |  SET i = i + 1;
          |  IF MOD(i, 2) = 0 THEN CONTINUE; END IF;
          |  SET floor_v = floor_v + i;
          |UNTIL i >= 9 END REPEAT;
          |SELECT event_type, COUNT(*) AS n
          |FROM script_loop_events
          |WHERE event_id % step < floor_v
          |GROUP BY event_type ORDER BY event_type""".stripMargin)
    }),

    // A36b driver face: the DYNAMIC half of the scripting surface —
    // FOR ... IN iterates the bounded distinct-type list, each
    // iteration binds @params into an EXECUTE IMMEDIATE count whose
    // INTO result folds into a scalar. Every quantity is an INT64 (or
    // an exact double comparison both engines share), so the whole
    // loop trajectory — row order, param binding, the fold — replays
    // in DuckDB as one scalar subquery under the hash gate
    "sql_script_dynamic" -> ((s, d) => {
      Tables.events(s, d).createOrReplaceTempView("script_dyn_events")
      graft.GraftScript.run(s,
        """DECLARE total INT64 DEFAULT 0;
          |DECLARE cnt INT64;
          |FOR t IN (SELECT DISTINCT event_type AS et FROM script_dyn_events ORDER BY et) DO
          |  EXECUTE IMMEDIATE
          |    'SELECT COUNT(*) FROM script_dyn_events WHERE event_type = @et AND value > ' || '@floor'
          |    INTO cnt USING t.et AS et, 1.0 AS floor;
          |  SET total = total + cnt;
          |END FOR;
          |SELECT event_type, COUNT(*) AS n, total AS gated_total
          |FROM script_dyn_events GROUP BY event_type ORDER BY event_type""".stripMargin)
    }),

    // A38 driver face: BigQuery SQL UDFs (CREATE TEMP FUNCTION ... AS
    // (expr)) translated onto Spark 4's native SQL functions, which
    // Catalyst INLINES at every call site — so the whole query plans
    // as if the expressions were written in place (codegen, pushdown
    // intact). Two composed functions (cents quantization + an
    // integer band rule) drive a grouped aggregate; everything after
    // ROUND is integer arithmetic, so the DuckDB oracle replays the
    // query with the function bodies inlined by hand — a hash match
    // proves the translation + inlining change nothing
    "sql_udf" -> ((s, d) => {
      Tables.lineitem(s, d).createOrReplaceTempView("udf_li")
      graft.GraftSql.load(s,
        "CREATE OR REPLACE TEMP FUNCTION price_cents(p FLOAT64) RETURNS INT64 " +
          "AS (CAST(ROUND(p * 100) AS INT64))")
      graft.GraftSql.load(s,
        "CREATE OR REPLACE TEMP FUNCTION cents_band(c INT64) AS " +
          "(CASE WHEN c % 10 < 5 THEN 'low_digit' ELSE 'high_digit' END)")
      graft.GraftSql.load(s,
        """SELECT cents_band(price_cents(l_extendedprice)) AS band,
          |       COUNT(*) AS n, SUM(price_cents(l_extendedprice)) AS cents_sum
          |FROM udf_li GROUP BY band ORDER BY band""".stripMargin)
    }),

    // the sketch face of the same state table: COUNT(DISTINCT user) per
    // type maintained incrementally via mergeable HLL binaries — the
    // measure a raw-sum state cannot carry (distincts don't add).
    // Gate-green (round 12) by the exact-regime discipline: at gate
    // scale the per-type cardinality sits far below the lgK=14
    // sketch's coupon-promotion threshold, so the LIST/SET-mode
    // estimate IS the exact distinct count and merge = coupon union is
    // order-invariant — DuckDB replays it as COUNT(DISTINCT). Beyond
    // coupon mode the estimate becomes approximate; IncrementalSpec
    // pins split-invariance + accuracy there.
    "fx_incremental_users" -> ((s, d) => {
      val e = Tables.events(s, d)
      val keys = Seq("event_type")
      def part(b: DataFrame) = graft.operators.Incremental.partials(b, keys, Seq(
        F.hll_sketch_agg(F.col("user_id"), 14).as("users_hll"),
        F.count(F.lit(1)).as("n_cnt")))
      val state = graft.operators.Incremental.mergeAll(
        (0 to 3).map(i => part(e.filter(F.pmod(F.col("event_id"), F.lit(4)) === i))), keys)
      state.select(F.col("event_type"),
          F.hll_sketch_estimate(F.col("users_hll")).as("approx_users"),
          F.col("n_cnt").as("n"))
        .orderBy("event_type")
    }),
    // the exact companion face of fx_incremental_users: the SAME
    // 4-split mergeAll fold, but with the state keyed at
    // (event_type, user_id) granularity so distinct-users is a plain
    // row count over the state — fully SQL-replayable, giving the fold
    // logic (combine join + fresh-key anti + staging) a hash gate the
    // HLL face can't have. The per-user key space is exactly the shape
    // where a broadcast delta would OOM at 100 TB, so this runs the
    // broadcastDelta=false shuffle path — gating it too.
    "fx_incremental_users_exact" -> ((s, d) => {
      val e = Tables.events(s, d)
      val keys = Seq("event_type", "user_id")
      def part(b: DataFrame) = graft.operators.Incremental.partials(b, keys, Seq(
        F.count(F.lit(1)).as("n_cnt")))
      val state = graft.operators.Incremental.mergeAll(
        (0 to 3).map(i => part(e.filter(F.pmod(F.col("event_id"), F.lit(4)) === i))),
        keys, broadcastDelta = false)
      state.groupBy("event_type")
        .agg(F.count(F.lit(1)).as("exact_users"), F.sum("n_cnt").as("n"))
        .orderBy("event_type")
    }),

    // range (interval) join via the binning rewrite — a bare inequality
    // join would plan as BroadcastNestedLoopJoin; RangeJoin turns it
    // into a shuffled equi-join on (priority, bin) with ≤2× build-side
    // replication. Intervals: a ±5000 price band around every 100th
    // order; points: all orders of the same priority.
    "q_range_join" -> ((s, d) => {
      val o = Tables.orders(s, d)
      val points = o.select(F.col("o_orderkey").as("point_key"),
        F.col("o_totalprice"), F.col("o_orderpriority"))
      val intervals = o.filter(F.col("o_orderkey") % 100 === 0)
        .select(F.col("o_orderkey").as("range_key"),
          (F.col("o_totalprice") - 5000.0).as("lo"),
          (F.col("o_totalprice") + 5000.0).as("hi"),
          F.col("o_orderpriority"))
      graft.operators.RangeJoin.join(points, intervals, "o_totalprice", "lo", "hi",
          keys = Seq("o_orderpriority"), binWidth = Some(10000.0))
        .groupBy("range_key")
        .agg(F.count(F.lit(1)).as("n_points"), dsum(F.col("o_totalprice")).as("sum_price"))
        .orderBy("range_key")
    }),

    // A27: interval×interval overlap join (binned equi-join + bin-ownership
    // dedup — each overlapping pair emitted exactly once, no distinct)
    "q_overlap_join" -> ((s, d) => {
      val o = Tables.orders(s, d)
      val a = o.filter(F.col("o_orderkey") % 50 === 0)
        .select(F.col("o_orderkey").as("a_key"),
          (F.col("o_totalprice") - 2500.0).as("a_lo"),
          (F.col("o_totalprice") + 2500.0).as("a_hi"),
          F.col("o_orderpriority"))
      val b = o.filter(F.col("o_orderkey") % 70 === 0)
        .select(F.col("o_orderkey").as("b_key"),
          (F.col("o_totalprice") - 2500.0).as("b_lo"),
          (F.col("o_totalprice") + 2500.0).as("b_hi"),
          F.col("o_orderpriority"))
      graft.operators.RangeJoin.overlapJoin(a, b, "a_lo", "a_hi", "b_lo", "b_hi",
          keys = Seq("o_orderpriority"), binWidth = Some(5000.0))
        .groupBy("a_key")
        .agg(F.count(F.lit(1)).as("n_overlaps"), F.sum("b_key").as("sum_b_key"))
        .orderBy("a_key")
    }),

    // ───────────────────────── B. SQL analytics surface ─────────────────────────
    "q1_agg" -> ((s, d) => withFanout(s) {
      Tables.lineitem(s, d)
        .filter(F.col("l_shipdate") <= F.lit(java.sql.Timestamp.valueOf("1998-09-01 00:00:00")))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          dsum(F.col("l_quantity")).as("sum_qty"),
          dsum(F.col("l_extendedprice")).as("sum_base_price"),
          dsum4(F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))).as("sum_disc_price"),
          dsum6(F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount")) * (F.lit(1) + F.col("l_tax"))).as("sum_charge"),
          davg(F.col("l_quantity")).as("avg_qty"),
          davg(F.col("l_extendedprice")).as("avg_price"),
          davg(F.col("l_discount")).as("avg_disc"),
          F.count(F.lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")
    }),
    // B1 respelled through BigQuery PIPE SYNTAX (round 12) — the same
    // decimal-cast aggregate, driven through the sql.Pipes rewrite
    // (FROM |> WHERE |> AGGREGATE..GROUP BY |> ORDER BY); shares
    // q1_agg's oracle text, so the hash proves pipe ≡ standard
    "sql_pipe_syntax" -> ((s, d) => {
      Tables.lineitem(s, d).createOrReplaceTempView("pipe_lineitem")
      graft.GraftSql.load(s,
        """FROM pipe_lineitem
          ||> WHERE l_shipdate <= TIMESTAMP '1998-09-01 00:00:00'
          ||> AGGREGATE
          |     CAST(SUM(CAST(l_quantity AS DECIMAL(30,2))) AS DOUBLE) AS sum_qty,
          |     CAST(SUM(CAST(ROUND(l_extendedprice*(1-l_discount), 4) AS DECIMAL(30,4))) AS DOUBLE) AS sum_disc_price,
          |     CAST(SUM(CAST(l_quantity AS DECIMAL(30,2))) AS DOUBLE) / COUNT(*) AS avg_qty,
          |     COUNT(*) AS count_order
          |   GROUP BY l_returnflag, l_linestatus
          ||> ORDER BY l_returnflag, l_linestatus""".stripMargin)
    }),
    "q3_join_topn" -> ((s, d) => {
      val c = Tables.customer(s, d).filter(F.col("c_mktsegment") === "BUILDING")
      val o = Tables.orders(s, d)
        .filter(F.col("o_orderdate") < F.lit(java.sql.Timestamp.valueOf("1998-03-15 00:00:00")))
      val l = Tables.lineitem(s, d)
        .filter(F.col("l_shipdate") > F.lit(java.sql.Timestamp.valueOf("1998-03-15 00:00:00")))
      l.join(o, F.col("l_orderkey") === F.col("o_orderkey"))
        .join(F.broadcast(c), F.col("o_custkey") === F.col("c_custkey"))
        .groupBy(F.col("l_orderkey"), F.to_date(F.col("o_orderdate")).as("orderdate"))
        .agg(dsum4(F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))).as("revenue"))
        .orderBy(F.col("revenue").desc, F.col("l_orderkey"))
        .limit(10)
    }),
    "q5_multijoin" -> ((s, d) => {
      val r = Tables.region(s, d).filter(F.col("r_name") === "ASIA")
      val n = Tables.nation(s, d)
      val sup = Tables.supplier(s, d)
      val c = Tables.customer(s, d)
      val o = Tables.orders(s, d)
      val l = Tables.lineitem(s, d)
      l.join(o, F.col("l_orderkey") === F.col("o_orderkey"))
        .join(F.broadcast(sup), F.col("l_suppkey") === F.col("s_suppkey"))
        .join(c, F.col("o_custkey") === F.col("c_custkey") && F.col("c_nationkey") === F.col("s_nationkey"))
        .join(F.broadcast(n), F.col("s_nationkey") === F.col("n_nationkey"))
        .join(F.broadcast(r), F.col("n_regionkey") === F.col("r_regionkey"))
        .groupBy("n_name")
        .agg(dsum4(F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))).as("revenue"))
        .orderBy(F.col("revenue").desc, F.col("n_name"))
    }),
    "q14_promo" -> ((s, d) => {
      val l = Tables.lineitem(s, d)
        .filter(F.col("l_shipdate") >= F.lit(java.sql.Timestamp.valueOf("1997-01-01 00:00:00")) &&
          F.col("l_shipdate") < F.lit(java.sql.Timestamp.valueOf("1997-04-01 00:00:00")))
      l.join(F.broadcast(Tables.part(s, d)), F.col("l_partkey") === F.col("p_partkey"))
        .agg((F.lit(100.0) *
          dsum4(F.when(F.col("p_type") === "PROMO",
            F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))).otherwise(0.0)) /
          dsum4(F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))))
          .as("promo_revenue"))
    }),
    "q_window_rank" -> ((s, d) => {
      val w = Window.partitionBy("o_custkey").orderBy(F.col("o_totalprice").desc, F.col("o_orderkey"))
      Tables.orders(s, d)
        .select(F.col("o_custkey"), F.col("o_orderkey"), F.col("o_totalprice"),
          F.row_number().over(w).as("rnk"),
          F.lag("o_totalprice", 1).over(w).as("prev_price"))
        .filter(F.col("rnk") <= 3)
        .orderBy("o_custkey", "rnk")
    }),
    "q_semi_anti" -> ((s, d) => {
      val c = Tables.customer(s, d)
      val o = Tables.orders(s, d)
      val hasO = c.join(o, F.col("c_custkey") === F.col("o_custkey"), "left_semi")
        .select(F.col("c_custkey"), F.lit("has_orders").as("tag"))
      val noO = c.join(o, F.col("c_custkey") === F.col("o_custkey"), "left_anti")
        .select(F.col("c_custkey"), F.lit("no_orders").as("tag"))
      hasO.unionByName(noO).orderBy("c_custkey")
    }),
    // B32: the GROUPING()/GROUPING_ID() companion of q_rollup — the
    // functions that tell a rollup row WHICH level produced it (a
    // COALESCE('ALL') sentinel breaks when the data itself contains
    // the sentinel; GROUPING is BigQuery's, and every engine's,
    // correct answer). Coalesced keys keep the sort
    // NULL-convention-free across engines; grouping flags are
    // integers — hash-exact
    "q_grouping_fn" -> ((s, d) => {
      Tables.orders(s, d).createOrReplaceTempView("grp_orders")
      graft.GraftSql.load(s,
        """SELECT COALESCE(o_orderpriority, '?') AS pri, COALESCE(o_orderstatus, '?') AS st,
          |       CAST(GROUPING(o_orderpriority) AS BIGINT) AS g_pri,
          |       CAST(GROUPING(o_orderstatus) AS BIGINT) AS g_st,
          |       COUNT(*) AS n,
          |       CAST(SUM(CAST(o_totalprice AS DECIMAL(30,2))) AS DOUBLE) AS price_sum
          |FROM grp_orders GROUP BY ROLLUP(o_orderpriority, o_orderstatus)
          |ORDER BY g_pri, g_st, pri, st""".stripMargin)
    }),
    "q_rollup" -> ((s, d) => {
      Tables.customer(s, d).as("c")
        .join(F.broadcast(Tables.nation(s, d).as("n")), F.col("c.c_nationkey") === F.col("n.n_nationkey"))
        .join(F.broadcast(Tables.region(s, d).as("r")), F.col("n.n_regionkey") === F.col("r.r_regionkey"))
        .rollup(F.col("r.r_name").as("r_name"), F.col("n.n_name").as("n_name"))
        .agg(F.count(F.lit(1)).as("n_cust"), dsum(F.col("c_acctbal")).as("total_bal"))
        .select(F.coalesce(F.col("r_name"), F.lit("ALL")).as("region_name"),
          F.coalesce(F.col("n_name"), F.lit("ALL")).as("nation_name"),
          F.col("n_cust"), F.col("total_bal"))
        .orderBy("region_name", "nation_name")
    }),
    "q_distinct_agg" -> ((s, d) => {
      Tables.orders(s, d)
        .groupBy("o_orderstatus")
        .agg(
          F.countDistinct(F.col("o_custkey")).as("n_cust"),
          F.count(F.lit(1)).as("n_orders"),
          dsum(F.when(F.col("o_totalprice") > 100000.0, F.col("o_totalprice")).otherwise(0.0)).as("big_rev"))
        .orderBy("o_orderstatus")
    }),
    "q_topk_orders" -> ((s, d) => {
      Tables.orders(s, d)
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy(F.col("o_totalprice").desc, F.col("o_orderkey"))
        .limit(20)
    }),
    "q_running_sum" -> ((s, d) => {
      val daily = Tables.events(s, d)
        .groupBy(evDay(F.col("ts")).as("day"))
        .agg(F.sum(F.col("value").cast("decimal(30,2)")).as("daily_dec"))
      // unpartitioned window is INTENTIONAL and bounded: it runs over
      // the day-level pre-aggregate (≤ one row per day — thousands of
      // rows at 100× data), never the raw table. The bench log's
      // "WindowExec: No Partition Defined" warning refers to this.
      val w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, Window.currentRow)
      daily.select(F.col("day"), F.col("daily_dec").cast("double").as("daily"),
          F.sum("daily_dec").over(w).cast("double").as("running"))
        .orderBy("day")
    }),

    "q_setops" -> ((s, d) => {
      val c = Tables.customer(s, d).select(F.col("c_custkey").as("k"))
      val o = Tables.orders(s, d).select(F.col("o_custkey").as("k"))
      val noOrders = c.exceptAll(o.distinct()).withColumn("src", F.lit("customers_without_orders"))
      val both = c.intersect(o).withColumn("src", F.lit("customers_with_orders"))
      noOrders.unionByName(both).orderBy("src", "k")
    }),
    // declarative load-gate constraints (BigQuery ASSERT / dbt-test
    // shape): row-local rules share ONE scan; unique adds a keyed
    // aggregate, referential integrity one anti-join
    "q_constraints" -> ((s, d) => {
      import graft.operators.Constraints._
      graft.operators.Constraints.check(Tables.orders(s, d), Seq(
        NotNull("o_custkey"),
        InRange("o_totalprice", 1000.0, 300000.0),
        Unique(Seq("o_orderkey")),
        RefIntegrity(Seq("o_custkey"), Tables.customer(s, d), Seq("c_custkey"))))
    }),

    // BigQuery REGEXP_* scalar surface; every pattern sits in the
    // Java-regex ∩ RE2 shared dialect so DuckDB replays it verbatim
    "q_regexp_ops" -> ((s, d) => {
      val t = F.col("text")
      Tables.documents(s, d).select(
        F.col("doc_id"),
        t.rlike("https?://").as("has_url"),
        F.regexp_extract(t, "[0-9]+", 0).as("first_num"),
        F.size(F.regexp_extract_all(t, F.lit("[A-Z][a-z]+"), F.lit(0))).as("n_cap_words"),
        F.length(F.regexp_replace(t, "[aeiou]", "")).as("n_vowelless_chars"))
        .orderBy("doc_id")
    }),

    "q_string_ops" -> ((s, d) => {
      Tables.part(s, d).select(
          F.col("p_partkey"),
          F.upper(F.col("p_name")).as("name_upper"),
          F.substring(F.col("p_type"), 1, 3).as("type_prefix"),
          F.col("p_brand").like("Brand#1%").as("is_brand1x"),
          F.concat_ws("/", F.col("p_brand"), F.col("p_type")).as("brand_type"),
          F.length(F.col("p_name")).as("name_len"))
        .orderBy("p_partkey")
    }),
    // BigQuery PIVOT surface: wide per-status columns from long rows.
    // Pivot values are pinned (F/O/P) so the output schema is static;
    // empty count cells coalesce to 0 to match SQL FILTER semantics.
    "q_pivot" -> ((s, d) => {
      val wide = Tables.orders(s, d)
        .groupBy("o_orderpriority")
        .pivot("o_orderstatus", Seq("F", "O", "P"))
        .agg(F.count(F.lit(1)).as("n"), dsum(F.col("o_totalprice")).as("rev"))
      val cols = F.col("o_orderpriority") +: Seq("F", "O", "P").flatMap(st => Seq(
        F.coalesce(F.col(s"${st}_n"), F.lit(0L)).as(s"${st}_n"),
        F.col(s"${st}_rev").as(s"${st}_rev")))
      wide.select(cols: _*).orderBy("o_orderpriority")
    }),
    // BigQuery UNPIVOT surface: two measure columns melted to
    // (key, measure, value) long rows.
    "q_unpivot" -> ((s, d) => {
      Tables.part(s, d)
        .select(F.col("p_partkey"), F.col("p_size").cast("double").as("size"),
          F.col("p_retailprice").as("retailprice"))
        .unpivot(Array(F.col("p_partkey")), Array(F.col("size"), F.col("retailprice")),
          "measure", "value")
        .orderBy("p_partkey", "measure")
    }),
    "q_grouping_sets" -> ((s, d) => {
      graft.sources.Typed.registerAllViews(s, d)
      s.sql("""SELECT COALESCE(o_orderstatus, 'ALL') AS status,
              |       COALESCE(o_orderpriority, 'ALL') AS prio,
              |       COUNT(*) AS n,
              |       CAST(SUM(CAST(o_totalprice AS DECIMAL(30,2))) AS DOUBLE) AS total
              |FROM orders
              |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
              |ORDER BY status, prio""".stripMargin)
    }),
    "q_profile" -> ((s, d) => withFanout(s) {
      // int/string columns only: double/timestamp min/max stringification
      // is engine-specific and would break hash parity
      Profile.columnsExact(Tables.orders(s, d)
          .select("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority"))
        .orderBy("column")
    }),
    // the 100 TB routing of B15: single algebraic pass with HLL
    // distincts (no countDistinct Expand). HLL estimates are
    // engine-specific -> rows-only; accuracy pinned in ProfileSpec
    "q_profile_approx" -> ((s, d) => {
      Profile.columns(Tables.orders(s, d)
          .select("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority"))
        .orderBy("column")
    }),
    // exact interpolated percentiles (BigQuery PERCENTILE_CONT). ORACLE-/
    // BOUNDED-GROUP-ONLY: Spark's exact `percentile` buffers every value
    // of a group in one aggregation buffer — at 100 TB a hot group is an
    // OOM, not a slow query. The 100 TB routing is q_percentile_approx.
    "q_percentile" -> ((s, d) => {
      Tables.events(s, d).groupBy("event_type")
        .agg(
          F.expr("percentile(value, 0.25)").as("p25"),
          F.expr("percentile(value, 0.5)").as("p50"),
          F.expr("percentile(value, 0.9)").as("p90"),
          F.count(F.lit(1)).as("n"))
        .orderBy("event_type")
    }),
    // the 100 TB routing of B11: approx_percentile keeps a bounded
    // KLL-style sketch per group (mergeable partials, map-side combine)
    // instead of buffering every value. Sketch estimates are
    // engine-specific -> rows-only; accuracy pinned vs exact in
    // ProfileSpec (matches BigQuery's own APPROX_QUANTILES surface).
    "q_percentile_approx" -> ((s, d) => {
      Tables.events(s, d).groupBy("event_type")
        .agg(
          F.expr("approx_percentile(value, 0.25, 10000)").as("p25"),
          F.expr("approx_percentile(value, 0.5, 10000)").as("p50"),
          F.expr("approx_percentile(value, 0.9, 10000)").as("p90"),
          F.count(F.lit(1)).as("n"))
        .orderBy("event_type")
    }),
    // B11b: the EXACT-REGIME face of approx_percentile (the B24
    // recipe — drive the sketch where its answer is provably exact
    // and the hash oracle applies): Spark's GK sketch at accuracy ≥
    // group size returns the true rank-selected ELEMENT, which is
    // exactly DuckDB's quantile_disc — so the SAME routing that runs
    // approximate at 100 TB is hash-gated here, leaving only the
    // genuinely approximate regime rows-only
    "q_percentile_approx_exact" -> ((s, d) => {
      Tables.events(s, d).groupBy("event_type")
        .agg(
          F.expr("approx_percentile(value, 0.25, 10000000)").as("p25"),
          F.expr("approx_percentile(value, 0.5, 10000000)").as("p50"),
          F.expr("approx_percentile(value, 0.9, 10000000)").as("p90"),
          F.count(F.lit(1)).as("n"))
        .orderBy("event_type")
    }),
    // BigQuery APPROX_TOP_COUNT: bounded mergeable sketch, map-side
    // partials, no per-item shuffle. maxItemsTracked covers the
    // distinct count here, so counts are exact and the oracle hash
    // applies; the sub-capacity estimation regime + sketch-merge
    // (accumulate/combine/estimate) are pinned in HeavyHittersSpec.
    // Re-sorted on (count, item) because sketch tie order is unspecified.
    "q_approx_topk" -> ((s, d) => {
      graft.operators.HeavyHitters.topCount(
          Tables.events(s, d), "event_type", k = 3, maxItemsTracked = 16)
        .select("item", "count_est")
        .orderBy(F.col("count_est").desc, F.col("item"))
    }),

    // BigQuery ARRAY surface: ARRAY_AGG(... ORDER BY ... LIMIT 3) +
    // UNNEST WITH OFFSET — per-customer top-3 orders as an ordered
    // array, exploded back to scalar rows (arrays in the output frame
    // are hash-fragile; scalar rows are the proven compare shape).
    // The bounded top_k_payload aggregate is the point: ARRAY_AGG with
    // LIMIT k must hold O(k) state per key, not collect_list's whole
    // group (PlanSpec asserts no collect_list survives in this plan).
    // ORDER BY price DESC, key DESC ⇒ tieId = -key (asc on the
    // negation); the payload struct carries the output columns.
    "q_array_ops" -> ((s, d) => {
      Tables.orders(s, d)
        .groupBy("o_custkey")
        .agg(graft.functions.aggregates.top_k_payload(
          F.col("o_totalprice"), -F.col("o_orderkey"),
          F.struct(F.col("o_orderkey").as("orderkey"), F.col("o_totalprice").as("price")),
          3).as("top3"))
        .select(F.col("o_custkey"), F.posexplode(F.col("top3")))
        .select(F.col("o_custkey"), F.col("pos"),
          F.col("col.orderkey").as("orderkey"), F.col("col.price").as("price"))
        .orderBy("o_custkey", "pos")
    }),
    // BigQuery conditional scalar surface: COUNTIF, SAFE_DIVIDE
    // (= nullif-guarded ANSI division), IFNULL, ANY_VALUE (sound for
    // the oracle because c_name is functionally dependent on the
    // grouping key after the join — any value IS the min)
    "q_cond_ops" -> ((s, d) => {
      Tables.orders(s, d)
        .join(F.broadcast(Tables.customer(s, d)),
          F.col("o_custkey") === F.col("c_custkey"))
        .groupBy("o_custkey")
        .agg(
          F.expr("any_value(c_name)").as("name"),
          F.expr("count_if(o_orderstatus = 'F')").as("n_f"),
          F.expr("count_if(o_orderstatus = 'O')").as("n_o"))
        .withColumn("f_over_o",
          F.expr("ifnull(cast(n_f as double) / cast(nullif(n_o, 0) as double), cast(-1 as double))"))
        .orderBy("o_custkey")
    }),
    // BigQuery QUALIFY idiom: filter on a window function without a
    // wrapping subquery — latest order per customer. The DataFrame
    // spelling (window + filter) plans to ONE Window over the
    // partition shuffle, no self-join; the oracle uses DuckDB's
    // native QUALIFY clause so the idiom round-trips across engines.
    // Deterministic tie-break on o_orderkey.
    // round 11: spelled as BigQuery's actual QUALIFY clause through
    // GraftSql (rewriteQualify) — the DuckDB oracle runs the SAME
    // text, so the hash gates the rewrite; Catalyst collapses the
    // wrap into the identical Window + Filter the old DataFrame
    // spelling planned
    "q_qualify" -> ((s, d) => {
      Tables.orders(s, d).createOrReplaceTempView("orders")
      graft.GraftSql.load(s,
        """SELECT o_custkey, o_orderkey, o_orderdate, o_orderstatus
          |FROM orders
          |QUALIFY row_number() OVER (PARTITION BY o_custkey
          |        ORDER BY o_orderdate DESC, o_orderkey) = 1
          |ORDER BY o_custkey""".stripMargin)
    }),

    // distribution-window surface: NTILE / PERCENT_RANK / CUME_DIST
    // per priority — one Window over one partition shuffle; unique
    // (totalprice, orderkey) ordering makes every rank deterministic,
    // and the rank ratios are exact small-integer divisions, so the
    // doubles hash-match across engines
    "q_ntile" -> ((s, d) => {
      val w = Window.partitionBy("o_orderpriority")
        .orderBy(F.col("o_totalprice"), F.col("o_orderkey"))
      Tables.orders(s, d).select(
          F.col("o_orderkey"), F.col("o_orderpriority"),
          F.ntile(4).over(w).as("quartile"),
          F.percent_rank().over(w).as("pct_rank"),
          F.cume_dist().over(w).as("cume"))
        .orderBy("o_orderkey")
    }),

    // BigQuery correlated-scalar-subquery surface, through spark.sql
    // (planned as outer joins by both engines; integer/decimal outputs
    // keep hash parity trivially)
    "q_corr_subquery" -> ((s, d) => {
      graft.sources.Typed.registerAllViews(s, d)
      s.sql("""SELECT c_custkey,
              |  (SELECT COUNT(*) FROM orders WHERE o_custkey = c_custkey) AS n_orders,
              |  (SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(30,2))) AS DOUBLE)
              |     FROM orders WHERE o_custkey = c_custkey) AS total
              |FROM customer ORDER BY c_custkey""".stripMargin)
    }),
    // BigQuery WITH RECURSIVE surface (B30): bounded-depth hierarchy
    // walk — the org-chart/category-tree/BOM query class. The tree is
    // derived from real keys (parent(k) = k div 10, a 10-ary trie over
    // c_custkey), so both engines walk the identical structure with no
    // synthetic fixture. Spark 4 plans this as UnionLoop: each
    // iteration is ONE shuffled equi-join of the frontier against
    // customer, and depth is bounded by log10(max key) — the shape
    // recursive CTEs are FOR. Unbounded graph closure (dedup
    // connectivity) must NOT use this: iterations serialize and the
    // frontier can't be pruned — that's C9 connectedComponents
    // (large-star/small-star). Decimal-cast acctbal sum keeps double
    // parity; count/depth are exact integers.
    "q_recursive_cte" -> ((s, d) => {
      graft.sources.Typed.registerAllViews(s, d)
      s.sql("""WITH RECURSIVE h AS (
              |  SELECT c_custkey AS k, c_custkey AS root, 0 AS depth, c_acctbal
              |  FROM customer WHERE c_custkey < 10
              |  UNION ALL
              |  SELECT c.c_custkey, h.root, h.depth + 1, c.c_acctbal
              |  FROM customer c JOIN h ON c.c_custkey DIV 10 = h.k
              |  WHERE c.c_custkey >= 10)
              |SELECT root, depth, COUNT(*) AS n_members,
              |       CAST(SUM(CAST(c_acctbal AS DECIMAL(30,2))) AS DOUBLE) AS bal_sum
              |FROM h GROUP BY root, depth
              |ORDER BY root, depth""".stripMargin)
    }),
    // BigQuery RANGE window: trailing 7-day sum over the daily series
    // (RANGE frame with an interval bound, not a row count)
    // B19 (+B48 refinement, r10): the trailing-7-day RANGE window,
    // spelled as a named-WINDOW REFINEMENT CHAIN (partition → +order →
    // +frame) through the dialect merge — the hash gates that the
    // merged spec IS the full inline spec
    "q_range_window" -> ((s, d) => {
      graft.sources.Typed.registerAllViews(s, d)
      graft.GraftSql.load(s,
        """WITH daily AS (
          |  SELECT CAST(date_trunc('day', ts) AS DATE) AS day, event_type,
          |         SUM(CAST(value AS DECIMAL(30,2))) AS daily_dec
          |  FROM events GROUP BY 1, 2)
          |SELECT day, event_type, CAST(daily_dec AS DOUBLE) AS daily,
          |       CAST(SUM(daily_dec)
          |            OVER (wo RANGE BETWEEN INTERVAL 6 DAY PRECEDING AND CURRENT ROW)
          |            AS DOUBLE) AS trailing_7d
          |FROM daily
          |WINDOW wp AS (PARTITION BY event_type),
          |       wo AS (wp ORDER BY day)
          |ORDER BY event_type, day""".stripMargin)
    }),
    // batch sessionization: gap>30min starts a new session; epoch-micros
    // arithmetic on both sides dodges engine interval-comparison corners
    "q_sessionize" -> ((s, d) => {
      val w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
      Tables.events(s, d)
        .select(F.col("user_id"), F.col("event_id"), F.col("value"),
          F.unix_micros(F.col("ts")).as("ts_us"))
        .withColumn("new_s",
          F.when(F.col("ts_us") - F.lag("ts_us", 1).over(w) > 30L * 60 * 1000000, 1)
            .otherwise(0))
        .withColumn("session_id", F.sum("new_s")
          .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy("user_id", "session_id")
        .agg(F.count(F.lit(1)).as("n_events"), dsum(F.col("value")).as("session_value"))
        .orderBy("user_id", "session_id")
    }),
    // contamination check: corpus docs (id>=25) sharing >=5 distinct
    // 3-gram shingles with any "benchmark" doc (id<25) — the pre-train
    // eval-set overlap sweep; fires on the corpus's replicated docs
    "text_contamination" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      graft.operators.InvertedIndex.contaminationPairs(
          docs.filter(F.col("doc_id") >= 25), docs.filter(F.col("doc_id") < 25),
          "doc_id", "text", minShared = 5)
        .orderBy("corpus_id", "bench_id")
    }),
    // A44: the search-index lifecycle as STATEMENTS — the index IS the
    // materialized positional postings view, so the phrase query joins
    // posting lists (never re-tokenizes the corpus); DuckDB replays
    // tokenize + adjacency directly, gating that the indexed route
    // returns exactly the direct-scan answer
    "sql_search_index" -> ((s, d) => {
      Tables.documents(s, d).createOrReplaceTempView("si_docs")
      graft.GraftSql.load(s, "DROP SEARCH INDEX IF EXISTS si_docs_idx")
      graft.GraftSql.load(s, "CREATE SEARCH INDEX si_docs_idx ON si_docs (doc_id, text)")
      graft.GraftSql.load(s,
        """SELECT p0.doc_id AS doc_id, COUNT(*) AS n_hits, MIN(p0.pos) AS first_pos
          |FROM si_docs_idx p0 JOIN si_docs_idx p1
          |  ON p1.doc_id = p0.doc_id AND p1.pos = p0.pos + 1 AND p1.token = 'fast'
          |WHERE p0.token = 'slow'
          |GROUP BY p0.doc_id ORDER BY doc_id""".stripMargin)
    }),
    // A44b: SEARCH-style ALL-terms containment answered from the
    // postings alone (searchFromPostings — one Σdf-row pass, one
    // exchange, corpus untouched); DuckDB replays tokenize +
    // distinct-term coverage directly
    "search_index_terms" -> ((s, d) => {
      val postings = graft.operators.InvertedIndex.positionalPostings(
        Tables.documents(s, d), "doc_id", "text")
      graft.operators.InvertedIndex.searchFromPostings(
          postings, Seq("slow", "fast", "the"))
        .orderBy("doc_id")
    }),

    // A44c (round 12): the ANALYZER-MATCHED index route — a
    // punctuation-decorated corpus indexed through the statement's
    // LOG_ANALYZER option (non-alphanumeric-run tokens, the B31
    // SEARCH() analyzer), then all-terms containment answered from
    // the postings; 'doc' only exists as a token if '[Doc#' split and
    // case-folded correctly. Closes the stated A44-vs-B31 divergence.
    "search_index_log" -> ((s, d) => {
      Tables.documents(s, d).select(F.col("doc_id"),
          F.concat(F.lit("[Doc#"), F.col("doc_id").cast("string"), F.lit("] "),
            F.regexp_replace(F.col("text"), " ", ", ")).as("text"))
        .createOrReplaceTempView("si_dirty")
      graft.GraftSql.load(s, "DROP SEARCH INDEX IF EXISTS si_dirty_idx")
      graft.GraftSql.load(s,
        "CREATE SEARCH INDEX si_dirty_idx ON si_dirty (doc_id, text) " +
          "OPTIONS(analyzer = 'LOG_ANALYZER')")
      graft.operators.InvertedIndex.searchFromPostings(
          s.table("si_dirty_idx"), Seq("slow", "fast", "doc"))
        .orderBy("doc_id")
    }),

    // E24: trainless signed-feature-hashing text embeddings — the
    // engine-native embedder that closes the documents→vectors loop
    // (integer components feed k-means/dedup/int8 ANN exactly; the
    // normalized float form feeds cosine retrieval). One map-only
    // pass, never a shuffle; exploded to scalar rows for the robust
    // compare shape
    // NOTE the stageLazy: posexplode re-evaluates its generator input
    // per EMITTED row (dim× — measured 0.7 s → 22 s at sf0.1), and the
    // orderBy's range sampling doubles it again; staging materializes
    // the embed chain once (the §4 discipline, Generate edition)
    "text_embed" -> ((s, d) => withFanout(s) {
      val emb = graft.operators.Staging.stageLazy(
        graft.operators.Embedding.hashEmbedding(
          Tables.documents(s, d), "doc_id", "text", dim = 32))
      emb.select(F.col("doc_id"), F.posexplode(F.col("embedding")).as(Seq("pos", "v")))
        .orderBy("doc_id", "pos")
    }),

    // E24b: END-TO-END text retrieval with NO external vectors —
    // documents → hashed embeddings (E24) → cosine top-k (D1), all
    // in-engine. Cosine is scale-invariant, so the integer embeddings
    // score directly (cast to float — components are small exact
    // ints); both sides staged (the §4 join-predicate discipline).
    // The oracle replays embed + ranking as one statement
    "search_text_embed" -> ((s, d) => withFanout(s) {
      val emb = graft.operators.Staging.stageLazy(
        graft.operators.Embedding.hashEmbedding(
            Tables.documents(s, d), "doc_id", "text", dim = 32)
          .select(F.col("doc_id"), F.col("embedding").cast("array<float>").as("embedding")))
      val q = emb.filter(F.col("doc_id") % 50 === 0)
        .select(F.col("doc_id").as("qid"), F.col("embedding").as("qvec"))
      Similarity.bruteForceTopK(emb.withColumnRenamed("doc_id", "vec_id"), q, 5)
        .orderBy("qid", "rank")
    }),

    // posting-list stats: the distributed heart of TF-IDF over the corpus
    "text_tf_df" -> ((s, d) => {
      graft.operators.InvertedIndex.termStats(Tables.documents(s, d), "doc_id", "text")
        .orderBy("token")
    }),
    // E22: exact phrase matching over the positional token stream —
    // adjacency, not bag-of-words; a two-term and a three-term phrase
    // under one gate. The stream filters to the phrases' own terms
    // before any shuffle, the adjacency is df-sized equi-joins on the
    // normalized start position; overlapping hits count separately
    "search_phrase" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val p1 = graft.operators.InvertedIndex
        .phraseOccurrences(docs, "doc_id", "text", Seq("table", "value"))
        .withColumn("phrase", F.lit("table value"))
      val p2 = graft.operators.InvertedIndex
        .phraseOccurrences(docs, "doc_id", "text", Seq("a", "row", "fast"))
        .withColumn("phrase", F.lit("a row fast"))
      p1.unionByName(p2).orderBy("phrase", "doc_id")
    }),
    // Corpus-relative rare-token signal: per doc, how many of its
    // distinct tokens appear in <= dfMax documents corpus-wide —
    // high counts flag OCR noise / gibberish / boilerplate IDs (the
    // CCNet-family vocabulary filter). Integer counts only, so the
    // oracle is hash-exact. Scale shape: tf collapses the exploded
    // stream to one row per (doc, token) BEFORE the df join, and the
    // join is a plain shuffle hash join on token (the vocabulary at
    // 100 TB is far past broadcast size).
    "text_rare_tokens" -> ((s, d) => {
      val tf = graft.operators.InvertedIndex
        .termFrequencies(Tables.documents(s, d), "doc_id", "text")
      val df = tf.groupBy("token").agg(F.count(F.lit(1)).as("__df"))
      tf.join(df, "token")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).as("n_distinct"),
          F.sum(F.when(F.col("__df") <= 2, 1L).otherwise(0L)).as("n_rare"))
        .orderBy("doc_id")
    }),
    // BPE vocabulary induction over the corpus's word-frequency dict:
    // the merge table is fully deterministic (weight desc, pair asc
    // ties) but SQL-inexpressible — rows-only; BpeSpec pins the whole
    // table against an independent driver-side reference BPE
    // E9 (gate-green round 12): the trained merge table hashes against
    // a full INDEPENDENT DuckDB re-training (sequential vanilla
    // rounds, unrolled CTEs — bpeTrainOracleSql); the batched trainer
    // equals that schedule by the bestPairs disjoint-prefix theorem
    "text_bpe_vocab" -> ((s, d) => {
      graft.operators.Bpe.mergeTable(Tables.documents(s, d), "text", rounds = 10)
        .orderBy("rank")
    }),
    // E9b (round 15): BYTE-level BPE training — the GPT-2-family
    // production regime (UTF-8 bytes as fixed-width hex tokens, byte
    // fallback by construction). Same batched trainer, same oracle
    // replay with hex(encode(w)) as the round-0 symbol string
    "text_bpe_bytes" -> ((s, d) => {
      graft.operators.Bpe.mergeTable(Tables.documents(s, d), "text", rounds = 10,
        byteLevel = true).orderBy("rank")
    }),
    // E25 (round 11): unigram-LM tokenizer, the SentencePiece
    // algorithm beside E9's BPE. The SEED half is pure relational
    // (substring stream weighted by word freq — integer-exact) and
    // carries the hash; training's hard-EM is deterministic but
    // SQL-inexpressible (Viterbi) and its ln p is libm → the vocab
    // face is rows-only with UnigramSpec pinning the whole table
    // against an independent driver-side reference
    "text_unigram_seed" -> ((s, d) => {
      graft.operators.Unigram.seedPieces(Tables.documents(s, d), "text",
        maxPieceLen = 4, seedSize = 50)
    }),
    "text_unigram_tokens" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val pieces = graft.operators.Unigram.train(docs, "text",
        vocabSize = 200, rounds = 3, maxPieceLen = 4, seedSize = 400)
      graft.operators.Unigram.tokenCount(docs, "doc_id", "text", pieces)
        .orderBy("doc_id")
    }),
    // subword regularization (Kudo 2018's augmentation half): sampled
    // segmentation counts, RNG-free (md5(word ‖ doc-salt)) so the face
    // is deterministic run-to-run yet varies across docs — rows-only
    // (libm exp/ln in the draw), UnigramSpec pins validity, salt
    // determinism, k=1 ≡ Viterbi, and alpha concentration
    "text_unigram_sample" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val pieces = graft.operators.Unigram.train(docs, "text",
        vocabSize = 200, rounds = 2, maxPieceLen = 4, seedSize = 400)
      graft.operators.Unigram.sampledTokenCount(docs, "doc_id", "text", pieces,
        k = 8, alpha = 0.2, salt = "r11")
        .orderBy("doc_id")
    }),
    // E19: BPE ENCODING under a pinned well-formed merge table — the
    // apply half of the tokenizer (E9 trains; this runs the trained
    // artifact at corpus scale, the per-doc true-token-count signal).
    // Map-only: explode words, one codegen'd ApplyBpe per word, then a
    // per-doc bounded fold (positions are row-bounded, the B25 rule).
    // Every output is an integer or a deterministic string, so the
    // DuckDB oracle replays the merge loop as chained boundary-
    // anchored replaces over separator-joined characters
    "text_bpe_encode" -> ((s, d) => {
      val words = Tables.documents(s, d)
        .select(F.col("doc_id"), F.posexplode_outer(T.tokens(F.col("text"))).as(Seq("pos", "__w")))
        .filter(F.length(F.col("__w")) > 0)
      val enc = words.select(F.col("doc_id"), F.col("pos"),
        graft.operators.Bpe.encode(
          F.array_remove(F.split(F.col("__w"), ""), ""), bpeFixtureMerges).as("__sym"))
      val agg = enc.groupBy("doc_id").agg(
        F.count(F.lit(1)).as("n_words"),
        F.sum(F.size(F.col("__sym"))).as("n_bpe_tokens"),
        F.array_join(
          F.transform(F.array_sort(F.collect_list(F.struct(F.col("pos"), F.col("__sym")))),
            (x: Column) => F.array_join(x.getField("__sym"), " ")), " ").as("enc"))
      Tables.documents(s, d).select("doc_id")
        .join(agg, Seq("doc_id"), "left")
        .select(F.col("doc_id"),
          F.coalesce(F.col("n_words"), F.lit(0L)).as("n_words"),
          F.coalesce(F.col("n_bpe_tokens"), F.lit(0L)).as("n_bpe_tokens"),
          F.coalesce(F.col("enc"), F.lit("")).as("enc"))
        .orderBy("doc_id")
    }),
    // E19b (round 15): BYTE-level BPE ENCODING under the hex-renamed
    // pinned table — the apply half of text_bpe_bytes, same map-only
    // shape as text_bpe_encode (explode words, one codegen'd ApplyBpe
    // over the byte tokens, per-doc bounded fold); the oracle replays
    // the chained boundary-anchored replaces over hex(encode(word))
    "text_bpe_bytes_encode" -> ((s, d) => {
      val words = Tables.documents(s, d)
        .select(F.col("doc_id"), F.posexplode_outer(T.tokens(F.col("text"))).as(Seq("pos", "__w")))
        .filter(F.length(F.col("__w")) > 0)
      val enc = words.select(F.col("doc_id"), F.col("pos"),
        graft.operators.Bpe.encode(
          graft.operators.Bpe.initialSymbols(byteLevel = true),
          bpeByteFixtureMerges).as("__sym"))
      val agg = enc.groupBy("doc_id").agg(
        F.count(F.lit(1)).as("n_words"),
        F.sum(F.size(F.col("__sym"))).as("n_bpe_tokens"),
        F.array_join(
          F.transform(F.array_sort(F.collect_list(F.struct(F.col("pos"), F.col("__sym")))),
            (x: Column) => F.array_join(x.getField("__sym"), " ")), " ").as("enc"))
      Tables.documents(s, d).select("doc_id")
        .join(agg, Seq("doc_id"), "left")
        .select(F.col("doc_id"),
          F.coalesce(F.col("n_words"), F.lit(0L)).as("n_words"),
          F.coalesce(F.col("n_bpe_tokens"), F.lit(0L)).as("n_bpe_tokens"),
          F.coalesce(F.col("enc"), F.lit("")).as("enc"))
        .orderBy("doc_id")
    }),

    // unigram cross-entropy under the corpus's own unigram LM — the
    // CCNet-family perplexity quality signal (high = rare-token-heavy
    // doc). ln() lands in doubles whose bit pattern is libm-dependent,
    // so rows-only; InvertedIndexSpec pins values against a driver-
    // side recompute. Same scale shape as text_rare_tokens: (doc,
    // token) collapse, token-keyed shuffle join, broadcast 1-row total
    "text_surprisal" -> ((s, d) => withFanout(s) {
      val tf = graft.operators.InvertedIndex
        .termFrequencies(Tables.documents(s, d), "doc_id", "text")
      val stats = tf.groupBy("token").agg(F.sum("tf").as("__ct"))
      val total = tf.agg(F.sum("tf").cast("double").as("__N"))
      tf.join(stats, "token")
        .crossJoin(F.broadcast(total))
        .groupBy("doc_id")
        .agg(
          (F.sum(F.col("tf") * -F.log(F.col("__ct") / F.col("__N"))) / F.sum("tf"))
            .as("avg_surprisal"),
          F.sum("tf").cast("long").as("n_tokens"))
        .orderBy("doc_id")
    }),
    // E15: bigram LM surprisal (the CCNet recipe one order up from
    // text_surprisal): Laplace-smoothed P(w2|w1), per-doc mean over
    // bigram occurrences; libm ln => rows-only like E10, independent
    // recompute pinned in LanguageModelSpec
    "text_bigram_surprisal" -> ((s, d) => {
      graft.operators.LanguageModel
        .bigramSurprisal(Tables.documents(s, d), "doc_id", "text")
        .orderBy("doc_id")
    }),
    // E15's INTEGER face (the E15b/c/d `_hits` discipline backported):
    // model trained on the EVEN doc_ids, every doc scored, odd docs
    // decorated with a never-seen token so all three Laplace classes
    // fire — the count tables, both joins, the routing AND the count
    // sums the estimate reads all replay in DuckDB; the libm ln stays
    // on the rows-only sibling above
    "text_bigram_hits" -> ((s, d) => {
      val docs = backoffFixture(Tables.documents(s, d))
      val even = docs.filter(F.col("doc_id") % 2 === 0)
      val model = (graft.operators.LanguageModel.unigramCounts(even, "text"),
        graft.operators.LanguageModel.bigramCounts(even, "text"))
      graft.operators.LanguageModel.bigramHits(docs, "doc_id", "text", Some(model))
        .orderBy("doc_id")
    }),
    // E15b: Stupid Backoff trigram LM (Brants et al. 2007) — model
    // trained on the EVEN doc_ids; every doc scored, odd docs
    // decorated with a doc_id-derived never-seen token so all FOUR
    // backoff levels fire (the C2b decoration discipline). The integer
    // face: per-position n-gram order actually used (3/2/1/0) —
    // count tables, three joins, and the longest-available-context
    // rule all replay in DuckDB
    "text_backoff_hits" -> ((s, d) => {
      val docs = backoffFixture(Tables.documents(s, d))
      val model = graft.operators.LanguageModel.trainStupidBackoff(
        docs.filter(F.col("doc_id") % 2 === 0), "text")
      graft.operators.LanguageModel.stupidBackoff(docs, "doc_id", "text", Some(model))
        .select("doc_id", "n_tokens", "n_tri", "n_bi", "n_uni", "n_unseen")
        .orderBy("doc_id")
    }),
    // E15c: interpolated Kneser-Ney bigram LM (the normalized
    // smoothing beside Stupid Backoff) — same E15b fixture recipe:
    // trained on the even doc_ids, odd docs carry a never-seen token
    // so all three probability-mass classes fire (observed bigram /
    // continuation-only / unseen-floor). The integer face: count
    // tables, continuation counts, and the mass-class routing all
    // replay in DuckDB
    "text_kn_hits" -> ((s, d) => {
      val docs = backoffFixture(Tables.documents(s, d))
      val model = graft.operators.LanguageModel.trainKneserNey(
        docs.filter(F.col("doc_id") % 2 === 0), "text")
      graft.operators.LanguageModel.kneserNey(docs, "doc_id", "text", Some(model))
        .select("doc_id", "n_bigrams", "n_big", "n_cont", "n_unseen")
        .orderBy("doc_id")
    }),
    // E15d: the TRIGRAM interpolated-KN integer face — same fixture
    // recipe; the four probability-mass classes (observed trigram /
    // trigram-level continuation / unigram continuation / floor) and
    // every count table replay in DuckDB
    "text_kn3_hits" -> ((s, d) => {
      val docs = backoffFixture(Tables.documents(s, d))
      val model = graft.operators.LanguageModel.trainKneserNey3(
        docs.filter(F.col("doc_id") % 2 === 0), "text")
      graft.operators.LanguageModel.kneserNey3(docs, "doc_id", "text", Some(model))
        .select("doc_id", "n_trigrams", "n_tri", "n_cont2", "n_cont1", "n_unseen")
        .orderBy("doc_id")
    }),
    // the libm face of E15d (rows-only; routing hash-gated above,
    // 1e-9-pinned + proper-distribution property in the spec)
    "text_kn3_surprisal" -> ((s, d) => {
      val docs = backoffFixture(Tables.documents(s, d))
      val model = graft.operators.LanguageModel.trainKneserNey3(
        docs.filter(F.col("doc_id") % 2 === 0), "text")
      graft.operators.LanguageModel.kneserNey3(docs, "doc_id", "text", Some(model))
        .select("doc_id", "n_trigrams", "kn3_surprisal")
        .orderBy("doc_id")
    }),
    // the libm face of E15c: mean -ln P under interpolated KN
    // (rows-only; the routing is hash-gated by text_kn_hits, the
    // value 1e-9-pinned in LanguageModelSpec)
    "text_kn_surprisal" -> ((s, d) => {
      val docs = backoffFixture(Tables.documents(s, d))
      val model = graft.operators.LanguageModel.trainKneserNey(
        docs.filter(F.col("doc_id") % 2 === 0), "text")
      graft.operators.LanguageModel.kneserNey(docs, "doc_id", "text", Some(model))
        .select("doc_id", "n_bigrams", "kn_surprisal")
        .orderBy("doc_id")
    }),
    // the libm face of E15b: mean -ln S per doc (rows-only, like E15;
    // the routing logic is hash-gated by text_backoff_hits)
    "text_backoff_surprisal" -> ((s, d) => {
      val docs = backoffFixture(Tables.documents(s, d))
      val model = graft.operators.LanguageModel.trainStupidBackoff(
        docs.filter(F.col("doc_id") % 2 === 0), "text")
      graft.operators.LanguageModel.stupidBackoff(docs, "doc_id", "text", Some(model))
        .select("doc_id", "n_tokens", "sb_surprisal")
        .orderBy("doc_id")
    }),
    // Gopher/C4-style repetition quality signal: fraction of a doc's
    // 3-gram positions occupied by repeated shingles. Map-only (tokens
    // -> shingle set are staged native projections); the int/int double
    // division is IEEE-deterministic so it hashes bit-equal to DuckDB
    "text_repetition" -> ((s, d) => {
      Tables.documents(s, d)
        .select(F.col("doc_id"), T.tokens(F.col("text")).as("__toks"))
        .select(F.col("doc_id"), F.size(F.col("__toks")).as("__n"),
          graft.functions.native.word_shingles(F.col("__toks"), 3).as("__sh"))
        .filter(F.col("__n") >= 3)
        .select(F.col("doc_id"),
          (F.col("__n") - 2).cast("long").as("n_grams"),
          F.size(F.col("__sh")).cast("long").as("n_distinct"))
        .withColumn("repetition",
          F.lit(1.0) - F.col("n_distinct").cast("double") / F.col("n_grams").cast("double"))
        .orderBy("doc_id")
    }),

    // BigQuery JSON surface (JSON_VALUE / JSON_EXTRACT over a string
    // payload column): ONE from_json projection under an explicit
    // schema — never schema inference — then plain aggregation
    "q_json_extract" -> ((s, d) => {
      import org.apache.spark.sql.types._
      val k = F.from_json(F.col("props"), StructType(Seq(StructField("k", LongType))))
        .getField("k")
      Tables.events(s, d)
        .select(F.col("event_type"), k.as("k"))
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).as("n"), F.count(F.col("k")).as("n_with_k"),
          F.sum("k").as("k_sum"), F.min("k").as("k_min"), F.max("k").as("k_max"))
        .orderBy("event_type")
    }),

    // LAX_* JSON scalar accessors (round 11): six payload variants
    // per event — numeric text, quoted numeric, fractional, bool,
    // object, JSON null — pushed through all four accessors; the
    // DuckDB oracle spells the pinned coercion table inline, so the
    // hash gates the macro expansion and every coercion row. Double
    // sums ride DECIMAL (the float-parity discipline)
    "q_json_lax" -> ((s, d) => {
      Tables.events(s, d).createOrReplaceTempView("lax_events")
      graft.GraftSql.load(s,
        """WITH v AS (
          |  SELECT CASE CAST(event_id % 6 AS INT)
          |    WHEN 0 THEN get_json_object(props, '$.k')
          |    WHEN 1 THEN concat('"', get_json_object(props, '$.k'), '"')
          |    WHEN 2 THEN '1.5'
          |    WHEN 3 THEN 'true'
          |    WHEN 4 THEN '{"o":1}'
          |    ELSE 'null' END AS j
          |  FROM lax_events)
          |SELECT COUNT(*) AS n,
          |  CAST(SUM(LAX_INT64(j)) AS BIGINT) AS i_sum, COUNT(LAX_INT64(j)) AS i_n,
          |  CAST(SUM(CAST(LAX_FLOAT64(j) AS DECIMAL(30,6))) AS DOUBLE) AS f_sum,
          |  COUNT(LAX_FLOAT64(j)) AS f_n,
          |  CAST(SUM(CASE WHEN LAX_BOOL(j) THEN 1 ELSE 0 END) AS BIGINT) AS b_true,
          |  COUNT(LAX_BOOL(j)) AS b_n,
          |  COUNT(LAX_STRING(j)) AS s_n, MIN(LAX_STRING(j)) AS s_min
          |FROM v""".stripMargin)
    }),

    // JSON_KEYS + the STRICT typed accessors (round 13): five nested
    // payload shapes exercise strict/depth-limited/lax/lax-recursive
    // key enumeration (counts AND joined path text — quoting, dotting
    // and sort order all under the hash); six scalar variants push
    // BOOL/INT64/FLOAT64/STRING guarded to their matching rows plus
    // the SAFE. forms everywhere. The DuckDB oracle spells the
    // DOCUMENTED enumeration per payload shape as literals (the
    // payloads are constants — the expectation is hand-derived from
    // the JSON_KEYS spec, independent of this engine) and the
    // accessor semantics as plain casts
    "q_json_keys" -> ((s, d) => withFanout(s) {
      Tables.events(s, d).createOrReplaceTempView("jkeys_events")
      graft.GraftSql.load(s,
        """WITH v AS (
          |  SELECT CAST(event_id % 5 AS INT) AS m, CAST(event_id % 6 AS INT) AS sm,
          |         get_json_object(props, '$.k') AS kv
          |  FROM jkeys_events),
          |p AS (
          |  SELECT m, sm,
          |    CASE m
          |      WHEN 0 THEN concat('{"a": ', kv, ', "b": {"c": 1}}')
          |      WHEN 1 THEN '{"a": [{"x": 1}], "b": 2}'
          |      WHEN 2 THEN '{"z": true, "a.b": 3}'
          |      WHEN 3 THEN '{"a": [[{"deep": 1}]], "s": "hi"}'
          |      ELSE '{"n": {"m": {"q": 1}}}' END AS j,
          |    CASE sm WHEN 0 THEN kv WHEN 1 THEN '10.0' WHEN 2 THEN 'true'
          |            WHEN 3 THEN '"hi"' WHEN 4 THEN '1.5' ELSE 'null' END AS sj
          |  FROM v)
          |SELECT COUNT(*) AS n,
          |  CAST(SUM(size(JSON_KEYS(j))) AS BIGINT) AS k_strict_n,
          |  CAST(SUM(size(JSON_KEYS(j, 1))) AS BIGINT) AS k_d1_n,
          |  CAST(SUM(size(JSON_KEYS(j, mode => 'lax'))) AS BIGINT) AS k_lax_n,
          |  CAST(SUM(size(JSON_KEYS(j, mode => 'lax recursive'))) AS BIGINT) AS k_laxr_n,
          |  MIN(array_join(JSON_KEYS(j), ',')) AS k_min_path,
          |  MAX(array_join(JSON_KEYS(j, mode => 'lax recursive'), ',')) AS k_max_path,
          |  CAST(SUM(CASE WHEN sm IN (0, 1) THEN INT64(sj) END) AS BIGINT) AS i_sum,
          |  COUNT(SAFE.INT64(sj)) AS i_n,
          |  CAST(SUM(CASE WHEN sm IN (0, 1, 4) THEN CAST(FLOAT64(sj) AS DECIMAL(30,6)) END) AS DOUBLE) AS f_sum,
          |  COUNT(SAFE.FLOAT64(sj)) AS f_n,
          |  CAST(SUM(CASE WHEN sm = 2 AND BOOL(sj) THEN 1 ELSE 0 END) AS BIGINT) AS b_true,
          |  COUNT(SAFE.BOOL(sj)) AS b_n,
          |  MIN(CASE WHEN sm = 3 THEN STRING(sj) END) AS s_min,
          |  COUNT(SAFE.STRING(sj)) AS s_n
          |FROM p""".stripMargin)
    }),

    // ML.NGRAMS (round 11): per-doc bigram+trigram generation as a
    // per-row HOF pipeline (tokens staged as a COLUMN — referenced
    // twice, so CollapseProject leaves the projection standing); the
    // DuckDB oracle replays with list comprehensions in the same
    // n-order, so the hash gates gram text, order and counts
    "q_ml_ngrams" -> ((s, d) => withFanout(s) {
      Tables.documents(s, d).createOrReplaceTempView("ngram_docs")
      graft.GraftSql.load(s,
        """WITH t AS (
          |  SELECT doc_id,
          |         regexp_extract_all(lower(trim(text)), '[^\\s]+', 0) AS toks
          |  FROM ngram_docs)
          |SELECT doc_id,
          |       CAST(size(ML.NGRAMS(toks, [2, 3], '_')) AS BIGINT) AS n_grams,
          |       CAST(size(array_distinct(ML.NGRAMS(toks, [2, 3], '_'))) AS BIGINT) AS n_distinct,
          |       try_element_at(ML.NGRAMS(toks, [2], '_'), 1) AS first_bigram
          |FROM t ORDER BY doc_id""".stripMargin)
    }),

    // APPROX_TOP_SUM (round 11): the EXACT-REGIME face carries the
    // hash (capacity ≥ distinct users → zero evictions → the result
    // IS the group-sum top-k, order-free; DuckDB replays it as plain
    // SQL — the B11/KLL exact-sibling discipline) ...
    "q_top_sum_exact" -> ((s, d) => {
      Tables.events(s, d).createOrReplaceTempView("tsum_events")
      graft.GraftSql.load(s,
        """WITH tk AS (
          |  SELECT APPROX_TOP_SUM(user_id, CAST(event_id % 97 AS BIGINT), 20) AS a
          |  FROM tsum_events)
          |SELECT pos + 1 AS rank, e.value AS user_id, e.sum AS w_sum
          |FROM tk LATERAL VIEW posexplode(a) AS pos, e
          |ORDER BY rank""".stripMargin)
    }),
    // ... and the EVICTION-REGIME face (capacity 32, gate-green round
    // 12): raw estimates depend on stream order, so the face puts the
    // sketch's THEOREMS under the hash instead — guarantee-as-data.
    // Three users are inflated to provable heavy hitters (true sum
    // ~7× the survival threshold ΣW/capacity, so presence, est-bounds
    // est−err ≤ true ≤ est, and top-3 membership are deterministic
    // TRUE for ANY partitioning / merge order); DuckDB replays the
    // exact true sums and the literal TRUEs. TopSumSpec still pins
    // the bound proofs on adversarial streams.
    "q_approx_top_sum" -> ((s, d) => {
      Tables.events(s, d).createOrReplaceTempView("tsum_events2")
      graft.GraftSql.load(s,
        """WITH src AS (
          |  SELECT CAST(user_id AS STRING) AS u,
          |         CASE WHEN user_id IN (1, 2, 3) THEN CAST(5000 AS BIGINT)
          |              ELSE CAST(event_id % 97 AS BIGINT) END AS w
          |  FROM tsum_events2),
          |tk AS (SELECT graft_approx_top_sum(u, w, 32, 32) AS a FROM src),
          |ent AS (
          |  SELECT pos, e.value AS u, e.sum_w AS est, e.error AS err
          |  FROM tk LATERAL VIEW posexplode(a) AS pos, e),
          |tru AS (
          |  SELECT u, CAST(SUM(w) AS BIGINT) AS true_sum FROM src
          |  WHERE u IN ('1', '2', '3') GROUP BY u)
          |SELECT t.u AS user_id, t.true_sum,
          |       e.u IS NOT NULL AS in_sketch,
          |       e.est - e.err <= t.true_sum AND t.true_sum <= e.est AS bounds_ok,
          |       e.pos < 3 AS in_top3
          |FROM tru t LEFT JOIN ent e ON e.u = t.u
          |ORDER BY t.u""".stripMargin)
    }),

    // FARM_FINGERPRINT (round 11; gate-green round 12): DuckDB has no
    // FarmHash, so the oracle carries the REFERENCE values instead —
    // Guava farmHashFingerprint64 outputs for ten pinned strings (the
    // open-source Fingerprint64 BigQuery documents; the TypedSqlSpec
    // derives the same vectors live from Guava, so the literals are
    // independently cross-checked in-repo). The face computes the
    // fingerprint AND the two bucketing idioms built on it
    // (stable-sampling MOD ABS, ML.HASH_BUCKETIZE's pmod); DuckDB
    // replays the bucket arithmetic from the pinned fingerprints.
    "q_farm_fingerprint" -> ((s, d) => {
      graft.GraftSql.load(s,
        """WITH v(s) AS (VALUES ('abc'), (''), ('a'), ('graft'), ('hello world'),
          |  ('id-42'), ('The quick brown fox jumps over the lazy dog'),
          |  ('order-12345'), ('0123456789'), ('FX 2024-03-01 USD/EUR'))
          |SELECT s, FARM_FINGERPRINT(s) AS fp,
          |       MOD(ABS(FARM_FINGERPRINT(s)), 8) AS b,
          |       ML.HASH_BUCKETIZE(s, 7) AS hb
          |FROM v ORDER BY s""".stripMargin)
    }),

    // BQML analytic preprocessing (round 11): per-event-type min-max
    // scaling, gated through a decile histogram — the scaled value is
    // an IEEE double ratio of exact inputs, so floor(s*10) is
    // bit-deterministic across engines (no float-sum hashing); DuckDB
    // replays the expansion's exact formula as explicit windows
    "q_ml_minmax" -> ((s, d) => {
      Tables.events(s, d).createOrReplaceTempView("mm_events")
      graft.GraftSql.load(s,
        """WITH sc AS (
          |  SELECT event_type,
          |         ML.MIN_MAX_SCALER(value) OVER (PARTITION BY event_type) AS x,
          |         ML.BUCKETIZE(value, [10.0, 50.0, 100.0]) AS sbin
          |  FROM mm_events)
          |SELECT event_type, CAST(floor(x * 10) AS BIGINT) AS bucket, sbin, COUNT(*) AS n
          |FROM sc GROUP BY event_type, bucket, sbin
          |ORDER BY event_type, bucket, sbin""".stripMargin)
    }),

    // scalar JSON path accessors (round 11): a nested payload per
    // event — string/number/object/array/JSON-null members — through
    // JSON_VALUE (unquoted scalars, NULL for non-scalars) and
    // JSON_QUERY (JSON text, quotes kept); DuckDB replays with its
    // native json_extract/json_extract_string plus a json_type guard
    // for the non-scalar NULL rule
    "q_json_value" -> ((s, d) => withFanout(s) {
      Tables.events(s, d).createOrReplaceTempView("jv_events")
      graft.GraftSql.load(s,
        """WITH p AS (
          |  SELECT concat('{"t":"', event_type, '","k":', get_json_object(props, '$.k'),
          |                ',"o":{"c":', CAST(event_id % 7 AS STRING), '},"z":null}') AS j
          |  FROM jv_events)
          |SELECT COUNT(*) AS n,
          |  COUNT(JSON_VALUE(j, '$.t')) AS t_n, MIN(JSON_VALUE(j, '$.t')) AS t_min,
          |  CAST(SUM(CAST(JSON_VALUE(j, '$.k') AS BIGINT)) AS BIGINT) AS k_sum,
          |  MIN(JSON_QUERY(j, '$.t')) AS t_q_min,
          |  COUNT(JSON_VALUE(j, '$.o')) AS o_scalar_n,
          |  COUNT(JSON_QUERY(j, '$.o')) AS o_query_n, MAX(JSON_QUERY(j, '$.o')) AS o_max,
          |  COUNT(JSON_VALUE(j, '$.z')) AS z_n, MIN(JSON_QUERY(j, '$.z')) AS z_text,
          |  COUNT(JSON_VALUE(j, '$.missing')) AS m_n
          |FROM p""".stripMargin)
    }),

    // the JSON MUTATOR family (round 12): a deterministic payload per
    // event, each mutator exercised once — overwrite, nested create,
    // remove, array append, null strip. Jackson serializes compact and
    // insertion-ordered, so the oracle CONSTRUCTS the expected JSON
    // text directly (DuckDB 1.0 has no json mutators) — every output
    // byte is under the hash
    "q_json_set" -> ((s, d) => {
      Tables.events(s, d).createOrReplaceTempView("jm_events")
      graft.GraftSql.load(s,
        """WITH src AS (
          |  SELECT event_id,
          |         '{"a":' || CAST(event_id % 5 AS STRING) || ',"b":null,"tags":[' ||
          |           CAST(event_id % 3 AS STRING) || ']}' AS j
          |  FROM jm_events WHERE event_id < 50)
          |SELECT event_id,
          |  JSON_SET(j, '$.a', event_id % 7) AS set_scalar,
          |  JSON_SET(j, '$.c.d', 'x') AS set_nested,
          |  JSON_REMOVE(j, '$.b') AS removed,
          |  JSON_ARRAY_APPEND(j, '$.tags', event_id % 2) AS appended,
          |  JSON_STRIP_NULLS(j) AS stripped,
          |  JSON_INSERT(JSON_INSERT(j, '$.a', 99), '$.z', event_id % 2) AS inserted,
          |  JSON_REPLACE(JSON_REPLACE(j, '$.a', event_id % 7), '$.zz', 1) AS replaced,
          |  JSON_ARRAY_INSERT(j, '$.tags[0]', event_id % 2) AS arr_ins,
          |  JSON_TYPE(CASE WHEN event_id % 2 = 0 THEN j ELSE '[1]' END) AS jtype
          |FROM src ORDER BY event_id""".stripMargin)
    }),
    // the JSON CONSTRUCTORS (round 12, B56's second half): objects,
    // heterogeneous arrays, PARSE_JSON canonicalization and a
    // constructor∘mutator composition — the oracle reconstructs every
    // output byte by concatenation, same discipline as q_json_set
    "q_json_object" -> ((s, d) => {
      Tables.events(s, d).createOrReplaceTempView("jc_events")
      graft.GraftSql.load(s,
        """WITH src AS (
          |  SELECT event_id, event_type, event_id % 5 AS a
          |  FROM jc_events WHERE event_id < 50)
          |SELECT event_id,
          |  JSON_OBJECT('id', event_id, 'type', event_type, 'a', a) AS obj,
          |  JSON_ARRAY(event_id, event_type, a % 2 = 0) AS arr,
          |  PARSE_JSON('{ "k" : ' || CAST(a AS STRING) || ' , "t": [1, ' ||
          |             CAST(event_id % 3 AS STRING) || '] }') AS canon,
          |  JSON_SET(JSON_OBJECT('x', a), '$.y.z', event_type) AS composed
          |FROM src ORDER BY event_id""".stripMargin)
    }),
    // BigQuery JSON ARRAY surface (B21's companion): the statement
    // builds a deterministic array payload per event, then
    // JSON_EXTRACT_ARRAY + comma-UNNEST (both rewritten by GraftSql —
    // the macro expansion and the LATERAL VIEW explode) fan it out
    // and aggregate. Numeric elements, so the DuckDB json replay
    // (json_extract + json_transform + unnest) hashes bit-for-bit
    "q_json_array" -> ((s, d) => withFanout(s) {
      Tables.events(s, d).createOrReplaceTempView("ja_events")
      graft.GraftSql.load(s,
        """WITH payload AS (
          |  SELECT event_type,
          |         CONCAT('{"ks": [', CAST(k AS STRING), ', ', CAST(k * 2 AS STRING),
          |                ', ', CAST(k % 5 AS STRING), ']}') AS j
          |  FROM (SELECT event_type,
          |               CAST(get_json_object(props, '$.k') AS BIGINT) AS k
          |        FROM ja_events))
          |SELECT event_type, COUNT(*) AS n_elems,
          |       SUM(CAST(e AS BIGINT)) AS e_sum,
          |       MIN(CAST(e AS BIGINT)) AS e_min,
          |       MAX(CAST(e AS BIGINT)) AS e_max
          |FROM payload, UNNEST(JSON_EXTRACT_ARRAY(j, '$.ks')) AS e
          |GROUP BY event_type ORDER BY event_type""".stripMargin)
    }),

    // BigQuery GENERATE_DATE_ARRAY + UNNEST: the date-spine gap-fill
    // idiom as one statement (the SQL spelling of A14's Resample) —
    // the macro's sequence rewrite, the lateral-view UNNEST and the
    // spine × types cross join all land under the hash gate; DuckDB
    // replays the spine with generate_series
    "q_date_spine" -> ((s, d) => {
      Tables.events(s, d).createOrReplaceTempView("spine_events")
      // bounds and types derive from the DAILY aggregate: Catalyst
      // inlines each CTE reference and column-prunes it separately,
      // so the plan carries three corpus scans — but bounds reads ONE
      // column and types ONE column (pruning measured in the plan),
      // so the extra passes are thin. The library route for gap-fill
      // at 100 TB stays A14's Resample (one pass); this face gates
      // the SQL statement surface
      graft.GraftSql.load(s,
        """WITH daily AS (
          |  SELECT CAST(date_trunc('day', ts) AS DATE) AS day, event_type,
          |         COUNT(*) AS n_day, SUM(CAST(value AS DECIMAL(30,6))) AS v_day
          |  FROM spine_events GROUP BY 1, 2),
          |bounds AS (SELECT MIN(day) AS lo, MAX(day) AS hi FROM daily),
          |spine AS (
          |  SELECT day FROM bounds, UNNEST(GENERATE_DATE_ARRAY(lo, hi)) AS day),
          |types AS (SELECT DISTINCT event_type FROM daily),
          |frac AS (
          |  SELECT CAST(SUM(x) AS DOUBLE) AS frac_sum, COUNT(*) AS frac_n
          |  FROM bounds, UNNEST(GENERATE_ARRAY(0.0, 2.0, 0.25)) AS x)
          |SELECT s.day, t.event_type,
          |       CAST(COALESCE(d.n_day, 0) AS BIGINT) AS n,
          |       CAST(COALESCE(d.v_day, 0) AS DOUBLE) AS v_sum,
          |       f.frac_sum, f.frac_n
          |FROM spine s CROSS JOIN types t CROSS JOIN frac f
          |LEFT JOIN daily d ON d.day = s.day AND d.event_type = t.event_type
          |ORDER BY s.day, t.event_type""".stripMargin)
    }),

    // BigQuery FUNCTION SPELLINGS (B36): one statement written in
    // BigQuery's own function dialect — COUNTIF / LOGICAL_OR /
    // TIMESTAMP_DIFF / DATE_ADD(.., INTERVAL) / FORMAT_DATE('%…') /
    // STRPOS — runs through the GraftSql spelling rewrites; DuckDB
    // replays each with ITS native spelling, so a hash match proves
    // the semantic mapping (incl. the div-truncation rule), not just
    // that something ran
    "q_bq_functions" -> ((s, d) => {
      Tables.events(s, d).createOrReplaceTempView("bqf_events")
      graft.GraftSql.load(s,
        """SELECT event_type,
          |  COUNTIF(value > 1.0) AS n_big,
          |  LOGICAL_OR(value >= 2.0) AS any_big,
          |  TIMESTAMP_DIFF(MAX(ts), MIN(ts), HOUR) AS span_h,
          |  TIMESTAMP_DIFF(MAX(ts), MIN(ts), DAY) AS span_d,
          |  FORMAT_DATE('%Y/%m/%d', DATE_ADD(CAST(MIN(ts) AS DATE), INTERVAL 1 MONTH)) AS next_m,
          |  STRPOS(event_type, 'c') AS cpos
          |FROM bqf_events GROUP BY event_type ORDER BY event_type""".stripMargin)
    }),

    // B36c: function batch 2 in pure BigQuery dialect — TRUNC family
    // (reversed arg order, typed results), literal-delimiter SPLIT on
    // the regex metacharacters '|' and '.', EDIT_DISTANCE with the
    // capping max_distance form, NFKC-casefold CONTAINS_SUBSTR, and
    // the statement-wide INT64 cast mapping — DuckDB replays each with
    // ITS native spelling (date_trunc/string_split/levenshtein/lower)
    "q_bq_functions2" -> ((s, d) => {
      Tables.events(s, d).createOrReplaceTempView("bqf2_events")
      graft.GraftSql.load(s,
        """SELECT event_type,
          |  TIMESTAMP_TRUNC(MIN(ts), HOUR) AS first_hour,
          |  DATE_TRUNC(CAST(MAX(ts) AS DATE), MONTH) AS last_month,
          |  CAST(EDIT_DISTANCE(event_type, 'click') AS INT64) AS ed,
          |  CAST(EDIT_DISTANCE(event_type, 'click', max_distance => 3) AS INT64) AS ed3,
          |  CAST(ARRAY_LENGTH(SPLIT(event_type || '|x.y|z', '|')) AS INT64) AS n_parts,
          |  ARRAY_LAST(SPLIT(event_type || '|x.y|z', '.')) AS last_dot,
          |  CONTAINS_SUBSTR(event_type, 'IC') AS has_ic,
          |  RANGE_BUCKET(LENGTH(event_type), [3, 5, 6]) AS len_bucket,
          |  CAST(MAX(GREATEST(value, IF(event_type = 'click', CAST(NULL AS FLOAT64), 0.0)))
          |       AS DOUBLE) AS g_max,
          |  DIV(-7 * CAST(COUNT(*) AS INT64), 2) AS d_neg,
          |  IEEE_DIVIDE(COUNT(*), 0) AS inf_div,
          |  ARRAY_TO_STRING(ARRAY_SLICE(SPLIT(event_type || '|x.y|z', '|'), 1, -1), '/') AS mid_parts,
          |  ARRAY_TO_STRING(ARRAY_SLICE(SPLIT(event_type || '|x.y|z', '|'), -2, 9), '/') AS tail_parts
          |FROM bqf2_events GROUP BY event_type ORDER BY event_type""".stripMargin)
    }),

    // BigQuery STAR MODIFIERS (B37): `* EXCEPT (...) REPLACE (expr AS
    // col)` through the GraftSql star rewrite; the oracle replays the
    // EXPLICIT projection the modifiers denote, so the hash gates the
    // expansion semantics (removed column gone, replaced column same
    // name/type with the new value, untouched columns intact)
    "q_star_replace" -> ((s, d) => {
      graft.sources.Typed.registerAllViews(s, d)
      graft.GraftSql.load(s,
        """SELECT * EXCEPT (o_custkey)
          |  REPLACE (o_totalprice / 100 AS o_totalprice,
          |           upper(o_orderpriority) AS o_orderpriority)
          |FROM orders WHERE o_orderkey % 97 = 0 ORDER BY o_orderkey""".stripMargin)
    }),

    // BigQuery date/time scalar surface: EXTRACT / FORMAT_DATE /
    // DATE_DIFF / DATE_ADD. Integer parts cast to long so both engines
    // hash the same width; dayofweek follows BigQuery (Sunday=1 —
    // DuckDB's DOW is Sunday=0, mapped in the oracle)
    // B23: the date/part surface THROUGH the dialect layer — the
    // BigQuery EXTRACT spellings (incl. the Sunday-start 0-based WEEK
    // and WEEK(<WEEKDAY>) boundary arithmetic, r10) are what the hash
    // gates, replayed by DuckDB's own week arithmetic
    "q_date_ops" -> ((s, d) => {
      Tables.events(s, d).createOrReplaceTempView("dateops_events")
      graft.GraftSql.load(s,
        """SELECT event_id,
          |  CAST(EXTRACT(YEAR FROM ts) AS BIGINT) AS y,
          |  CAST(EXTRACT(MONTH FROM ts) AS BIGINT) AS m,
          |  CAST(EXTRACT(DAYOFWEEK FROM ts) AS BIGINT) AS dow,
          |  CAST(EXTRACT(ISOWEEK FROM ts) AS BIGINT) AS iso_week,
          |  CAST(EXTRACT(WEEK FROM ts) AS BIGINT) AS bq_week,
          |  CAST(EXTRACT(WEEK(THURSDAY) FROM ts) AS BIGINT) AS bq_week_thu,
          |  date_format(ts, 'yyyy-MM-dd') AS day_str,
          |  CAST(datediff(DATE '2025-01-01', to_date(ts)) AS BIGINT) AS days_to_2025,
          |  date_add(to_date(ts), 30) AS plus30
          |FROM dateops_events ORDER BY event_id""".stripMargin)
    }),

    // timezone-argument date/time forms (round 14): TIMESTAMP_TRUNC /
    // DATE / FORMAT_TIMESTAMP / PARSE_TIMESTAMP with a NAMED ZONE. The
    // per-row day offset fans the January event stream out across
    // Jan–May 2024, so the Europe/Paris leg crosses the 2024-03-31
    // spring-forward boundary with real data on both sides;
    // America/Lima is a fixed-offset (no-DST) zone and Asia/Kathmandu
    // exercises a +05:45 half-quarter offset under HOUR truncation.
    // The FORMAT→PARSE round trip is gap-safe by construction: a
    // rendering of a real instant never falls inside the missing hour.
    "q_tz_ops" -> ((s, d) => {
      Tables.events(s, d).createOrReplaceTempView("tz_events")
      graft.GraftSql.load(s,
        """WITH b AS (
          |  SELECT event_id,
          |         timestampadd(DAY, CAST(user_id % 120 AS INT), ts) AS t
          |  FROM tz_events)
          |SELECT event_id,
          |  TIMESTAMP_TRUNC(t, DAY, 'Europe/Paris') AS day_paris,
          |  TIMESTAMP_TRUNC(t, DAY, 'America/Lima') AS day_lima,
          |  TIMESTAMP_TRUNC(t, HOUR, 'Asia/Kathmandu') AS hour_ktm,
          |  DATE(t, 'Asia/Tokyo') AS d_tokyo,
          |  FORMAT_TIMESTAMP('%Y-%m-%d %H:%M', t, 'Europe/Paris') AS fmt_paris,
          |  PARSE_TIMESTAMP('%Y-%m-%d %H:%M',
          |    FORMAT_TIMESTAMP('%Y-%m-%d %H:%M', t, 'Europe/Paris'),
          |    'Europe/Paris') AS rt_paris,
          |  CAST(EXTRACT(HOUR FROM t AT TIME ZONE 'Europe/Paris') AS BIGINT) AS h_paris,
          |  EXTRACT(DATE FROM t AT TIME ZONE 'Asia/Tokyo') AS d2_tokyo
          |FROM b ORDER BY event_id""".stripMargin)
    }),

    // week-unit calendar family (round 14): Sunday-start WEEK +
    // WEEK(<WEEKDAY>) + ISOWEEK truncation (pure date arithmetic —
    // Spark's date_trunc week is Monday-only), LAST_DAY(d, WEEK),
    // boundary-counting DATE_DIFF over WEEK/MONTH/QUARTER/ISOYEAR and
    // DATETIME_DIFF's civil HOUR boundaries (01:59→02:01 is ONE hour
    // crossed). Everything is integer calendar arithmetic — DuckDB
    // replays each form exactly.
    "q_week_ops" -> ((s, d) => {
      Tables.events(s, d).createOrReplaceTempView("wk_events")
      graft.GraftSql.load(s,
        """SELECT event_id,
          |  DATE_TRUNC(DATE(ts), WEEK) AS wk_sun,
          |  DATE_TRUNC(DATE(ts), WEEK(TUESDAY)) AS wk_tue,
          |  TIMESTAMP_TRUNC(ts, ISOWEEK) AS wk_iso_ts,
          |  TIMESTAMP_TRUNC(ts, WEEK, 'Asia/Tokyo') AS wk_tokyo,
          |  LAST_DAY(DATE(ts), WEEK) AS ld_wk,
          |  DATE_DIFF(DATE '2025-03-15', DATE(ts), WEEK) AS wdiff,
          |  DATE_DIFF(DATE '2025-03-15', DATE(ts), MONTH) AS mdiff,
          |  DATE_DIFF(DATE '2025-03-15', DATE(ts), QUARTER) AS qdiff,
          |  DATE_DIFF(DATE '2025-03-15', DATE(ts), ISOYEAR) AS iydiff,
          |  DATETIME_DIFF(TIMESTAMP '2024-01-15 07:29:59', ts, HOUR) AS hdiff
          |FROM wk_events ORDER BY event_id""".stripMargin)
    }),

    // GEOGRAPHY point core (round 14): ST_GEOGPOINT / ST_DISTANCE /
    // ST_DWITHIN / ST_X / ST_Y on the STRUCT<lng,lat> carrier —
    // haversine on the R=6371010 m sphere, spelled with natives both
    // engines evaluate. Distances group through FLOOR(km) (Spark's
    // double→int cast truncates where DuckDB's rounds, so the fold is
    // explicit); the ~1e-9 m libm-vs-Math ulp never moves a km bucket.
    "q_st_point" -> ((s, d) => {
      Tables.events(s, d).createOrReplaceTempView("st_events")
      graft.GraftSql.load(s,
        """WITH p AS (
          |  SELECT event_id,
          |         ST_GEOGPOINT(-180.0 + CAST(user_id * 7 % 360 AS DOUBLE) + 0.5,
          |                      -80.0 + CAST(user_id * 13 % 160 AS DOUBLE) + 0.25) AS g1,
          |         ST_GEOGPOINT(-180.0 + CAST(event_id % 360 AS DOUBLE) + 0.5,
          |                      -80.0 + CAST(event_id * 3 % 160 AS DOUBLE) + 0.25) AS g2
          |  FROM st_events)
          |SELECT CAST(FLOOR(ST_DISTANCE(g1, g2) / 1000.0) AS BIGINT) AS dist_km,
          |       COUNT(*) AS n,
          |       CAST(SUM(CASE WHEN ST_DWITHIN(g1, g2, 5000000.0) THEN 1 ELSE 0 END) AS BIGINT) AS within_5000km,
          |       MIN(ST_X(g1)) AS min_lng,
          |       MAX(ST_Y(g2)) AS max_lat,
          |       MIN(ST_GEOHASH(g1, 6)) AS gh_min,
          |       MIN(ST_ASTEXT(g2)) AS wkt_min,
          |       CAST(SUM(CASE WHEN ST_X(ST_GEOGFROMTEXT(ST_ASTEXT(g1))) = ST_X(g1)
          |                      AND ST_Y(ST_GEOGFROMTEXT(ST_ASTEXT(g1))) = ST_Y(g1)
          |                     THEN 1 ELSE 0 END) AS BIGINT) AS rt_ok,
          |       MIN(ST_ASGEOJSON(g2)) AS gj_min,
          |       CAST(SUM(CASE WHEN ST_X(ST_GEOGFROMGEOJSON(ST_ASGEOJSON(g1))) = ST_X(g1)
          |                      AND ST_Y(ST_GEOGFROMGEOJSON(ST_ASGEOJSON(g1))) = ST_Y(g1)
          |                     THEN 1 ELSE 0 END) AS BIGINT) AS gj_rt
          |FROM p GROUP BY dist_km ORDER BY dist_km""".stripMargin)
    }),

    // Non-point geography, line core (round 15): ST_MAKELINE /
    // ST_LENGTH / ST_NUMPOINTS over the ARRAY<STRUCT<lng,lat>>
    // carrier — the length is a left-to-right haversine segment fold
    // the DuckDB oracle replays as explicit two-segment arithmetic
    // (0.0 + s1 + s2 is bit-equal to the fold). 10-km FLOOR buckets
    // absorb the ~1e-9 libm ulps; every rendered coordinate is a
    // dyadic quarter so both engines print the identical shortest
    // decimal; the round-trip column re-parses the rendered WKT and
    // compares the arrays EXACTLY (Double.toString/parseDouble are
    // exact inverses). The line column is staged in its own CTE and
    // consumed 4× so CollapseProject never inlines the constructor
    // into the fold lambdas (SURVEY §4 discipline).
    "q_st_line" -> ((s, d) => withFanout(s) {
      Tables.events(s, d).createOrReplaceTempView("stl_events")
      graft.GraftSql.load(s,
        """WITH p AS (
          |  SELECT event_id,
          |         -170.0 + CAST(user_id * 7 % 340 AS DOUBLE) + 0.5 AS lng1,
          |         -60.0 + CAST(user_id * 13 % 120 AS DOUBLE) + 0.25 AS lat1,
          |         CAST(event_id % 3 AS DOUBLE) AS dx,
          |         CAST(event_id % 2 AS DOUBLE) AS dy
          |  FROM stl_events),
          |l AS (
          |  SELECT event_id,
          |         ST_MAKELINE(ST_GEOGPOINT(lng1, lat1),
          |                     ST_GEOGPOINT(lng1 + 1.0 + dx * 0.5, lat1 - 0.5 - dy * 0.25),
          |                     ST_GEOGPOINT(lng1 - 0.75, lat1 + 1.5)) AS ln
          |  FROM p)
          |SELECT CAST(FLOOR(ST_LENGTH(ln) / 10000.0) AS BIGINT) AS len_10km,
          |       COUNT(*) AS n,
          |       CAST(MAX(ST_NUMPOINTS(ln)) AS BIGINT) AS np,
          |       MIN(ST_ASTEXT(ln)) AS wkt_min,
          |       CAST(SUM(CASE WHEN ST_LINEFROMTEXT(ST_ASTEXT(ln)) = ln
          |                     THEN 1 ELSE 0 END) AS BIGINT) AS rt_ok,
          |       MIN(ST_BOUNDINGBOX(ln).xmin) AS bb_xmin,
          |       MAX(ST_BOUNDINGBOX(ln).ymax) AS bb_ymax,
          |       CAST(MAX(FLOOR(ST_MAXDISTANCE(ln, ln) / 1000.0)) AS BIGINT) AS maxd_km,
          |       MIN(ST_ASGEOJSON(ln)) AS gj_min,
          |       MIN(ST_ASTEXT(ST_SNAPTOGRID(ln, 0.5))) AS snap_min
          |FROM l GROUP BY len_10km ORDER BY len_10km""".stripMargin)
    }),

    // Non-point geography, ring core (round 15): ST_MAKEPOLYGON
    // closes the ST_MAKELINE quad; ST_AREA is the spherical-shoelace
    // fold (Chamberlain–Duquette — exact for these constant-latitude
    // edges), ST_PERIMETER the haversine boundary sum, and the three
    // predicates ride the planar even-odd ray cast, which is PURE
    // IEEE compare/multiply/divide — the oracle replays the crossing
    // count exactly, not approximately (test offsets ±0.35°/±0.7°
    // never collide with the dyadic half-widths). Area groups in
    // 1000-km² buckets; WKT renders dyadic quarters only and
    // round-trips through ST_POLYGONFROMTEXT per row.
    "q_st_poly" -> ((s, d) => withFanout(s) {
      Tables.events(s, d).createOrReplaceTempView("stp_events")
      graft.GraftSql.load(s,
        """WITH p AS (
          |  SELECT event_id,
          |         -160.0 + CAST(user_id * 11 % 320 AS DOUBLE) + 0.5 AS clng,
          |         -55.0 + CAST(user_id * 17 % 110 AS DOUBLE) + 0.25 AS clat,
          |         0.5 + CAST(event_id % 4 AS DOUBLE) * 0.25 AS w,
          |         0.25 + CAST(user_id % 3 AS DOUBLE) * 0.25 AS h,
          |         CAST(event_id % 5 AS DOUBLE) * 0.35 - 0.7 AS toff
          |  FROM stp_events),
          |g AS (
          |  SELECT event_id,
          |         ST_MAKEPOLYGON(ST_MAKELINE(
          |           ST_GEOGPOINT(clng - w, clat - h), ST_GEOGPOINT(clng + w, clat - h),
          |           ST_GEOGPOINT(clng + w, clat + h), ST_GEOGPOINT(clng - w, clat + h))) AS poly,
          |         ST_GEOGPOINT(clng + toff, clat) AS tp
          |  FROM p)
          |SELECT CAST(FLOOR(ST_AREA(poly) / 1000000000.0) AS BIGINT) AS area_gm2,
          |       COUNT(*) AS n,
          |       CAST(MIN(FLOOR(ST_PERIMETER(poly) / 1000.0)) AS BIGINT) AS perim_km_min,
          |       CAST(MAX(ST_NUMPOINTS(poly)) AS BIGINT) AS np,
          |       CAST(SUM(CASE WHEN ST_CONTAINS(poly, tp) THEN 1 ELSE 0 END) AS BIGINT) AS inside_n,
          |       CAST(SUM(CASE WHEN ST_WITHIN(tp, poly) THEN 1 ELSE 0 END) AS BIGINT) AS within_n,
          |       CAST(SUM(CASE WHEN ST_DISJOINT(poly, tp) THEN 1 ELSE 0 END) AS BIGINT) AS disjoint_n,
          |       MIN(ST_ASTEXT(poly)) AS wkt_min,
          |       CAST(SUM(CASE WHEN ST_POLYGONFROMTEXT(ST_ASTEXT(poly)) = poly
          |                     THEN 1 ELSE 0 END) AS BIGINT) AS rt_ok,
          |       MIN(ST_X(ST_CENTROID(poly))) AS cx_min,
          |       MAX(ST_Y(ST_CENTROID(poly))) AS cy_max
          |FROM g GROUP BY area_gm2 ORDER BY area_gm2""".stripMargin)
    }),

    // boundary-INCLUSIVE geography predicates (round 16): ST_COVERS /
    // ST_COVEREDBY / ST_TOUCHES / ST_EQUALS. The fixture parks each
    // test point in a KNOWN position class — interior, edge midpoint,
    // corner vertex, strictly outside, top edge — built from the same
    // dyadic arithmetic as the ring's own vertices, so the on-segment
    // cross-product test is EXACTLY zero on boundary classes in any
    // IEEE engine and the oracle is pure CASE arithmetic on the class
    // id (no geometry replay needed).
    "q_st_pred" -> ((s, d) => {
      Tables.events(s, d).createOrReplaceTempView("sp_events")
      graft.GraftSql.load(s,
        """WITH p AS (
          |  SELECT -160.0 + CAST(user_id * 11 % 320 AS DOUBLE) + 0.5 AS clng,
          |         -55.0 + CAST(user_id * 17 % 110 AS DOUBLE) + 0.25 AS clat,
          |         0.5 + CAST(event_id % 4 AS DOUBLE) * 0.25 AS w,
          |         0.25 + CAST(user_id % 3 AS DOUBLE) * 0.25 AS h,
          |         CAST(event_id % 5 AS BIGINT) AS cse
          |  FROM sp_events),
          |g AS (
          |  SELECT cse, clng, clat,
          |         ST_MAKEPOLYGON(ST_MAKELINE(
          |           ST_GEOGPOINT(clng - w, clat - h), ST_GEOGPOINT(clng + w, clat - h),
          |           ST_GEOGPOINT(clng + w, clat + h), ST_GEOGPOINT(clng - w, clat + h))) AS poly,
          |         CASE cse WHEN 0 THEN ST_GEOGPOINT(clng, clat)
          |                  WHEN 1 THEN ST_GEOGPOINT(clng + w, clat)
          |                  WHEN 2 THEN ST_GEOGPOINT(clng - w, clat - h)
          |                  WHEN 3 THEN ST_GEOGPOINT(clng + w + 0.5, clat)
          |                  ELSE ST_GEOGPOINT(clng, clat + h) END AS tp
          |  FROM p)
          |SELECT cse, COUNT(*) AS n,
          |  CAST(SUM(CASE WHEN ST_COVERS(poly, tp) THEN 1 ELSE 0 END) AS BIGINT) AS covers_n,
          |  CAST(SUM(CASE WHEN ST_COVEREDBY(tp, poly) THEN 1 ELSE 0 END) AS BIGINT) AS coveredby_n,
          |  CAST(SUM(CASE WHEN ST_TOUCHES(poly, tp) THEN 1 ELSE 0 END) AS BIGINT) AS touches_n,
          |  CAST(SUM(CASE WHEN ST_EQUALS(tp, ST_GEOGPOINT(clng, clat)) THEN 1 ELSE 0 END) AS BIGINT) AS eq_center_n,
          |  CAST(SUM(CASE WHEN ST_EQUALS(poly, poly) THEN 1 ELSE 0 END) AS BIGINT) AS eq_poly_n
          |FROM g GROUP BY cse ORDER BY cse""".stripMargin)
    }),

    // geography shape operators (round 16): ST_BUFFER / ST_SIMPLIFY /
    // ST_CONVEXHULL / ST_CLOSESTPOINT / ST_DUMP. Every gate is either
    // an exact integer/boolean (DP margins hundreds of meters vs the
    // tolerance; hull and projection arithmetic dyadic-exact) or a
    // FLOOR bucket with engineered margin (the 32-gon/circle area
    // ratio is 0.99358... — FLOOR(×1000) = 993 with 0.4 of slack
    // against the ~1e-4-relative spherical/libm noise), so the oracle
    // is pure class arithmetic.
    "q_st_shape" -> ((s, d) => {
      Tables.events(s, d).createOrReplaceTempView("ss_events")
      graft.GraftSql.load(s,
        """WITH p AS (
          |  SELECT -160.0 + CAST(user_id * 11 % 320 AS DOUBLE) + 0.5 AS clng,
          |         -55.0 + CAST(user_id * 17 % 110 AS DOUBLE) + 0.25 AS clat,
          |         0.5 + CAST(event_id % 4 AS DOUBLE) * 0.25 AS w,
          |         0.25 + CAST(user_id % 3 AS DOUBLE) * 0.25 AS h,
          |         10000.0 + CAST(event_id % 3 AS DOUBLE) * 5000.0 AS r,
          |         CAST(event_id % 3 AS BIGINT) AS rk
          |  FROM ss_events WHERE event_id % 16 = 0),
          |g AS (
          |  SELECT rk, clng, clat, r,
          |         ST_BUFFER(ST_GEOGPOINT(clng, clat), r) AS buf,
          |         ST_MAKELINE(ST_GEOGPOINT(clng, clat),
          |                     ST_GEOGPOINT(clng + 0.5, clat + 0.001),
          |                     ST_GEOGPOINT(clng + 1.0, clat),
          |                     ST_GEOGPOINT(clng + 1.5, clat + 0.01),
          |                     ST_GEOGPOINT(clng + 2.0, clat)) AS wiggle,
          |         ST_CONVEXHULL(ST_MAKELINE(
          |           ST_GEOGPOINT(clng + w, clat + h), ST_GEOGPOINT(clng - w, clat - h),
          |           ST_GEOGPOINT(clng, clat), ST_GEOGPOINT(clng + w, clat - h),
          |           ST_GEOGPOINT(clng - w, clat + h), ST_GEOGPOINT(clng, clat - h),
          |           ST_GEOGPOINT(clng - w, clat - h))) AS hull,
          |         ST_MAKEPOLYGON(ST_MAKELINE(
          |           ST_GEOGPOINT(clng - w, clat - h), ST_GEOGPOINT(clng + w, clat - h),
          |           ST_GEOGPOINT(clng + w, clat + h), ST_GEOGPOINT(clng - w, clat + h))) AS rect,
          |         ST_MAKELINE(ST_GEOGPOINT(clng, clat - 1.0),
          |                     ST_GEOGPOINT(clng, clat + 1.0)) AS seg
          |  FROM p)
          |SELECT rk, COUNT(*) AS n,
          |  CAST(MIN(ST_NUMPOINTS(buf)) AS BIGINT) AS buf_np,
          |  CAST(SUM(CASE WHEN ST_CONTAINS(buf, ST_GEOGPOINT(clng, clat)) THEN 1 ELSE 0 END) AS BIGINT) AS buf_ctr,
          |  CAST(MIN(FLOOR(ST_AREA(buf) / (pi() * r * r) * 1000)) AS BIGINT) AS ratio_lo,
          |  CAST(MAX(FLOOR(ST_AREA(buf) / (pi() * r * r) * 1000)) AS BIGINT) AS ratio_hi,
          |  CAST(MAX(ST_NUMPOINTS(ST_SIMPLIFY(wiggle, 500.0))) AS BIGINT) AS simp_np,
          |  CAST(MIN(ST_NUMPOINTS(ST_SIMPLIFY(wiggle, 0.0))) AS BIGINT) AS simp0_np,
          |  CAST(SUM(CASE WHEN ST_EQUALS(hull, rect) THEN 1 ELSE 0 END) AS BIGINT) AS hull_ok,
          |  CAST(SUM(CASE WHEN ST_EQUALS(ST_CLOSESTPOINT(seg, ST_GEOGPOINT(clng + 0.5, clat + 0.25)),
          |                               ST_GEOGPOINT(clng, clat + 0.25)) THEN 1 ELSE 0 END) AS BIGINT) AS cp_ok,
          |  CAST(SUM(CASE WHEN ST_EQUALS(ST_CLOSESTPOINT(seg, ST_GEOGPOINT(clng + 0.5, clat + 2.0)),
          |                               ST_GEOGPOINT(clng, clat + 1.0)) THEN 1 ELSE 0 END) AS BIGINT) AS cp_clamp_ok,
          |  CAST(SUM(CASE WHEN size(ST_DUMP(seg)) = 1
          |                 AND ST_EQUALS(element_at(ST_DUMP(seg), 1), seg)
          |                THEN 1 ELSE 0 END) AS BIGINT) AS dump_ok
          |FROM g GROUP BY rk ORDER BY rk""".stripMargin)
    }),

    // spatial DWITHIN pair JOIN (round 16): the 100 TB pair-finding
    // face — grid-cell candidate generation + exact haversine verify
    // (operators/Geo.dwithinJoin), the geo analog of the LSH band
    // join. PlanSpec pins: no CartesianProduct/BNLJ. The oracle is the
    // deliberately-bounded n² join with the identical haversine — the
    // grid join must find EXACTLY the true pairs.
    "q_st_join" -> ((s, d) => {
      val cust = Tables.customer(s, d).select(
        F.col("c_custkey").as("cust_id"),
        ((F.col("c_custkey") * 7 % 200).cast("double") / 10.0 - 10.0).as("c_lng"),
        ((F.col("c_custkey") * 13 % 100).cast("double") / 10.0 - 5.0).as("c_lat"))
      val supp = Tables.supplier(s, d).select(
        F.col("s_suppkey").as("supp_id"),
        ((F.col("s_suppkey") * 11 % 200).cast("double") / 10.0 - 10.0).as("s_lng"),
        ((F.col("s_suppkey") * 17 % 100).cast("double") / 10.0 - 5.0).as("s_lat"))
      graft.operators.Geo.dwithinJoin(cust, "c_lng", "c_lat",
          supp, "s_lng", "s_lat", 25000.0)
        .select(F.col("cust_id"), F.col("supp_id"),
          F.floor(F.col("distance_m") / 100.0).cast("long").as("dist_hm"))
        .orderBy("cust_id", "supp_id")
    }),

    // AEAD / KEYS column encryption (round 15): AES-GCM on the
    // JSON-carried keyset. ENCRYPT is nondeterministic (fresh IV per
    // row, BigQuery's model too), so the gate hashes what IS
    // deterministic: the DECRYPT∘ENCRYPT round-trip count (the
    // ciphertext column stays its own projection — CollapseProject
    // never merges nondeterministic projects, so the aggregate sees
    // one ciphertext per row), exact ciphertext LENGTH sums
    // (1 + 4 + 12 + |pt| + 16), the wrong-AAD SAFE-NULL count, and a
    // PINNED ciphertext vector generated by an independent AES-GCM
    // implementation.
    "q_aead" -> ((s, d) => withFanout(s) {
      Tables.events(s, d).createOrReplaceTempView("aead_events")
      val ks = """{"primaryKeyId":1,"key":[{"keyId":1,"type":"AES_GCM",""" +
        """"key":"000102030405060708090a0b0c0d0e0f101112131415161718191a1b1c1d1e1f"}]}"""
      val pinned = "01000000016465666768696a6b6c6d6e6f3c73bb461e9b37f84a423a86bd" +
        "0c0498060c763237a55f482470e6f03e4a6d5b"
      graft.GraftSql.load(s,
        s"""WITH p AS (SELECT event_type,
           |                  CONCAT(event_type, '-', CAST(event_id AS STRING)) AS pt,
           |                  CAST(user_id AS STRING) AS aad
           |           FROM aead_events),
           |e AS (SELECT event_type, pt, aad,
           |             AEAD.ENCRYPT(KEYS.KEYSET_FROM_JSON('$ks'), pt, aad) AS ct
           |      FROM p)
           |SELECT event_type, COUNT(*) AS n,
           |  CAST(SUM(CASE WHEN AEAD.DECRYPT_STRING(KEYS.KEYSET_FROM_JSON('$ks'), ct, aad) = pt
           |                THEN 1 ELSE 0 END) AS BIGINT) AS rt_ok,
           |  CAST(SUM(BYTE_LENGTH(ct)) AS BIGINT) AS ct_bytes,
           |  CAST(SUM(CASE WHEN SAFE.AEAD.DECRYPT_STRING(KEYS.KEYSET_FROM_JSON('$ks'), ct,
           |                                              CONCAT(aad, 'x')) IS NULL
           |                THEN 1 ELSE 0 END) AS BIGINT) AS bad_aad,
           |  MIN(AEAD.DECRYPT_STRING(KEYS.KEYSET_FROM_JSON('$ks'), FROM_HEX('$pinned'), 'ad1')) AS pinned
           |FROM e GROUP BY event_type ORDER BY event_type""".stripMargin)
    }),

    // DETERMINISTIC AEAD (round 16): RFC 5297 AES-SIV — same
    // (keyset, aad, pt) → same ciphertext, so beyond the GCM face's
    // round-trip/length/SAFE gates this face hashes what GCM cannot:
    // COUNT(DISTINCT ct) equals COUNT(DISTINCT pt) (joinable
    // ciphertext — the family's whole point), an independent
    // re-encrypt compares EQUAL to the first, and a ciphertext PINNED
    // at build time decrypts to its literal. The engine's SIV is
    // pinned to the RFC's A.1/A.2 vectors in NativeExprSpec.
    "q_aead_det" -> ((s, d) => withFanout(s) {
      Tables.events(s, d).createOrReplaceTempView("det_events")
      val ks = """{"primaryKeyId":1,"key":[{"keyId":1,"type":"AES_SIV",""" +
        """"key":"fffefdfcfbfaf9f8f7f6f5f4f3f2f1f0f0f1f2f3f4f5f6f7f8f9fafbfcfdfeff"}]}"""
      val pinned = "010000000139c085bfcaa1a2651aa8675595c9530167ae7057" +
        "690710a77c64da0a1bf3f721"
      graft.GraftSql.load(s,
        s"""WITH p AS (SELECT event_type,
           |                  CONCAT(event_type, '-', CAST(user_id % 50 AS STRING)) AS pt
           |           FROM det_events),
           |e AS (SELECT event_type, pt,
           |             DETERMINISTIC_ENCRYPT(KEYS.KEYSET_FROM_JSON('$ks'), pt, 'corp') AS ct
           |      FROM p)
           |SELECT event_type, COUNT(*) AS n,
           |  COUNT(DISTINCT ct) AS distinct_ct,
           |  CAST(SUM(CASE WHEN DETERMINISTIC_DECRYPT_STRING(
           |                       KEYS.KEYSET_FROM_JSON('$ks'), ct, 'corp') = pt
           |                THEN 1 ELSE 0 END) AS BIGINT) AS rt_ok,
           |  CAST(SUM(BYTE_LENGTH(ct)) AS BIGINT) AS ct_bytes,
           |  CAST(SUM(CASE WHEN SAFE.DETERMINISTIC_DECRYPT_STRING(
           |                       KEYS.KEYSET_FROM_JSON('$ks'), ct, 'wrong') IS NULL
           |                THEN 1 ELSE 0 END) AS BIGINT) AS bad_aad,
           |  CAST(SUM(CASE WHEN DETERMINISTIC_ENCRYPT(
           |                       KEYS.KEYSET_FROM_JSON('$ks'), pt, 'corp') = ct
           |                THEN 1 ELSE 0 END) AS BIGINT) AS det_eq,
           |  MIN(DETERMINISTIC_DECRYPT_STRING(KEYS.KEYSET_FROM_JSON('$ks'),
           |                                   FROM_HEX('$pinned'), 'ad1')) AS pinned
           |FROM e GROUP BY event_type ORDER BY event_type""".stripMargin)
    }),

    // PERCENTILE_CONT/DISC analytic spellings (round 13): per-type
    // window percentiles over INTEGER-VALUED doubles at power-of-two
    // fractions — every interpolation intermediate is exact, so the
    // value is engine-independent regardless of the interpolation
    // tree; DISC at 0.5 selects an existing element where the ANSI
    // and DuckDB index conventions provably coincide
    "q_percentile_window" -> ((s, d) => {
      Tables.events(s, d).createOrReplaceTempView("pw_events")
      graft.GraftSql.load(s,
        """SELECT event_type,
          |       CAST(MAX(pc) AS DOUBLE) AS p25,
          |       CAST(MAX(pd) AS DOUBLE) AS p50_disc,
          |       COUNT(*) AS n
          |FROM (SELECT event_type,
          |        PERCENTILE_CONT(v, 0.25) OVER (PARTITION BY event_type) AS pc,
          |        PERCENTILE_DISC(v, 0.5) OVER (PARTITION BY event_type) AS pd
          |      FROM (SELECT event_type, CAST(user_id % 101 AS DOUBLE) AS v
          |            FROM pw_events))
          |GROUP BY event_type ORDER BY event_type""".stripMargin)
    }),

    // ML.FEATURE_CROSS + ML.POLYNOMIAL_EXPAND (round 13): the
    // combinational TRANSFORM preprocessors as rewrite-time
    // named_struct expansion — the crossed key is the GROUPING key so
    // name joining and value concat are both under the hash; the
    // monomial sums ride integer-valued doubles through DECIMAL (the
    // float-parity discipline). DuckDB replays with explicit
    // concat/multiply
    "q_ml_feature_cross" -> ((s, d) => {
      Tables.events(s, d).createOrReplaceTempView("fc_events")
      graft.GraftSql.load(s,
        """SELECT f.et_X_vb AS cross_key, COUNT(*) AS n,
          |       CAST(SUM(CAST(p.v_v AS DECIMAL(38,10))) AS DOUBLE) AS vv_sum,
          |       CAST(SUM(CAST(p.v_w AS DECIMAL(38,10))) AS DOUBLE) AS vw_sum,
          |       CAST(MAX(p.w_w) AS BIGINT) AS ww_max
          |FROM (SELECT ML.FEATURE_CROSS(STRUCT(et, vb)) AS f,
          |             ML.POLYNOMIAL_EXPAND(STRUCT(v, w)) AS p
          |      FROM (SELECT event_type AS et,
          |                   CAST(CAST(user_id % 3 AS INT) AS STRING) AS vb,
          |                   CAST(user_id % 7 AS DOUBLE) AS v,
          |                   CAST(user_id % 5 AS DOUBLE) AS w
          |            FROM fc_events))
          |GROUP BY cross_key ORDER BY cross_key""".stripMargin)
    }),

    // ML.LABEL_ENCODER / ML.ONE_HOT_ENCODER (round 13): the
    // categorical end of the TRANSFORM preprocessor pack in the
    // threshold-1 regime — one dense_rank window builds the
    // alphabetical vocabulary, the one-hot face re-reads it through
    // the (index, value) array element; the DuckDB oracle replays the
    // identical dense_rank — all integers, hash bit-for-bit
    "q_ml_label_encode" -> ((s, d) => {
      Tables.events(s, d).createOrReplaceTempView("le_events")
      graft.GraftSql.load(s,
        """WITH enc AS (
          |  SELECT event_type,
          |         ML.LABEL_ENCODER(event_type, 1000, 1) OVER () AS code,
          |         ML.ONE_HOT_ENCODER(event_type, 'none', 1000, 1) OVER () AS oh
          |  FROM le_events)
          |SELECT code, event_type, COUNT(*) AS n,
          |       CAST(SUM(oh[0].index) AS BIGINT) AS oh_index_sum,
          |       CAST(SUM(CAST(oh[0].value AS BIGINT)) AS BIGINT) AS oh_value_sum,
          |       CAST(MAX(size(oh)) AS BIGINT) AS oh_len
          |FROM enc GROUP BY code, event_type ORDER BY code""".stripMargin)
    }),

    // code-point family + TEXT_ANALYZE (round 13): strings BUILT from
    // code points (CODE_POINTS_TO_STRING over id-derived arrays,
    // including a combining mark), read back through UNICODE/ASCII/
    // TO_CODE_POINTS, CHR as a replayable text, byte arrays through
    // TO_HEX, and INITCAP over delimiter-joined words; DuckDB replays
    // code points as arithmetic + its own chr()/printf and INITCAP as
    // ucfirst substring algebra — hash bit-for-bit
    "q_codepoints" -> ((s, d) => {
      Tables.events(s, d).createOrReplaceTempView("cp_events")
      graft.GraftSql.load(s,
        """WITH b AS (
          |  SELECT user_id, event_type,
          |         CODE_POINTS_TO_STRING(
          |           [97 + user_id % 26, 98 + user_id % 24, 769]) AS str
          |  FROM cp_events)
          |SELECT CAST(UNICODE(str) AS BIGINT) AS first_cp,
          |       COUNT(*) AS n,
          |       CAST(SUM(size(TO_CODE_POINTS(str))) AS BIGINT) AS cps_sum,
          |       CAST(SUM(ASCII(SUBSTRING(str, 1, 1))) AS BIGINT) AS ascii_sum,
          |       MIN(CHR(65 + user_id % 26)) AS chr_min,
          |       MAX(TO_HEX(CODE_POINTS_TO_BYTES(
          |         [user_id % 256, (user_id * 3) % 256]))) AS bhex_max,
          |       MIN(INITCAP(CONCAT(event_type, '-', event_type))) AS ic_min
          |FROM b GROUP BY first_cp ORDER BY first_cp""".stripMargin)
    }),

    // PARSE_NUMERIC / SAFE.PARSE_NUMERIC (round 13): exponent-form
    // decimal parsing onto NUMERIC's DECIMAL(38,9) carrier; DuckDB
    // replays as its own decimal cast — exact at this scale. The
    // outputs are projected through CAST(... AS STRING) because the
    // driver's value-hash is carrier-sensitive: Spark dumps parquet
    // fixed-len DECIMAL(38,9) while DuckDB's decimal surfaces as
    // float64 through the driver's reader (round-13 red row). The
    // decimal SEMANTICS stay pinned by TypedSqlSpec's vectors; the
    // gate face compares the scale-9 textual rendering, which both
    // engines print identically.
    "q_parse_numeric" -> ((s, d) => {
      Tables.events(s, d).createOrReplaceTempView("pn_events")
      graft.GraftSql.load(s,
        """WITH b AS (
          |  SELECT CONCAT(CAST(user_id AS STRING), '.',
          |                CAST(user_id * 7 % 10 AS STRING), '5e2') AS str
          |  FROM pn_events)
          |SELECT CAST(PARSE_NUMERIC(str) AS STRING) AS v,
          |       CAST(SAFE.PARSE_NUMERIC(CONCAT(str, 'x')) AS STRING) AS bad,
          |       COUNT(*) AS n
          |FROM b GROUP BY 1, 2 ORDER BY v""".stripMargin)
    }),

    // REGEXP_REPLACE backreferences (round 13): BigQuery's \1 group
    // refs and literal $ mapped through the three-layer escape
    // transform, with the replaced text AS THE GROUPING KEY; the
    // DuckDB oracle runs the BigQuery-spelled replacement nearly
    // verbatim (RE2 backrefs are its native dialect) under the 'g'
    // flag — hash bit-for-bit
    "q_regexp_backref" -> ((s, d) => {
      Tables.events(s, d).createOrReplaceTempView("rb_events")
      graft.GraftSql.load(s,
        """SELECT REGEXP_REPLACE(event_type, '([aeiou])', '<\\1>') AS marked,
          |       REGEXP_REPLACE(CONCAT(event_type, CAST(user_id % 100 AS STRING)),
          |                      '([0-9]+)', '$\\1') AS priced,
          |       ARRAY_TO_STRING(
          |         REGEXP_EXTRACT_ALL(CONCAT(event_type, '-', event_type), '[a-z]+'),
          |         '|') AS toks,
          |       COUNT(*) AS n
          |FROM rb_events
          |GROUP BY marked, priced, toks ORDER BY marked, priced""".stripMargin)
    }),

    // the epoch-conversion family (round 13): Spark-NATIVE under
    // BigQuery's exact names (TIMESTAMP_SECONDS/MILLIS/MICROS,
    // UNIX_SECONDS/MILLIS/MICROS, UNIX_DATE, DATE_FROM_UNIX_DATE) —
    // this face pins the parity; DuckDB replays as epoch_us integer
    // arithmetic — hash bit-for-bit
    "q_epoch_fns" -> ((s, d) => {
      Tables.events(s, d).createOrReplaceTempView("ep_events")
      graft.GraftSql.load(s,
        """WITH b AS (
          |  SELECT DATE_FROM_UNIX_DATE(UNIX_DATE(CAST(ts AS DATE))) AS d2,
          |         UNIX_MICROS(CAST(ts AS TIMESTAMP)) AS us,
          |         UNIX_MILLIS(CAST(ts AS TIMESTAMP)) AS ms,
          |         UNIX_SECONDS(CAST(ts AS TIMESTAMP)) AS sec,
          |         TIMESTAMP_SECONDS(UNIX_SECONDS(CAST(ts AS TIMESTAMP))) AS t_sec,
          |         TIMESTAMP_MILLIS(UNIX_MILLIS(CAST(ts AS TIMESTAMP))) AS t_ms,
          |         CAST(UNIX_DATE(CAST(ts AS DATE)) AS BIGINT) AS ud
          |  FROM ep_events)
          |SELECT d2, COUNT(*) AS n,
          |       MIN(us) AS us_min, MAX(ms) AS ms_max,
          |       CAST(SUM(us % 86400000000) AS BIGINT) AS us_day_sum,
          |       CAST(SUM(sec % 86400) AS BIGINT) AS sec_day_sum,
          |       MIN(t_sec) AS tsec_min, MAX(t_ms) AS tms_max, MIN(ud) AS ud_min
          |FROM b GROUP BY d2 ORDER BY d2""".stripMargin)
    }),

    // base32 + strict UTF-8 (round 13): 3-byte payloads BUILT from
    // event ids, encoded to RFC 4648 base32 AS THE GROUPING KEY,
    // decoded back through the strict UTF-8 SAFE converter and the
    // hex round trip; the DuckDB oracle re-derives every base32
    // character from first principles — 5-bit groups as integer
    // shifts indexing the alphabet string — fully independent of any
    // base32 library, hash bit-for-bit
    "q_base32" -> ((s, d) => {
      Tables.events(s, d).createOrReplaceTempView("b32_events")
      graft.GraftSql.load(s,
        """WITH b AS (
          |  SELECT user_id,
          |         CODE_POINTS_TO_BYTES(
          |           [user_id % 256, user_id * 7 % 256, user_id * 13 % 256]) AS payload
          |  FROM b32_events)
          |SELECT TO_BASE32(payload) AS b32, COUNT(*) AS n,
          |       MIN(TO_HEX(FROM_BASE32(TO_BASE32(payload)))) AS rt_hex,
          |       MIN(SAFE_CONVERT_BYTES_TO_STRING(
          |         CODE_POINTS_TO_BYTES([65 + user_id % 26]))) AS s_ok,
          |       CAST(SUM(CASE WHEN SAFE_CONVERT_BYTES_TO_STRING(
          |         CODE_POINTS_TO_BYTES([255, 254])) IS NULL THEN 1 ELSE 0 END)
          |         AS BIGINT) AS n_bad
          |FROM b GROUP BY b32 ORDER BY b32""".stripMargin)
    }),

    // TEXT_ANALYZE (round 13): the SEARCH/A44 tokenizer as a scalar —
    // token df/tf over documents through the SQL verb, the NO_OP leg
    // pinning the one-term contract; DuckDB replays the identical
    // lowercase non-[a-z0-9] split — hash bit-for-bit
    "q_text_analyze" -> ((s, d) => {
      Tables.documents(s, d).createOrReplaceTempView("ta_docs")
      graft.GraftSql.load(s,
        """WITH toks AS (
          |  SELECT doc_id, TEXT_ANALYZE(text) AS tl,
          |         size(TEXT_ANALYZE(text, analyzer => 'NO_OP_ANALYZER')) AS noop_len
          |  FROM ta_docs),
          |t AS (SELECT doc_id, noop_len, explode(tl) AS token FROM toks)
          |SELECT token, COUNT(*) AS n, COUNT(DISTINCT doc_id) AS df,
          |       CAST(MAX(noop_len) AS BIGINT) AS noop_len
          |FROM t GROUP BY token HAVING COUNT(*) >= 20 ORDER BY token""".stripMargin)
    }),

    // INTERVAL surface (round 13): BigQuery's three-part interval on
    // Spark's CalendarInterval carrier — MAKE_INTERVAL, the JUSTIFY
    // trio, EXTRACT, timestamp+interval arithmetic (months first,
    // then days, then micros — both engines clamp month ends the
    // same way), the range literal, and the canonical text as the
    // GROUPING KEY; DuckDB replays justification as truncating
    // integer division through printf and the arithmetic as
    // sequential to_months/to_days/to_hours adds — hash bit-for-bit
    "q_interval_ops" -> ((s, d) => {
      Tables.orders(s, d).createOrReplaceTempView("io_orders")
      graft.GraftSql.load(s,
        """WITH iv AS (
          |  SELECT CAST(o_orderkey % 25 AS INT) AS m, CAST(o_orderkey % 40 AS INT) AS d,
          |         CAST(o_orderkey % 30 AS INT) AS h,
          |         CAST(o_orderdate AS TIMESTAMP) AS ts
          |  FROM io_orders),
          |j AS (
          |  SELECT graft_interval_text(JUSTIFY_INTERVAL(
          |           MAKE_INTERVAL(0, m, d, h, 0, 0))) AS jtxt,
          |         EXTRACT(MONTH FROM JUSTIFY_DAYS(MAKE_INTERVAL(0, m, d))) AS jm,
          |         ts + MAKE_INTERVAL(0, m, d, h, 0, 0) AS ts2
          |  FROM iv)
          |SELECT jtxt, COUNT(*) AS n, CAST(SUM(jm) AS BIGINT) AS jm_sum,
          |       MIN(ts2) AS ts_min, MAX(ts2) AS ts_max,
          |       MAX(graft_interval_text(INTERVAL '1-2 3 4:5:6.5' YEAR TO SECOND)) AS lit
          |FROM j GROUP BY jtxt ORDER BY jtxt""".stripMargin)
    }),

    // TIME type (round 13): the NTZ-carried time-of-day through the
    // full verb set — constructor from a timestamp, hour truncation
    // as the grouping key, diff-to-midnight sums, formatted min, and
    // 90-minute wrap adds; DuckDB replays everything as exact
    // micros-of-day integer arithmetic rendered through printf
    // round 15 adds the civil constructors to the vector: the 6-part
    // DATETIME (make_timestamp_ntz), the 3-part TIME and
    // TIMESTAMP(date) — each per-row from ids so every group hashes
    // constructed values, replayed in DuckDB via make_timestamp /
    // printf / the date→timestamp cast
    "q_time_ops" -> ((s, d) => {
      Tables.events(s, d).createOrReplaceTempView("time_events")
      graft.GraftSql.load(s,
        """SELECT FORMAT_TIME('%H:%M:%S', TIME_TRUNC(TIME(ts), HOUR)) AS hr,
          |       COUNT(*) AS n,
          |       CAST(SUM(TIME_DIFF(TIME(ts), TIME '00:00:00', SECOND)) AS BIGINT) AS sec_sum,
          |       MIN(FORMAT_TIME('%H:%M:%S', TIME(ts))) AS t_min,
          |       MAX(FORMAT_TIME('%H:%M:%S', TIME_ADD(TIME(ts), INTERVAL 90 MINUTE))) AS t_add_max,
          |       MIN(DATETIME(2024, 3, CAST(user_id % 28 AS BIGINT) + 1,
          |                    CAST(event_id % 24 AS BIGINT), CAST(user_id % 60 AS BIGINT),
          |                    CAST(event_id % 60 AS BIGINT))) AS dt6_min,
          |       MAX(FORMAT_TIME('%H:%M:%S',
          |                       TIME(CAST(event_id % 24 AS BIGINT), CAST(user_id % 60 AS BIGINT),
          |                            CAST(event_id % 60 AS BIGINT)))) AS t3_max,
          |       MIN(TIMESTAMP(DATE(ts))) AS day_start
          |FROM time_events
          |GROUP BY hr ORDER BY hr""".stripMargin)
    }),

    // FORMAT + LAST_DAY (round 13): printf-rendering as the grouping
    // key (zero-pad, hex, width — every byte under the hash, so the
    // verb translation and Java/C formatter agreement are both gated)
    // plus all three LAST_DAY parts; DuckDB replays with its own
    // C-style printf and date arithmetic
    "q_format" -> ((s, d) => {
      Tables.events(s, d).createOrReplaceTempView("fmt_events")
      graft.GraftSql.load(s,
        """SELECT FORMAT('ev-%06d:%s', user_id, event_type) AS tag,
          |       FORMAT('%x|%5d', user_id, CAST(user_id % 97 AS BIGINT)) AS codes,
          |       LAST_DAY(CAST(ts AS DATE)) AS mend,
          |       LAST_DAY(CAST(ts AS DATE), QUARTER) AS qend,
          |       LAST_DAY(CAST(ts AS DATE), YEAR) AS yend,
          |       COUNT(*) AS n
          |FROM fmt_events
          |GROUP BY tag, codes, mend, qend, yend
          |ORDER BY tag, codes, mend""".stripMargin)
    }),

    // NET.IP_* family (round 13): IPv4 addresses synthesized from
    // event ids, pushed through parse → trunc → int64 round trips at
    // VARIABLE prefixes, the /20 network as the grouping key, SAFE
    // parse exercised on a malformed variant, plus pinned IPv6
    // canonicalization/truncation constants; the DuckDB oracle
    // replays every byte as pure integer arithmetic (shifts + pmods
    // through printf) — hash bit-for-bit
    "q_net_ip" -> ((s, d) => {
      Tables.events(s, d).createOrReplaceTempView("ip_events")
      graft.GraftSql.load(s,
        """WITH ips AS (
          |  SELECT CONCAT(CAST(user_id % 223 + 1 AS STRING), '.',
          |                CAST(user_id * 7 % 256 AS STRING), '.',
          |                CAST(user_id * 13 % 256 AS STRING), '.',
          |                CAST(user_id * 31 % 256 AS STRING)) AS ip_str,
          |         CAST(user_id % 33 AS BIGINT) AS p
          |  FROM ip_events)
          |SELECT NET.IP_TO_STRING(NET.IP_TRUNC(NET.IP_FROM_STRING(ip_str), 20)) AS net20,
          |       COUNT(*) AS n,
          |       CAST(SUM(NET.IPV4_TO_INT64(NET.IP_FROM_STRING(ip_str))) AS BIGINT) AS ip_sum,
          |       CAST(SUM(NET.IPV4_TO_INT64(NET.IP_TRUNC(NET.IPV4_FROM_INT64(
          |         NET.IPV4_TO_INT64(NET.IP_FROM_STRING(ip_str))), p))) AS BIGINT) AS masked_sum,
          |       MIN(TO_HEX(NET.IP_NET_MASK(4, p))) AS mask_min,
          |       CAST(SUM(CASE WHEN NET.SAFE_IP_FROM_STRING(CONCAT(ip_str, '.9')) IS NULL
          |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_bad,
          |       MAX(NET.IP_TO_STRING(NET.IP_FROM_STRING('2001:0DB8:0:0:1:0:0:1'))) AS v6canon,
          |       MAX(TO_HEX(NET.IP_TRUNC(NET.IP_FROM_STRING('2001:db8:abcd:12ff::1'), 56))) AS v6trunc
          |FROM ips GROUP BY net20 ORDER BY net20""".stripMargin)
    }),

    // RANGE<DATE> surface (round 13): per-order validity ranges of
    // varying width through the full verb set — literal, constructor,
    // point containment (half-open), overlap vs a fixed year, 7-day
    // splitting (partial tail counted) and both accessors; the DuckDB
    // oracle replays every predicate as plain date comparisons and the
    // split count as ceil(width/7) — all-integer, hash bit-for-bit
    "q_range_type" -> ((s, d) => {
      Tables.orders(s, d).createOrReplaceTempView("rt_orders")
      graft.GraftSql.load(s,
        """WITH r AS (
          |  SELECT RANGE(CAST(o_orderdate AS DATE),
          |               date_add(CAST(o_orderdate AS DATE),
          |                        CAST(o_orderkey % 28 + 7 AS INT))) AS rng
          |  FROM rt_orders)
          |SELECT COUNT(*) AS n,
          |  CAST(SUM(CASE WHEN RANGE_CONTAINS(rng, DATE '1995-06-15') THEN 1 ELSE 0 END) AS BIGINT) AS n_contains,
          |  CAST(SUM(CASE WHEN RANGE_OVERLAPS(rng, RANGE<DATE> '[1995-01-01, 1996-01-01)') THEN 1 ELSE 0 END) AS BIGINT) AS n_overlap,
          |  CAST(SUM(size(GENERATE_RANGE_ARRAY(rng, INTERVAL 7 DAY))) AS BIGINT) AS n_subranges,
          |  MIN(RANGE_START(rng)) AS min_start, MAX(RANGE_END(rng)) AS max_end
          |FROM r""".stripMargin)
    }),

    // RANGE_SESSIONIZE TVF + RANGE_INTERSECT (round 13): per-customer
    // validity ranges merged into sessions under MEETS (adjacency
    // connects), session extents re-derived through the accessors,
    // and each session clamped against calendar-1995 via the guarded
    // RANGE_INTERSECT spelling; the DuckDB oracle replays the classic
    // two-window island detection (running max-end over the same
    // sort) and the clamp as greatest/least — all dates and integers,
    // hash bit-for-bit
    "sql_range_sessionize" -> ((s, d) => {
      Tables.orders(s, d).createOrReplaceTempView("rs_orders")
      graft.GraftSql.load(s,
        """SELECT o_custkey,
          |       RANGE(CAST(o_orderdate AS DATE),
          |             date_add(CAST(o_orderdate AS DATE),
          |                      CAST(o_orderkey % 45 + 5 AS INT))) AS rng
          |FROM rs_orders""".stripMargin).createOrReplaceTempView("rs_ranges")
      graft.GraftSql.load(s,
        """WITH per AS (
          |  SELECT o_custkey, RANGE_START(session_range) AS ss,
          |         RANGE_END(session_range) AS se, COUNT(*) AS n_in
          |  FROM RANGE_SESSIONIZE(TABLE rs_ranges, 'rng', ['o_custkey'])
          |  GROUP BY o_custkey, ss, se)
          |SELECT CAST(o_custkey % 8 AS BIGINT) AS cb,
          |       COUNT(*) AS n_sessions,
          |       CAST(SUM(n_in) AS BIGINT) AS n_rows,
          |       CAST(SUM(DATE_DIFF(se, ss, DAY)) AS BIGINT) AS covered_days,
          |       CAST(SUM(CASE WHEN RANGE_OVERLAPS(RANGE(ss, se),
          |                                          RANGE<DATE> '[1995-01-01, 1996-01-01)')
          |         THEN DATE_DIFF(
          |           RANGE_END(RANGE_INTERSECT(RANGE(ss, se),
          |                                     RANGE<DATE> '[1995-01-01, 1996-01-01)')),
          |           RANGE_START(RANGE_INTERSECT(RANGE(ss, se),
          |                                       RANGE<DATE> '[1995-01-01, 1996-01-01)')),
          |           DAY)
          |         ELSE 0 END) AS BIGINT) AS days_in_1995,
          |       MIN(ss) AS min_start, MAX(se) AS max_end
          |FROM per GROUP BY cb ORDER BY cb""".stripMargin)
    }),

    // DATE_BUCKET / TIMESTAMP_BUCKET (round 13): anchored fixed-width
    // buckets as exact pmod arithmetic — default 1950-01-01 origin,
    // an explicit month-family origin, and the micros path in one
    // grouped query; DuckDB replays the identical integer folds
    // (datediff / epoch_us with ((x % n) + n) % n) so bucket STARTS
    // and counts hash bit-for-bit
    "q_date_bucket" -> ((s, d) => {
      Tables.orders(s, d).createOrReplaceTempView("db_orders")
      graft.GraftSql.load(s,
        """SELECT wk, qtr, tb, COUNT(*) AS n FROM (
          |  SELECT DATE_BUCKET(o_orderdate, INTERVAL 7 DAY) AS wk,
          |         DATE_BUCKET(o_orderdate, INTERVAL 3 MONTH, DATE '1992-01-01') AS qtr,
          |         TIMESTAMP_BUCKET(CAST(o_orderdate AS TIMESTAMP), INTERVAL 36 HOUR) AS tb
          |  FROM db_orders)
          |GROUP BY wk, qtr, tb ORDER BY wk, qtr, tb""".stripMargin)
    }),

    // B39: BigQuery's APPROX_QUANTILES spelling, driven in the exact
    // regime (groups ≪ the GK sketch's accuracy=10000 → rank-selected
    // elements ≡ DuckDB quantile_disc, the B11b equivalence), exploded
    // to scalar rows through the UNNEST rewrite
    "q_approx_quantiles" -> ((s, d) => {
      graft.sources.Typed.registerAllViews(s, d)
      graft.GraftSql.load(s,
        """SELECT event_type, o AS q_idx, q AS v
          |FROM (SELECT event_type, APPROX_QUANTILES(value, 4) AS qs
          |      FROM events GROUP BY event_type) t,
          |UNNEST(qs) AS q WITH OFFSET AS o
          |ORDER BY event_type, q_idx""".stripMargin)
    }),

    // B47: BigQuery's ARRAY(SELECT ...) subquery idiom — the
    // filter → sort → transform (→ distinct) element pipeline
    // rewritten to higher-order functions, so it stays a per-row map:
    // no Generate, no join, nothing leaves the row. DuckDB replays
    // with list comprehensions — the hash gates filter semantics,
    // pre-transform ordering, and the literal-delimiter SPLIT feed
    "q_array_subquery" -> ((s, d) => {
      Tables.events(s, d).createOrReplaceTempView("arrsub_events")
      graft.GraftSql.load(s,
        """SELECT DISTINCT event_type,
          |  ARRAY_TO_STRING(ARRAY(
          |    SELECT UPPER(p) FROM UNNEST(SPLIT(event_type || '_ab_x_cd', '_')) AS p
          |    WHERE p <> 'x'), ',') AS parts,
          |  ARRAY_TO_STRING(ARRAY(
          |    SELECT CAST(x * x AS STRING)
          |    FROM UNNEST(GENERATE_ARRAY(1, LENGTH(event_type))) AS x
          |    WHERE MOD(x, 2) = 1 ORDER BY x DESC), ',') AS odd_sq,
          |  (SELECT COUNT(*) FROM UNNEST(SPLIT(event_type, 'e')) AS s WHERE s <> '') AS n_frag,
          |  EXISTS(SELECT 1 FROM UNNEST(SPLIT(event_type || '_ab', '_')) AS p
          |         WHERE p = 'ab') AS has_ab
          |FROM arrsub_events ORDER BY event_type""".stripMargin)
    }),

    // B49: BigQuery's SELECT AS STRUCT — the repeated-record
    // constructor. Three faces in one query: ARRAY(SELECT AS STRUCT
    // ...) builds an array<struct> per row (then re-UNNESTed with
    // struct field access to flatten for the oracle), the scalar
    // (SELECT AS STRUCT ... FROM UNNEST ... WHERE pk) form with its
    // cardinality guard, and the no-FROM inline constructor. All
    // stay per-row HOFs — no Generate, no join; DuckDB replays the
    // values with list comprehensions (structs never cross the gate,
    // their FIELDS do — representation-neutral)
    "q_array_struct" -> ((s, d) => {
      Tables.events(s, d).createOrReplaceTempView("arrst_events")
      graft.GraftSql.load(s,
        """WITH g AS (
          |  SELECT event_type, array_sort(collect_set(user_id % 53)) AS ids
          |  FROM arrst_events GROUP BY event_type)
          |SELECT event_type,
          |  ARRAY_TO_STRING(ARRAY(
          |    SELECT CAST(r.id AS STRING) || ':' || CAST(r.sq AS STRING)
          |    FROM UNNEST(ARRAY(SELECT AS STRUCT x AS id, x * x AS sq
          |                      FROM UNNEST(ids) AS x WHERE x > 5)) AS r), ',') AS recs,
          |  (SELECT AS STRUCT x AS v, x * 2 AS d
          |   FROM UNNEST(ids) AS x WHERE x = ids[OFFSET(0)]).v AS first_v,
          |  (SELECT AS STRUCT x AS v, x * 2 AS d
          |   FROM UNNEST(ids) AS x WHERE x = ids[OFFSET(0)]).d AS first_d,
          |  (SELECT AS STRUCT event_type AS et, ARRAY_LENGTH(ids) AS n).n AS n_ids
          |FROM g ORDER BY event_type""".stripMargin)
    }),

    // B46: BigQuery's KLL_QUANTILES sketch family — the quantile
    // analogue of B44's HLL_COUNT and the other half of the
    // pre-aggregation pattern: per-(event_type, day) INIT partials,
    // re-aggregated per event_type by MERGE_POINT at three fractions.
    // Driven in the GK summary's EXACT regime (precision 10000 ≫
    // group sizes at the gate scale keeps every sample with g=1
    // through both the partial build AND the merge), so DuckDB's
    // quantile_disc replay hash-gates the typed INIT → shuffle →
    // MERGE_PARTIAL → query pipeline and the mergeability law itself;
    // genuinely approximate regimes keep B11's declared treatment
    "q_kll_sketch" -> ((s, d) => {
      Tables.events(s, d).createOrReplaceTempView("kll_events")
      graft.GraftSql.load(s,
        """WITH p AS (
          |  SELECT event_type, CAST(date_trunc('DAY', ts) AS DATE) AS day,
          |         KLL_QUANTILES.INIT_INT64(user_id % 97, 10000) AS sk
          |  FROM kll_events GROUP BY event_type, CAST(date_trunc('DAY', ts) AS DATE))
          |SELECT event_type,
          |       KLL_QUANTILES.MERGE_POINT_INT64(sk, 0.25) AS p25,
          |       KLL_QUANTILES.MERGE_POINT_INT64(sk, 0.5) AS p50,
          |       KLL_QUANTILES.MERGE_POINT_INT64(sk, 0.9) AS p90
          |FROM p GROUP BY event_type ORDER BY event_type""".stripMargin)
    }),

    // B45: BigQuery's hash/encoding family — the fingerprint idiom
    // (TO_HEX(MD5(x)) dedup keys, base64 payloads): digests are BYTES
    // in BigQuery (mapped through unhex — the dialect divergence that
    // silently breaks a migrated script), TO_HEX lowercase, FROM_HEX
    // left-pads odd-length, base64 round trip. DuckDB replays with its
    // own md5/sha256/base64/from_hex — the hash gates byte-for-byte
    // digest identity through the BYTES↔hex↔base64 conversions
    "q_bq_functions3" -> ((s, d) => {
      Tables.events(s, d).createOrReplaceTempView("bqf3_events")
      graft.GraftSql.load(s,
        """SELECT event_type,
          |  TO_HEX(MD5(event_type)) AS md5_hex,
          |  TO_HEX(SHA256(event_type)) AS sha_hex,
          |  TO_BASE64(MD5(event_type)) AS md5_b64,
          |  TO_HEX(FROM_BASE64(TO_BASE64(SHA256(event_type)))) AS rt_hex,
          |  TO_HEX(FROM_HEX('abc')) AS padded,
          |  NET.HOST('https://U@' || event_type || '.Example.COM:8080/p?q=1') AS host,
          |  LOGICAL_AND(NOT IS_INF(value)) AS all_finite,
          |  LOGICAL_OR(IS_NAN(CAST('NaN' AS FLOAT64) * value)) AS has_nan,
          |  COUNT(*) AS n
          |FROM bqf3_events GROUP BY event_type ORDER BY event_type""".stripMargin)
    }),

    // B44: BigQuery's HLL_COUNT sketch family — partial sketches per
    // (event_type, day), re-aggregated by MERGE, with the
    // MERGE_PARTIAL→EXTRACT composition as a second column (the two
    // routes must agree). Driven in the EXACT regime (≤200 distinct
    // bucketed users per group keeps the DataSketches HLL in its
    // sparse/set mode, where the estimate IS the true count), so the
    // DuckDB COUNT(DISTINCT) replay hash-gates the spelling mapping
    // AND the mergeability law — the 100 TB pattern this family
    // exists for: INIT per shard/day once, MERGE forever, never
    // re-scan. Genuinely-approximate cardinalities stay on A23's
    // declared rows-only HLL face.
    "q_hll_sketch" -> ((s, d) => {
      // events only — the replica probe dirs carry no dimension tables
      Tables.events(s, d).createOrReplaceTempView("events")
      graft.GraftSql.load(s,
        """WITH p AS (
          |  SELECT event_type, CAST(date_trunc('DAY', ts) AS DATE) AS day,
          |         HLL_COUNT.INIT(user_id % 200, 12) AS sk
          |  FROM events GROUP BY event_type, CAST(date_trunc('DAY', ts) AS DATE))
          |SELECT event_type, HLL_COUNT.MERGE(sk) AS n_buckets,
          |       HLL_COUNT.EXTRACT(HLL_COUNT.MERGE_PARTIAL(sk)) AS n_buckets2
          |FROM p GROUP BY event_type ORDER BY event_type""".stripMargin)
    }),

    // B38: BigQuery's ordered aggregates in their OWN spelling —
    // STRING_AGG(e, sep ORDER BY k1, k2) and ARRAY_AGG(e ORDER BY k
    // LIMIT n) through the GraftSql ordered-aggregate macros; DuckDB
    // replays with its native ORDER BY-in-aggregate forms, so the hash
    // gates the ordering + LIMIT semantics of the mapping
    "q_ordered_agg" -> ((s, d) => {
      graft.sources.Typed.registerAllViews(s, d)
      graft.GraftSql.load(s,
        """SELECT user_id,
          |  STRING_AGG(event_type, '|' ORDER BY unix_micros(ts), event_id) AS type_seq,
          |  ARRAY_TO_STRING(ARRAY_AGG(CAST(event_id AS STRING) ORDER BY event_id LIMIT 5), ',') AS first5,
          |  COUNT(*) AS n
          |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin)
    }),

    // BigQuery STRING_AGG surface: ordered listagg per key through the
    // spark.sql view layer (WITHIN GROUP is the ANSI form BigQuery's
    // ORDER BY argument maps to); deterministic via the event_id
    // tie-break
    "q_string_agg" -> ((s, d) => {
      graft.sources.Typed.registerAllViews(s, d)
      s.sql("""SELECT user_id,
              |  listagg(event_type, ',') WITHIN GROUP (ORDER BY unix_micros(ts), event_id) AS type_seq,
              |  COUNT(*) AS n
              |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin)
    }),

    // ──────────────────── U. URL/domain curation ────────────────────
    // the crawl pipeline's stage zero (C4 blocklist, RefinedWeb URL
    // dedup + per-domain caps): documents gain deterministic messy
    // URLs (the E7 decoration recipe) and every stage — RFC 3986
    // normalization, URL-exact dedup, per-domain cap, Bloom blocklist
    // — replays in DuckDB over the identical rendered strings
    "url_normalize" -> ((s, d) => {
      Tables.documents(s, d)
        .select(F.col("doc_id"), messyUrl.as("url"),
          graft.operators.Url.normalize(messyUrl).as("url_norm"))
        .orderBy("doc_id")
    }),
    // URL-exact dedup over normalized URLs: consecutive-id pairs spell
    // the same resource two messy ways; normalization collapses them,
    // min-id witness per group (the C1 rule)
    "url_dedup" -> ((s, d) => withFanout(s) {
      graft.operators.Url.dedupByUrl(
          Tables.documents(s, d).withColumn("url", dupUrl), "doc_id", "url")
        .orderBy("keep_id")
    }),
    // per-domain cap (the RefinedWeb anti-mirror rule): each host
    // keeps its 10 smallest-md5 docs through the bounded TopK
    // aggregate — the S1 law, replayed as a DuckDB window
    "url_domain_cap" -> ((s, d) => {
      graft.operators.Url.capPerDomain(
          Tables.documents(s, d).withColumn("url", messyUrl), "doc_id", "url", cap = 10)
        .orderBy("domain", "doc_id")
    }),
    // U5 (r10): NET.PUBLIC_SUFFIX / NET.REG_DOMAIN through the SQL
    // dialect layer — the embedded PSL snapshot resolving a crafted
    // host mix that exercises every rule class (multi-label ccSLD,
    // default rule, private-section suffix, wildcard *.ck, the
    // !www.ck exception, an invalid host → NULLs). The oracle replays
    // the expected resolution as a CASE, so the hash gates the host
    // extraction, the PSL algorithm and the NULL contract
    "url_reg_domain" -> ((s, d) => {
      Tables.documents(s, d).createOrReplaceTempView("regdom_docs")
      graft.GraftSql.load(s,
        """SELECT doc_id,
          |  NET.HOST(u) AS host,
          |  NET.PUBLIC_SUFFIX(u) AS suffix,
          |  NET.REG_DOMAIN(u) AS reg_domain
          |FROM (SELECT doc_id,
          |        CASE CAST(doc_id % 8 AS INT)
          |          WHEN 0 THEN 'https://www.site' || CAST(doc_id % 5 AS STRING) || '.co.uk/p'
          |          WHEN 1 THEN 'http://a.b.site' || CAST(doc_id % 5 AS STRING) || '.com?q=1'
          |          WHEN 2 THEN 'https://site' || CAST(doc_id % 5 AS STRING) || '.github.io'
          |          WHEN 3 THEN 'https://deep.sub.site' || CAST(doc_id % 5 AS STRING) || '.com.au/x'
          |          WHEN 4 THEN 'https://x.unknowntld'
          |          WHEN 5 THEN 'https://foo.www.ck'
          |          WHEN 6 THEN 'https://a.b.ck'
          |          ELSE 'not a url ' || CAST(doc_id AS STRING)
          |        END AS u
          |      FROM regdom_docs)
          |ORDER BY doc_id""".stripMargin)
    }),
    // domain blocklist via the A24 Bloom anti-join — definite misses
    // pass map-only, hits resolve exactly, so the result IS the plain
    // anti join (the oracle's spelling); NULL-domain rows pass (no
    // host to block on)
    "url_domain_blocklist" -> ((s, d) => {
      import s.implicits._
      val blocked = Seq("ex0.org", "ex3.org").toDF("domain")
      graft.operators.Url.dropBlockedDomains(
          Tables.documents(s, d).withColumn("url", messyUrl), "url", blocked,
          expectedItems = 16)
        .select("doc_id", "domain")
        .orderBy("doc_id")
    }),

    // ───────────────────────── C. dedup family ─────────────────────────
    "dedup_exact" -> ((s, d) => {
      Dedup.exact(Tables.documents(s, d), "text", "doc_id").orderBy("keep_id")
    }),
    "dedup_minhash_lsh" -> ((s, d) => {
      Dedup.minhashPairs(Tables.documents(s, d), "doc_id", "text").orderBy("id_a", "id_b")
    }),
    // the md5-pinned face of the above: same LSH pipeline shape
    // (signature -> bands -> bucket join -> estimate filter), every
    // hash an explicit md5 so DuckDB replays the WHOLE pipeline —
    // candidate generation included — as list arithmetic. The corpus
    // gets a re-keyed copy of every 50th doc (like the droplist_exact
    // faces) so true duplicates are guaranteed in the candidate set
    "dedup_minhash_lsh_pinned" -> ((s, d) => withFanout(s) {
      val docs = Tables.documents(s, d).select("doc_id", "text")
      val rekeyed = docs.filter(F.col("doc_id") % 50 === 0)
        .select((F.col("doc_id") + 100000L).as("doc_id"), F.col("text"))
      Dedup.minhashPairsPinned(docs.unionByName(rekeyed), "doc_id", "text")
        .orderBy("id_a", "id_b")
    }),
    // linear-output routing of the above (see dedup_embedding_droplist)
    "dedup_text_droplist" -> ((s, d) => {
      Dedup.textDropList(Tables.documents(s, d), "doc_id", "text").orderBy("drop_id")
    }),
    // the droplist's EXACT half under a full hash oracle: reason-filter
    // pushes through the union and folds the randomized LSH branch to
    // an empty relation (PlanSpec-asserted), leaving the deterministic
    // content-hash collapse — min-id witness per duplicate. The corpus
    // is the documents table plus a re-keyed copy of every 50th doc
    // (the small SFs carry no exact duplicates; same derived-fixture
    // pattern as the fx target/batch queries, modeled identically in
    // the oracle)
    "dedup_text_droplist_exact" -> ((s, d) => {
      val docs = Tables.documents(s, d).select("doc_id", "text")
      val rekeyed = docs.filter(F.col("doc_id") % 50 === 0)
        .select((F.col("doc_id") + 100000L).as("doc_id"), F.col("text"))
      Dedup.textDropList(docs.unionByName(rekeyed), "doc_id", "text")
        .filter(F.col("reason") === "exact").orderBy("drop_id")
    }),
    // the exact all-pairs face of C4 (no banding): every pair's true
    // shingle Jaccard, fully replayed by DuckDB list arithmetic — the
    // hash gate for the shingle/jaccard machinery the LSH face reuses.
    // All-pairs is the point here, so the input is CAPPED at a
    // calibration size (doc_id < 1000 — the full sf0.01 slice, a
    // bounded prefix of larger sfs): the algebra pins identically,
    // and the n² term stops scaling with sf (round 16 — this face was
    // 8% of the r15 driver sweep at sf0.1 for zero added coverage).
    // Corpus-scale routing stays dedup_ngram_jaccard.
    "dedup_ngram_jaccard_exact" -> ((s, d) => {
      Dedup.ngramJaccardAllPairs(
          Tables.documents(s, d)
            .filter(F.col("doc_id") % 2 === 0 && F.col("doc_id") < 1000),
          "doc_id", "text")
        .orderBy("id_a", "id_b")
    }),
    "dedup_simhash" -> ((s, d) => {
      Dedup.simhashPairs(Tables.documents(s, d), "doc_id", "text").orderBy("id_a", "id_b")
    }),
    // the md5-pinned face of the above (the C2b pattern): 32-bit
    // fingerprint from md5-prefix token hashes, so vote fold, banding,
    // candidate join and bit_count verify ALL replay in DuckDB;
    // re-keyed every-50th duplicates guarantee hamming-0 pairs
    "dedup_simhash_pinned" -> ((s, d) => {
      val docs = Tables.documents(s, d).select("doc_id", "text")
      val rekeyed = docs.filter(F.col("doc_id") % 50 === 0)
        .select((F.col("doc_id") + 100000L).as("doc_id"), F.col("text"))
      Dedup.simhashPairsPinned(docs.unionByName(rekeyed), "doc_id", "text")
        .orderBy("id_a", "id_b")
    }),
    "dedup_ngram_jaccard" -> ((s, d) => {
      Dedup.ngramJaccardPairs(Tables.documents(s, d), "doc_id", "text").orderBy("id_a", "id_b")
    }),
    "dedup_embedding" -> ((s, d) => {
      Dedup.embeddingPairs(Tables.embeddings(s, d), "vec_id", "embedding", "label", threshold = 0.35)
        .orderBy("id_a", "id_b")
    }),
    // cross-cell variant: LSH banding candidates + exact cosine verify
    // (no blocking column needed; no DuckDB equivalent for the
    // hyperplane family -> rows-only, recall/exactness in DedupSpec)
    "dedup_embedding_lsh" -> ((s, d) => {
      Dedup.embeddingPairsLsh(Tables.embeddings(s, d), "vec_id", "embedding", threshold = 0.35)
        .orderBy("id_a", "id_b")
    }),
    // linear-output routing of the above: the DROP LIST a dedup
    // pipeline actually consumes — exact clusters collapse before the
    // LSH stage, each duplicate id appears exactly once (pairs are
    // quadratic in cluster size; see Dedup.embeddingDropList scaladoc)
    "dedup_embedding_droplist" -> ((s, d) => {
      Dedup.embeddingDropList(Tables.embeddings(s, d), "vec_id", "embedding", threshold = 0.35)
        .orderBy("drop_id")
    }),

    // the embedding droplist's EXACT half under a full hash oracle —
    // same construction as dedup_text_droplist_exact: the reason
    // filter folds the randomized LSH branch away, leaving the
    // vector-VALUE collapse (DuckDB groups by the list directly);
    // duplicates derive from a re-keyed copy of every 50th vector
    "dedup_embedding_droplist_exact" -> ((s, d) => {
      val vecs = Tables.embeddings(s, d).select("vec_id", "embedding")
      val rekeyed = vecs.filter(F.col("vec_id") % 50 === 0)
        .select((F.col("vec_id") + 100000L).as("vec_id"), F.col("embedding"))
      Dedup.embeddingDropList(vecs.unionByName(rekeyed), "vec_id", "embedding", threshold = 0.35)
        .filter(F.col("reason") === "exact").orderBy("drop_id")
    }),

    // transitive duplicate clusters: connected components over the
    // near-dup pair set (alternating large-star/small-star, O(log²)
    // rounds of keyed shuffles); every id gets its canonical min-id
    // root — the oracle recomputes the same clusters with a DuckDB
    // recursive CTE (transitive closure, fine at oracle scale)
    // C15 (round 14): fuzzy string join — q-gram banded candidates +
    // exact levenshtein verify. Supplier names are long enough
    // (≥ q·(k+1)) that the banding is provably COMPLETE, so the DuckDB
    // oracle is the INDEPENDENT all-pairs levenshtein — a hash match
    // proves the candidate generation lost nothing
    "dedup_fuzzy_pairs" -> ((s, d) => {
      Dedup.editDistancePairs(Tables.supplier(s, d), "s_suppkey", "s_name", maxDist = 1)
        .orderBy("id_a", "id_b")
    }),

    "dedup_clusters" -> ((s, d) => {
      val pairs = Dedup.embeddingPairs(
        Tables.embeddings(s, d), "vec_id", "embedding", "label", threshold = 0.35)
      Dedup.connectedComponents(pairs, "id_a", "id_b").orderBy("id")
    }),
    // C13: SemDeDup over the replica-decorated embeddings with PINNED
    // centroids (the D3b recipe: every 128th vector verbatim), so
    // assignment, within-cell pairs, components, and the
    // boundary-keep rule (lowest cos-to-centroid, id tie) are all
    // deterministic double arithmetic the oracle replays term-for-term
    "dedup_semantic" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      val cent = e.filter(F.col("vec_id") % 128 === 3)
        .select(F.col("vec_id").as("cell"), F.col("embedding").as("centroid"))
      Dedup.semanticDedup(semanticFixture(e), "vec_id", "embedding", cent, tau = 0.98)
        .orderBy("vec_id")
    }),

    // C13b: the PUBLISHED SemDeDup recipe end to end — k-means the
    // embeddings (D17's deterministic int8 loop), then dedup within
    // the LEARNED cells (dedup_semantic's pinned-centroid face gates
    // the dedup half alone; this face gates train + assignment + pairs
    // + components + keep rule as ONE replay)
    "dedup_semantic_kmeans" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      val codes = e
        .select(F.col("vec_id"), graft.functions.native.int8_quantize(F.col("embedding")).as("q"))
        .select(F.col("vec_id"), F.col("q.codes").cast("array<int>").as("vec"))
      val cents = graft.operators.Clustering.kmeansTrain(codes, k = 8, iters = 2)
      Dedup.semanticDedup(semanticFixture(e), "vec_id", "embedding",
          graft.operators.Clustering.centroidsFrame(s, cents), tau = 0.98)
        .orderBy("vec_id")
    }),

    // int8 embedding quantization (4× storage/shuffle-width cut for the
    // ANN/dedup corpus): native codegen'd expression; exploded to
    // (vec_id, pos, code) scalar rows so the oracle hash is robust
    "ann_quantize" -> ((s, d) => {
      Tables.embeddings(s, d)
        .select(F.col("vec_id"), graft.functions.native.int8_quantize(F.col("embedding")).as("q"))
        .select(F.col("vec_id"), F.col("q.scale").as("scale"),
          F.posexplode(F.col("q.codes")).as(Seq("pos", "code")))
        .orderBy("vec_id", "pos")
    }),

    // BigQuery's vector scalar spellings (COSINE_DISTANCE /
    // EUCLIDEAN_DISTANCE) in plain SQL — registry-routed to the native
    // codegen'd VecDistance, strict fold order, so both distances
    // hash-replay with DuckDB's ordered list folds
    "q_vector_distance" -> ((s, d) => {
      Tables.embeddings(s, d).createOrReplaceTempView("vd_e")
      graft.GraftSql.load(s,
        """SELECT a.vec_id AS id_a, b.vec_id AS id_b,
          |       COSINE_DISTANCE(a.embedding, b.embedding) AS cos_d,
          |       EUCLIDEAN_DISTANCE(a.embedding, b.embedding) AS l2_d
          |FROM vd_e a JOIN vd_e b
          |  ON a.vec_id < 5 AND b.vec_id > a.vec_id AND b.vec_id <= a.vec_id + 20
          |ORDER BY id_a, id_b""".stripMargin)
    }),

    // D17: learned clustering over the quantized corpus — the cell
    // design / SemDeDup prelude. Deterministic int8 k-means (seeds =
    // the k lowest ids, 2 Lloyd steps, exact BIGINT centroid sums);
    // the oracle replays the quantization, both iterations' integer
    // centroid updates and the strict fold-order distances, so the
    // WHOLE training loop sits under the hash gate
    "cluster_kmeans" -> ((s, d) => {
      val codes = Tables.embeddings(s, d)
        .select(F.col("vec_id"), graft.functions.native.int8_quantize(F.col("embedding")).as("q"))
        .select(F.col("vec_id"), F.col("q.codes").cast("array<int>").as("vec"))
      graft.operators.Clustering.kmeansAssign(codes, k = 8, iters = 2)
        .orderBy("vec_id")
    }),

    // A43: the BQML clustering workflow as STATEMENTS — CREATE MODEL
    // kmeans trains the D17 loop, ML.PREDICT assigns with BigQuery's
    // 1-based centroid_id; same DuckDB replay as cluster_kmeans
    // shifted by one, so the statement route sits under its own hash
    "sql_ml_kmeans" -> ((s, d) => {
      Tables.embeddings(s, d)
        .select(F.col("vec_id"), graft.functions.native.int8_quantize(F.col("embedding")).as("q"))
        .select(F.col("vec_id"), F.col("q.codes").cast("array<int>").as("vec"))
        .createOrReplaceTempView("mlk_src")
      graft.GraftSql.load(s,
        """CREATE OR REPLACE MODEL mlk_model
          |OPTIONS(model_type = 'kmeans', num_clusters = 8, max_iterations = 2)
          |AS SELECT vec_id, vec FROM mlk_src""".stripMargin)
      graft.GraftSql.load(s,
        """SELECT vec_id, centroid_id, centroid_distance
          |FROM ML.PREDICT(MODEL mlk_model, TABLE mlk_src)
          |ORDER BY vec_id""".stripMargin)
    }),

    // deterministic k-per-key sample via the bounded TopK aggregate
    // (reservoir-sample replacement that parallelizes; md5-hash order)
    // S14 (round 14): SOFT dedup — duplicate-cluster members keep with
    // probability 1/|cluster| via the integer hash threshold, singletons
    // always survive; clusters from the C9 components over embedding
    // near-dup pairs, so the face gates the whole clusters→sizes→
    // threshold pipeline (the oracle replays components recursively AND
    // the md5 threshold arithmetic)
    "sample_soft_dedup" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      val pairs = Dedup.embeddingPairs(e, "vec_id", "embedding", "label", threshold = 0.35)
      val clusters = Dedup.connectedComponents(pairs, "id_a", "id_b")
      graft.operators.Sampling.softDedup(
          e.select("vec_id"), "vec_id", clusters)
        .groupBy("cluster_size")
        .agg(F.count(F.lit(1)).as("n"),
          F.sum(F.when(F.col("kept"), 1L).otherwise(0L)).as("n_kept"),
          F.min(F.when(F.col("kept"), F.col("vec_id"))).as("min_kept"))
        .orderBy("cluster_size")
    }),

    "sample_per_key" -> ((s, d) => {
      graft.operators.Sampling.perKeyDeterministic(
          Tables.events(s, d), Seq("user_id"), "event_id", k = 3)
        .orderBy("user_id", "event_id")
    }),
    // deterministic 90/10 train/holdout split by document hash:
    // map-only, no RNG, stable under incremental re-processing
    "sample_split" -> ((s, d) => {
      graft.operators.Sampling.splitByHash(Tables.documents(s, d), "doc_id", 9, 10)
        .groupBy("split")
        .agg(F.count(F.lit(1)).as("n"), F.min("doc_id").as("min_id"), F.max("doc_id").as("max_id"))
        .orderBy("split")
    }),
    // S12: seeded deterministic k-fold assignment — the
    // cross-validation splitter; map-only, RNG-free, fold membership
    // engine-replayable (hash52 of "seed:id" mod k)
    "sample_kfold" -> ((s, d) => {
      graft.operators.Sampling.kFold(Tables.documents(s, d), "doc_id", k = 5, seed = 7L)
        .groupBy("fold")
        .agg(F.count(F.lit(1)).as("n"), F.min("doc_id").as("min_id"), F.max("doc_id").as("max_id"))
        .orderBy("fold")
    }),
    // class-rebalancing pass: keep all purchases, 1/10 of clicks, 3/10
    // of views, half of everything else — map-only, RNG-free, stable
    // under incremental re-processing (same md5-prefix hash as S2)
    "sample_stratified" -> ((s, d) => {
      graft.operators.Sampling.stratifiedByHash(Tables.events(s, d), "event_id", "event_type",
          Map("purchase" -> ((1, 1)), "click" -> ((1, 10)), "view" -> ((3, 10))),
          defaultFraction = (1, 2))
        .select("event_id", "event_type")
        .orderBy("event_id")
    }),
    // duplicated-SPAN removal (the Lee et al. exact-substring dedup,
    // re-expressed as k-token-window df): windows appearing verbatim
    // in >= 2 distinct docs are cut from every carrier, each doc's
    // unique remainder survives — finer-grained than document dedup,
    // coarser than line boilerplate
    "dedup_spans" -> ((s, d) => {
      graft.operators.Spans.dropDuplicateSpans(Tables.documents(s, d), "doc_id", "text", k = 8)
        .orderBy("doc_id")
    }),
    // span-level BENCHMARK DECONTAMINATION (C14): cut every 8-token
    // window shared with the bench set from its carriers — even a
    // SINGLE carrier (df-based dedup can't; contamination doesn't
    // recur). The bench frame is derived deterministically (the
    // 12-token prefix of every 25th doc) so contaminated prefixes are
    // guaranteed and DuckDB re-derives the identical bench windows.
    "dedup_decontaminate" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val toks = F.split(F.trim(F.col("text")), "\\s+")
      val bench = docs.filter(F.col("doc_id") % 25 === 0)
        .filter(F.size(toks) >= 12)
        .select(F.array_join(F.slice(toks, 1, 12), " ").as("text"))
      graft.operators.Spans.decontaminateSpans(docs, bench, "doc_id", "text", k = 8)
        .orderBy("doc_id")
    }),

    // per-source quality-calibrated pruning: keep each source's top
    // half by score — a RELATIVE floor (an absolute one keeps a clean
    // source's chaff and drops a noisy source's best). Exact-percentile
    // threshold here for the oracle; the 100 TB routing is the
    // approx_percentile sketch path (accuracy-pinned in SamplingSpec),
    // the same exact/approx split as q_percentile.
    "sample_top_fraction" -> ((s, d) => {
      val docs = Tables.documents(s, d)
        .withColumn("score", F.length(F.col("text")).cast("double"))
      graft.operators.Sampling.topFractionByScore(docs, Seq("source"), "score", 0.5, exact = true)
        .select("doc_id", "source", "score")
        .orderBy("doc_id")
    }),
    // exactly-k sample allocated across sources proportional to char
    // volume (largest-remainder apportionment, BigInt-exact), drawn
    // within each source as the alloc_g smallest-md5 rows — RNG-free,
    // so DuckDB replays allocation AND draw end to end
    "sample_apportioned" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val w = docs.groupBy("source").agg(F.sum("n_chars").as("weight"))
      graft.operators.Sampling.apportionedSample(docs, Seq("source"), "doc_id", 100, Some(w))
        .orderBy("source", "doc_id")
    }),
    // S11: DSIR importance-scored selection — hashed unigram+bigram
    // buckets folded against a weight table riding the plan as a
    // literal (map-only), then the bounded top-k aggregate; the
    // fixture weight table is md5-derived integer centi-nats so DuckDB
    // replays hashing, scoring, and the (score DESC, id) pick exactly
    // (the real fit path is DsirSpec's job — its ln() is libm)
    "sample_dsir" -> ((s, d) => withFanout(s) {
      val scored = graft.operators.Dsir.score(
        Tables.documents(s, d), "doc_id", "text", dsirFixtureWeights)
      graft.operators.Dsir.selectTopK(scored, "doc_id", 100).orderBy("rank")
    }),
    // S11's Gumbel-top-k sampling face under a full hash oracle: the
    // noise is md5-derived (hash -> u in (0,1] -> -ln(-ln u)), RNG-free,
    // and the EMITTED columns are all integers — the libm ln only
    // enters the ordering KEY, where md5-uniform noise keeps every
    // pairwise key gap astronomically wider than cross-engine ulp
    // drift, so the (key DESC, id) pick replays exactly in DuckDB
    "sample_dsir_gumbel" -> ((s, d) => withFanout(s) {
      val scored = graft.operators.Dsir.score(
        Tables.documents(s, d), "doc_id", "text", dsirFixtureWeights)
      graft.operators.Dsir.sampleGumbel(scored, "doc_id", 100, seed = 7L).orderBy("rank")
    }),
    // corpus mixing: √-temperature source re-weighting before the
    // training mix — rare sources keep more, the web-crawl-sized one
    // keeps less, overall volume ≈ 1/2; exact-IEEE threshold tree so
    // the DuckDB oracle reproduces membership bit-for-bit
    "corpus_mix" -> ((s, d) => {
      graft.operators.Mixing.temperatureMixBySqrt(Tables.documents(s, d), "doc_id", "source", 1, 2)
        .select("doc_id", "source")
        .orderBy("doc_id")
    }),
    // S13: budgeted mixing with UP-sampling — per-source size budgets
    // drive full-epoch replication plus a hash-gated partial epoch
    // (the Llama-recipe composition corpus_mix can't express: it only
    // downsamples). Budgets derive deterministically from per-source
    // totals (rank mod 4 cycles four regimes: 2 epochs + third,
    // partial-only, exact-3-multiple with NO partial, 1 + quarter),
    // so the DuckDB oracle re-derives budgets, allocation, replicas
    // and the partial-epoch hash gate — integer end-to-end
    "corpus_mix_budget" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val tot = docs.groupBy("source")
        .agg(F.sum(F.col("n_chars").cast("long")).as("t")).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      val budgets = tot.keys.toSeq.sorted.zipWithIndex.map { case (src, i) =>
        val t = tot(src)
        src -> (i % 4 match {
          case 0 => 2 * t + t / 3
          case 1 => t / 2
          case 2 => 3 * t
          case _ => t + t / 4
        })
      }.toMap
      graft.operators.Mixing.mixToBudget(docs, "doc_id", "source", "n_chars", budgets)
        .withColumn("epoch", F.col("epoch").cast("long"))
        .groupBy("source", "epoch")
        .agg(F.count(F.lit(1)).as("n"),
          F.sum(F.col("n_chars").cast("long")).as("size_sum"),
          F.min("doc_id").as("min_id"), F.max("doc_id").as("max_id"))
        .orderBy("source", "epoch")
    }),

    // line-level boilerplate removal: lines appearing in >= 2 distinct
    // docs are chrome, everything else survives in order; on this
    // single-line corpus that empties exact-duplicate docs (multi-line
    // behavior is BoilerplateSpec's job)
    "dedup_lines" -> ((s, d) => {
      graft.operators.Boilerplate.dropBoilerplateLines(
          Tables.documents(s, d), "doc_id", "text", minDf = 2)
        .orderBy("doc_id")
    }),
    // sequence packing: greedy fill of 1000-char context windows in
    // hash-bucketed (hash, id) order — streaming sorted-group scan,
    // O(1) state per bucket; oracle replays the law as a recursive CTE
    "pack_sequences" -> ((s, d) => {
      graft.operators.Packing.packGreedy(Tables.documents(s, d), "doc_id", "n_chars",
          budget = 1000L, buckets = 8)
        .orderBy("doc_id")
    }),

    // ───────────────────────── D. similarity search ─────────────────────────
    // hybrid retrieval: RRF fusion of the integer-tf lexical leg and
    // the D1 cosine leg — ranks come from bounded top-k arrays, and
    // 1/(60+rank) on integer ranks is bit-exact IEEE division, so
    // the fused scores hash across engines
    "search_hybrid" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val vecs = Tables.embeddings(s, d)
      val queries = docs.filter(F.col("doc_id") % 50 === 0)
        .select(F.col("doc_id").as("qid"), F.col("text").as("qtext"))
        .join(vecs.select(F.col("vec_id").as("qid"), F.col("embedding").as("qvec")), "qid")
      graft.operators.Hybrid.rrfSearch(docs, "doc_id", "text",
          vecs, "vec_id", "embedding", queries, "qid", "qtext", "qvec",
          k = 10, n = 20)
        .orderBy("qid", "doc_id")
    }),

    // deterministic training-order shuffle: seeded hash permutation
    // into balanced shards — membership map-only, order one
    // exchange+sort per shard key, everything replayable from
    // (seed, id); the md5-hash-law recipe S2/S3 already prove
    "pack_shuffle" -> ((s, d) => {
      graft.operators.Packing.shuffleOrder(
          Tables.documents(s, d).select("doc_id"), "doc_id", seed = 7L, nShards = 8)
        .select("doc_id", "shard", "pos")
        .orderBy("shard", "pos")
    }),
    // D11: standalone BM25 ranking (the bm25Leg face) — idf is libm
    // ln, so rows-only at the driver gate (the D2 discipline); the
    // scoring contract is pinned against an independent driver-side
    // BM25 in HybridSpec, and the join/topk routing is already
    // hash-gated through search_hybrid's lexical leg. The fixture
    // vocabulary is 31 near-uniform tokens, so the stopword df cap
    // stays OFF here: idf-downweighting common terms IS BM25's
    // treatment of them (at web scale the cap guards join fan-out,
    // which 500 fixture docs don't have)
    "search_bm25" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      // every 250th doc as a query: with the df cap off, the q·d
      // token join is the cost, and the uniform fixture vocabulary
      // matches every query token to every doc — 20 queries at sf0.1
      // keeps the uncapped join linear in the corpus while still
      // exercising the full scorer
      val queries = docs.filter(F.col("doc_id") % 250 === 0)
        .select(F.col("doc_id").as("qid"), F.col("text").as("qtext"))
      graft.operators.Hybrid.bm25Leg(docs, "doc_id", "text", queries, "qid", "qtext",
          n = 10, maxDfFraction = 1.0)
        .orderBy("qid", "rank")
    }),
    // D11b: the INTEGER half of BM25 under the hash gate (the E15b
    // hits discipline) — per-(q,d) matched-term count, Σtf, Σdf and
    // dl are exactly the quantities the libm idf/saturation consumes,
    // so search_bm25 stays rows-only ONLY for the log itself
    "search_bm25_hits" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val queries = docs.filter(F.col("doc_id") % 250 === 0)
        .select(F.col("doc_id").as("qid"), F.col("text").as("qtext"))
      graft.operators.Hybrid.bm25Hits(docs, "doc_id", "text", queries, "qid", "qtext")
        .orderBy("qid", "doc_id")
    }),

    "ann_bruteforce_topk" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      val q = e.filter(F.col("vec_id") < 5)
        .select(F.col("vec_id").as("qid"), F.col("embedding").as("qvec"))
      Similarity.bruteForceTopK(e, q, 10).orderBy("qid", "rank")
    }),
    // D15: Matryoshka two-stage retrieval — prefix-cosine candidate
    // generation (first 16 of 64 dims) + exact full-dim re-rank of
    // the bounded top-32. Both stages deterministic double arithmetic
    // (slice + index-ordered cosine), so the WHOLE composition —
    // stage-1 cut included — replays in DuckDB under the hash gate
    // (unlike the trained IVF/LSH routes, nothing needs pinning)
    "ann_matryoshka_topk" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      val q = e.filter(F.col("vec_id") < 5)
        .select(F.col("vec_id").as("qid"), F.col("embedding").as("qvec"))
      Similarity.matryoshkaTopK(e, q, k = 10, prefixDim = 16, rerank = 32)
        .orderBy("qid", "rank")
    }),
    // D16: binary-quantized retrieval — sign-bit fingerprints (32
    // bits/word so every word is a small positive sum both engines
    // share), hamming-ranked candidates under the (ham ASC, id ASC)
    // law, exact cosine re-rank of the bounded top-32. Integer stage
    // 1 + proven-parity stage 2 ⇒ the whole composition replays in
    // DuckDB — hash-green with ties handled identically
    "ann_binary_topk" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      val q = e.filter(F.col("vec_id") < 5)
        .select(F.col("vec_id").as("qid"), F.col("embedding").as("qvec"))
      Similarity.binaryTopK(e, q, k = 10, dim = 64, rerank = 32)
        .orderBy("qid", "rank")
    }),
    // D14/SQL: BigQuery's VECTOR_SEARCH TVF through GraftSql.load —
    // two calls in ONE statement (COSINE and default-EUCLIDEAN
    // distance), exercising the multi-occurrence rewrite. Both
    // distance types replay in DuckDB as index-ordered list folds
    // (the D1 oracle recipe); top-k cut ties can't occur (all
    // fixture vectors distinct), so the window replay is exact
    "sql_vector_search" -> ((s, d) => {
      Tables.embeddings(s, d).createOrReplaceTempView("vsq_base")
      Tables.embeddings(s, d).filter(F.col("vec_id") < 5)
        .select(F.col("vec_id").as("qid"), F.col("embedding"))
        .createOrReplaceTempView("vsq_q")
      graft.GraftSql.load(s,
        """SELECT * FROM (
          |  SELECT 'cos' AS face, query.qid AS qid, base.vec_id AS vec_id, distance
          |  FROM VECTOR_SEARCH(TABLE vsq_base, 'embedding', TABLE vsq_q,
          |                     top_k => 10, distance_type => 'COSINE')
          |  UNION ALL
          |  SELECT 'l2' AS face, query.qid AS qid, base.vec_id AS vec_id, distance
          |  FROM VECTOR_SEARCH(TABLE vsq_base, 'embedding', TABLE vsq_q, top_k => 10)
          |) ORDER BY face, qid, distance, vec_id""".stripMargin)
    }),
    // A35 options surface (round 13): VECTOR_SEARCH routed through a
    // CREATE VECTOR INDEX cell layout. fraction_lists_to_search=1.0
    // probes every list, so the probed-cell union covers the corpus
    // and the result equals brute force bit-for-bit — gating the DDL,
    // the centroid training, the probe ranking, the partition-filter
    // route and the exact re-rank against a fully independent oracle;
    // the nprobe < num_lists pruning behavior is spec-pinned
    // (TypedSqlSpec checks the pruned scan reads fewer files)
    "sql_vector_search_ivf" -> ((s, d) => {
      Tables.embeddings(s, d).createOrReplaceTempView("vsi_base")
      Tables.embeddings(s, d).filter(F.col("vec_id") < 5)
        .select(F.col("vec_id").as("qid"), F.col("embedding"))
        .createOrReplaceTempView("vsi_q")
      graft.GraftSql.load(s,
        """CREATE VECTOR INDEX IF NOT EXISTS vsi_idx ON vsi_base(embedding)
          |OPTIONS(index_type = 'IVF', distance_type = 'COSINE',
          |        ivf_options = '{"num_lists": 4}')""".stripMargin)
      graft.GraftSql.load(s,
        """SELECT query.qid AS qid, base.vec_id AS vec_id, distance
          |FROM VECTOR_SEARCH(TABLE vsi_base, 'embedding', TABLE vsi_q,
          |                   top_k => 10, distance_type => 'COSINE',
          |                   options => '{"use_brute_force": false, "fraction_lists_to_search": 1.0}')
          |ORDER BY qid, distance, vec_id""".stripMargin)
    }),
    // the 4×-narrower-corpus routing of D1: float queries score int8
    // codes directly (cosine is scale-invariant) — oracle recomputes
    // the same quantization in SQL, so this one IS hash-checkable
    "ann_bruteforce_int8" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      val q = e.filter(F.col("vec_id") < 5)
        .select(F.col("vec_id").as("qid"), F.col("embedding").as("qvec"))
      Similarity.bruteForceTopKInt8(e, q, 10).orderBy("qid", "rank")
    }),
    // D10: MMR diversification of a brute-force top-20 candidate list
    // (λ=0.75 so 1−λ=0.25 is exactly representable in both engines);
    // candidates carry their vectors via a corpus self-join, the fold
    // replays in SQL as m chained argmax steps
    "search_mmr" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      val q = e.filter(F.col("vec_id") < 5)
        .select(F.col("vec_id").as("qid"), F.col("embedding").as("qvec"))
      val cands = Similarity.bruteForceTopK(e, q, 20)
        .join(e.select(F.col("vec_id"), F.col("embedding")), Seq("vec_id"))
      Similarity.mmrRerank(cands, m = 8, lambda = 0.75)
        .orderBy("qid", "mmr_rank")
    }),
    "ann_lsh_topk" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      val q = e.filter(F.col("vec_id") < 5)
        .select(F.col("vec_id").as("qid"), F.col("embedding").as("qvec"))
      Similarity.lshTopK(e, q, 10).orderBy("qid", "rank")
    }),
    // the LSH routing under a FULL hash oracle (the D3b recipe applied
    // to hyperplanes): planes pinned to every-64th corpus vectors, so
    // signature signs, banding, the bucket join, and the exact-cosine
    // re-rank all replay in DuckDB. ann_lsh_topk keeps the
    // random-family face (rows-only, recall-pinned)
    "ann_lsh_topk_pinned" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      val q = e.filter(F.col("vec_id") < 5)
        .select(F.col("vec_id").as("qid"), F.col("embedding").as("qvec"))
      val planes = e.filter(F.col("vec_id") % 64 === 2).orderBy("vec_id").limit(16)
        .select(F.col("vec_id").as("pid"), F.col("embedding").as("pvec"))
      Similarity.lshTopKPinned(e, q, 10, planes, bands = 4).orderBy("qid", "rank")
    }),
    // fully-quantized candidate path: banding AND scoring on int8
    // codes, float corpus never touched (hyperplane signs are
    // scale-invariant). Recall vs float baseline pinned in
    // SimilaritySpec -> rows-only here like the other LSH paths.
    "ann_lsh_int8" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      val q = e.filter(F.col("vec_id") < 5)
        .select(F.col("vec_id").as("qid"), F.col("embedding").as("qvec"))
      Similarity.lshTopKInt8(e, q, 10).orderBy("qid", "rank")
    }),

    "ann_ivf_topk" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      val q = e.filter(F.col("vec_id") < 5)
        .select(F.col("vec_id").as("qid"), F.col("embedding").as("qvec"))
      Similarity.ivfTopK(e, q, 10, nprobe = 5).orderBy("qid", "rank")
    }),
    // the IVF routing under a FULL hash oracle: centroids pinned to
    // every 128th corpus vector (taken verbatim from the data, no
    // k-means), so assignment (normalized-centroid dot, lowest-cell
    // tie-break), nprobe cell probing, and the in-cell exact top-k are
    // all deterministic double arithmetic DuckDB replays term-for-term.
    // ann_ivf_topk keeps the trained-centroid face (rows-only,
    // recall-pinned); this row proves the routing machinery itself.
    "ann_ivf_topk_pinned" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      val q = e.filter(F.col("vec_id") < 5)
        .select(F.col("vec_id").as("qid"), F.col("embedding").as("qvec"))
      val cent = e.filter(F.col("vec_id") % 128 === 3)
        .select(F.col("vec_id").as("cell"), F.col("embedding").as("centroid"))
      Similarity.ivfTopK(e, q, 10, nprobe = 5, precomputed = Some(cent))
        .orderBy("qid", "rank")
    }),
    // product-quantized ADC path (D8): m-byte codes (32× narrower
    // than the float vectors), per-row scoring = m LUT lookups,
    // exact-cosine re-rank of the bounded candidate set. Rows-only:
    // recall vs brute force is pinned in SimilaritySpec
    "ann_pq_topk" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      val q = e.filter(F.col("vec_id") < 5)
        .select(F.col("vec_id").as("qid"), F.col("embedding").as("qvec"))
      Similarity.pqTopK(e, q, 10).orderBy("qid", "rank")
    }),
    // D13: hard-negative mining (the DPR contrastive-training recipe)
    // — top-k highest-cosine corpus items per query EXCLUDING the
    // known positives (qid+1, qid+2 here, an arithmetic relevant set
    // DuckDB re-derives); fetch=20 ≥ k + |positives| so exclusion
    // can't starve a query. Deterministic double arithmetic end to
    // end — full hash oracle
    "ann_hard_negatives" -> ((s, d) => {
      import s.implicits._
      val e = Tables.embeddings(s, d)
      val q = e.filter(F.col("vec_id") < 5)
        .select(F.col("vec_id").as("qid"), F.col("embedding").as("qvec"))
      val pos = (0L until 5L).flatMap(qid => Seq((qid, qid + 1), (qid, qid + 2)))
        .toDF("qid", "vec_id")
      Similarity.hardNegatives(e, q, pos, k = 10, fetch = 20).orderBy("qid", "rank")
    }),
    // the PQ ADC + re-rank routing under a FULL hash oracle (the D3b
    // recipe applied to D8): codebooks pinned to the subvector slices
    // of every 32nd corpus vector (16 anchors, no k-means), so encode
    // (normalized L2 argmin, lowest-code tie-break), the per-query
    // LUT, the ADC candidate cut, and the exact-cosine re-rank are all
    // deterministic double arithmetic DuckDB replays term-for-term.
    // ann_pq_topk keeps the trained-codebook face (rows-only,
    // recall-pinned in SimilaritySpec).
    "ann_pq_topk_pinned" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      val q = e.filter(F.col("vec_id") < 5)
        .select(F.col("vec_id").as("qid"), F.col("embedding").as("qvec"))
      Similarity.pqTopK(e, q, 10, m = 8, rerank = 64,
          codebooks = Some(pinnedPqCodebooks(e)))
        .orderBy("qid", "rank")
    }),
    // D12: IVF-PQ composed — the FAISS production shape: pinned
    // centroids route each query to nprobe cells (PartitionFilters
    // prune the layout listing), the pruned scan ADC-scores m bytes
    // per vector, the bounded candidate set re-ranks exact-cosine
    // against the float column of the same pruned cells. Layout built
    // once per (JVM, sf). Under a FULL hash oracle: the pinned
    // centroids + codebooks make the whole composition deterministic
    // (D3b assignment/probe + D8b encode/LUT/ADC replayed in DuckDB);
    // SimilaritySpec additionally pins recall AND the probe-all ≡
    // plain-PQ bit-equality reduction
    "ann_ivfpq_topk" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      val q = e.filter(F.col("vec_id") < 5)
        .select(F.col("vec_id").as("qid"), F.col("embedding").as("qvec"))
      val cent = e.filter(F.col("vec_id") % 128 === 3)
        .select(F.col("vec_id").as("cell"), F.col("embedding").as("centroid"))
      val cb = pinnedPqCodebooks(e)
      // path keyed by the SANITIZED dir, not its hashCode — two data
      // dirs must never collide onto one cached layout
      val path = s"${System.getProperty("java.io.tmpdir")}/graft_ivfpq_${d.replaceAll("[^A-Za-z0-9]", "_")}"
      ivfPqLayouts.synchronized {
        if (!ivfPqLayouts.contains(path)) {
          Similarity.writeIvfPqLayout(e, path, cent, cb)
          ivfPqLayouts += path
        }
      }
      Similarity.ivfPqTopK(s, path, q, 10, cent, cb, nprobe = 5, rerank = 64)
        .orderBy("qid", "rank")
    }),

    // ───────────────────────── E. text analysis ─────────────────────────
    // the E7 scrub as a driver-gated query: the corpus carries no PII,
    // so each document gets a deterministic PII-bearing suffix, then
    // redact + audit-count run over it; the oracle replays the exact
    // pattern chain (Java-regex ∩ RE2 dialect) in SQL
    "text_redact" -> ((s, d) => withFanout(s) {
      val decorated = F.concat(F.col("text"), F.lit(
        " Contact: alice@example.com or (555) 123-4567, id 123456789, at https://ex.com/a?b=1&c=2 end"))
      Tables.documents(s, d).select(
          F.col("doc_id"),
          T.redact(decorated).as("redacted"),
          T.redactionCount(decorated).cast("long").as("n_redactions"))
        .orderBy("doc_id")
    }),
    // markup extraction: each document rendered into a deterministic
    // HTML page (tags, chrome comment, script, entities), then
    // stripped back to text — the web-crawl extraction stage; the
    // oracle replays the identical wrap+strip in SQL
    "text_strip_markup" -> ((s, d) => {
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
    }),
    // B31: BigQuery's SEARCH() scalar, registered under its own name
    // so migrating WHERE SEARCH(col, 'terms') text runs verbatim —
    // the ASCII analyzer (lowercase, non-alphanumeric splits, full
    // token containment; punctuation in the query is analyzer noise,
    // exercised by q3). DuckDB replays the analyzer with
    // list_has_all over the same split — hash-green
    "q_search_fn" -> ((s, d) => {
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
    }),

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
    "eval_calibration" -> ((s, d) => {
      val scored = Tables.documents(s, d).select(
        F.when(F.col("text").contains("data"), 1L).otherwise(-1L).as("y"),
        F.col("n_chars").cast("double").as("s"))
      graft.operators.Eval.calibrationBins(scored, "y", "s", bins = 12)
    }),

    // E21b (round 13): exact ROC AUC by Mann-Whitney average ranks —
    // all-integer to u_x2, ONE double division at the end in a fixed
    // order, so DuckDB replays the statistic bit-for-bit (ties on
    // n_chars exercise the average-rank correction)
    "eval_roc_auc" -> ((s, d) => {
      val scored = Tables.documents(s, d).select(
        F.when(F.col("text").contains("data"), 1L).otherwise(-1L).as("y"),
        F.col("n_chars").cast("double").as("s"))
      graft.operators.Eval.binaryRocAuc(scored, "y", "s")
    }),

    "eval_pr_curve" -> ((s, d) => {
      val scored = Tables.documents(s, d).select(
        F.when(F.col("text").contains("data"), 1L).otherwise(-1L).as("y"),
        F.col("n_chars").cast("double").as("s"))
      graft.operators.Eval.binaryPrCurve(scored, "y", "s")
        .orderBy(F.desc("threshold"))
    }),

    // E20: Unicode normalization — each doc decorated with a suffix
    // cycling five byte-spelling classes (combining-mark accents,
    // double marks, composed, ASCII, combining cluster), then NFC'd
    // and accent-folded through the native NormalizeText expression.
    // DuckDB's nfc_normalize/strip_accents implement the same UAX #15
    // tables, so the full normalized TEXT (not just lengths) sits
    // under the hash gate byte-for-byte
    "text_normalize" -> ((s, d) => {
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
    }),
    "text_quality" -> ((s, d) => {
      val t = F.col("text")
      Tables.documents(s, d).select(
        F.col("doc_id"), F.length(t).as("len"),
        T.tokenCount(t).as("n_tokens"),
        T.distinctTokenRatio(t).as("distinct_ratio"),
        T.stopwordRatio(t).as("stopword_ratio"),
        T.qualityScore(t).as("quality"))
        .orderBy("doc_id")
    }),
    // E14: learned-filter inference — fastText-shape hashed
    // bag-of-ngrams linear scorer, map-only, weights a plan literal;
    // integer vote sum ⇒ order-free ⇒ the whole model replays
    "text_classifier_score" -> ((s, d) => {
      graft.operators.TextClassifier.score(Tables.documents(s, d), "doc_id", "text",
          graft.operators.TextClassifier.hashedWeights(4096))
        .orderBy("doc_id")
    }),
    // E14b: the TRAINING face of the classifier — full-batch
    // perceptron, integer end-to-end, so the whole trajectory
    // (2 epochs here) replays in DuckDB as chained CTEs: epoch 1 from
    // zero weights updates on every doc; epoch 2 re-scores under w1
    // and updates on the still-misclassified. Output = the nonzero
    // rows of the trained weight table (bounded by buckets)
    "text_classifier_train" -> ((s, d) => {
      import s.implicits._
      val docs = Tables.documents(s, d)
        .withColumn("y", F.when(F.col("lang") === "en", 1L).otherwise(-1L))
      val (w, _) = graft.operators.TextClassifier.train(docs, "doc_id", "text", "y",
        buckets = 4096, epochs = 2)
      w.zipWithIndex.collect { case (x, b) if x != 0 => (b.toLong, x.toLong) }
        .toSeq.toDF("bucket", "w").orderBy("bucket")
    }),
    // E18: TRAINED lang-id — the fastText-lang-id production slot
    // beside E2's stopword heuristic: K one-vs-rest integer perceptron
    // heads (one corpus pass per epoch for ALL heads) trained on the
    // documents' own lang labels, then argmax inference, ties to the
    // lowest class index. Integer end-to-end, so the ENTIRE K-class
    // train-then-predict trajectory replays in DuckDB with the class
    // axis as data (a 5-row VALUES table) — the oracle does not grow
    // with K
    "text_lang_id_trained" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val classes = Seq("de", "en", "es", "fr", "zh")
      val (ws, _) = graft.operators.TextClassifier.trainOneVsRest(
        docs, "doc_id", "text", "lang", classes, buckets = 4096, epochs = 2)
      graft.operators.TextClassifier.predictClasses(docs, "doc_id", "text", classes, ws, 4096)
        .orderBy("doc_id")
    }),
    // A43's classification half (round 12): CREATE MODEL logistic_reg
    // over (doc_id, text, lang) — the E18 training loop behind the
    // BigQuery statement surface — then the confusion matrix from
    // ML.PREDICT crossed with ML.EVALUATE's macro metrics. Integer
    // votes end-to-end, metric doubles are fixed-order folds of
    // integer ratios, so DuckDB replays training, confusion AND
    // metrics term-for-term (epochs = 2, the E18 replay depth)
    "sql_ml_logistic" -> ((s, d) => {
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
    }),
    // A48b (round 12): ML.WEIGHTS — the trained classifier's weight
    // table dumped through the statement surface; integer weights, so
    // DuckDB re-trains (the same replay as sql_ml_logistic) and reads
    // w2's nonzero rows straight off
    "sql_ml_weights" -> ((s, d) => {
      Tables.documents(s, d).filter(F.col("doc_id") % 4 === 0)
        .createOrReplaceTempView("lgw_docs")
      graft.GraftSql.load(s,
        "CREATE OR REPLACE MODEL lgw_model OPTIONS(model_type = 'logistic_reg', " +
          "input_label_cols = ['lang'], max_iterations = 2) " +
          "AS SELECT doc_id, text, lang FROM lgw_docs")
      graft.GraftSql.load(s,
        "SELECT * FROM ML.WEIGHTS(MODEL lgw_model) ORDER BY class_label, bucket")
    }),
    // A49 (round 13): CREATE MODEL linear_reg — closed-form
    // normal-equations OLS (graft.sql.LinearReg). The face keeps every
    // sum INTEGER-exact (quantity as BIGINT, price as cents), so both
    // engines fold identical exact sums into the SAME textual
    // closed-form doubles — predictions replay bit-for-bit. This is
    // the first fully independent cross-engine ML oracle: DuckDB
    // re-derives slope/intercept from raw data, no training unroll
    "sql_ml_linear" -> ((s, d) => {
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
    }),
    // A52: ML.TRANSFORM (round 13) — the stored TRANSFORM select-list
    // re-applied to raw rows, BigQuery's pre-processing replay TVF;
    // the DuckDB oracle replays the TRANSFORM expressions textually,
    // fully independent of the model machinery
    "sql_ml_transform" -> ((s, d) => {
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
    }),

    // A53: ML.FEATURE_INFO + INFORMATION_SCHEMA.MODELS (round 13) —
    // per-feature training statistics captured at CREATE MODEL time;
    // mean/stddev derive from the stored EXACT sums by a fixed double
    // fold (sqrt is IEEE-correctly-rounded), so DuckDB recomputing
    // the same fold from the raw table matches bit-for-bit
    "sql_ml_feature_info" -> ((s, d) => {
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
    }),

    // A49b: ML.WEIGHTS (named inputs + __INTERCEPT__) × ML.EVALUATE
    // (mean_squared_error / r2_score) for the same model — the metric
    // fold is the stated algebraic SSE identity over the exact sums,
    // replayed term-for-term
    "sql_ml_linear_eval" -> ((s, d) => {
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
    }),
    // A43b (round 12): ML.CENTROIDS — the kmeans model's state table;
    // exact-integer sums + one division per component, so the kc2
    // replay (the sql_ml_kmeans CTEs) unnests to the same doubles
    "sql_ml_centroids" -> ((s, d) => {
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
    }),
    // E13: the corpus health report — per-(source, lang) volume +
    // quality histogram in ONE scan; all measures exact/order-free
    // (integer sums, counts, double min/max), so it hash-replays
    "corpus_report" -> ((s, d) => {
      graft.CorpusPipeline.sourceReport(Tables.documents(s, d), "text", "source", "lang")
        .orderBy("source", "lang")
    }),
    "text_lang_id" -> ((s, d) => {
      Tables.documents(s, d)
        .select(F.col("doc_id"), T.langGuess(F.col("text")).as("lang_guess"))
        .orderBy("doc_id")
    }),
    // sliding-window chunking — the embedding/retrieval prep stage;
    // map-only (explode over an in-row start sequence), all-integer
    // arithmetic so DuckDB replays the window algebra exactly
    "text_chunk" -> ((s, d) => {
      graft.operators.Chunking.chunkByTokens(
        Tables.documents(s, d), "doc_id", "text", chunkTokens = 64, overlapTokens = 16)
        .orderBy("doc_id", "chunk_id")
    }),
    // E16: the published Gopher quality-rule gate over deterministically
    // decorated documents (the E7 recipe — the salad corpus gains
    // rule-triggering bullets/ellipses/symbols/numerics/long-words
    // keyed on doc_id); every measure is an integer count or an exact
    // IEEE division of integers, so the oracle replays measures AND
    // pass flags bit-for-bit
    "text_gopher_rules" -> ((s, d) => withFanout(s) {
      graft.operators.QualityRules.gopher(
          Tables.documents(s, d).withColumn("text", gopherDecorated),
          "doc_id", "text", gopherDriverThresholds)
        .orderBy("doc_id")
    }),
    // E16b: the Gopher REPETITION rules over decorated documents
    // (repeated chrome lines for the dup-line rules, a spam-phrase run
    // for the top-gram rules); integer counts + exact divisions, the
    // top-gram tie resolved identically both sides (count desc, gram
    // asc) — hash-replayable
    "text_gopher_repetition" -> ((s, d) => withFanout(s) {
      graft.operators.QualityRules.gopherRepetition(
          Tables.documents(s, d).withColumn("text", repetitionDecorated),
          "doc_id", "text")
        .orderBy("doc_id")
    }),
    // E16c: the duplicated-n-gram tail (n=5..10) of the Gopher
    // repetition table over phrase-run decorated documents; union
    // char-coverage accounting is all-integer, so the oracle replays
    // the dup dictionary, per-position flags, and covered-char fold
    "text_gopher_dup_ngrams" -> ((s, d) => withFanout(s) {
      graft.operators.QualityRules.gopherDupNGrams(
          Tables.documents(s, d).withColumn("text", dupNGramDecorated),
          "doc_id", "text")
        .orderBy("doc_id")
    }),
    // E17: the C4 line/page filter over deterministically rendered
    // pages; the line predicates are pure string tests (terminal
    // punctuation, word floor, javascript) the oracle replays
    "text_c4_filters" -> ((s, d) => {
      graft.operators.QualityRules.c4Filters(
          Tables.documents(s, d).withColumn("text", c4Decorated),
          "doc_id", "text", minLineWords = 3, minKeptLines = 2)
        .orderBy("doc_id")
    }),
    // E12b: line-boundary-respecting chunking over the rendered C4
    // pages (the multi-line fixture); the greedy fold is all-integer,
    // so the oracle replays it with a recursive CTE (the S5 recipe)
    "text_chunk_lines" -> ((s, d) => {
      graft.operators.Chunking.chunkByLines(
          Tables.documents(s, d).withColumn("text", c4Decorated),
          "doc_id", "text", budgetTokens = 25)
        .orderBy("doc_id", "chunk_id")
    }),

    "text_tokens" -> ((s, d) => {
      val t = F.col("text")
      Tables.documents(s, d).select(
        F.col("doc_id"),
        T.tokenCount(t).as("ws_tokens"),
        T.bpeishCount(t).as("bpeish_tokens"),
        F.length(t).as("n_chars_text"))
        .orderBy("doc_id")
    }),
    "text_fingerprint" -> ((s, d) => {
      Tables.documents(s, d)
        .select(F.col("doc_id"), T.fingerprint(F.col("text")).as("fp"),
          F.size(F.array_distinct(T.tokens(F.col("text")))).as("n_distinct_tokens"))
        .orderBy("doc_id")
    }),

    // ───────────────────────── F. multimodal plumbing ─────────────────────────
    "mm_meta_extract" -> ((s, d) => {
      val withBin = Multimodal.withPayload(Tables.documents(s, d))
      Multimodal.decodeFeatures(s, withBin)
        .join(withBin.select(F.col("doc_id"), F.col("meta.source").as("source")), "doc_id")
        .select("doc_id", "byte_len", "head_byte", "source")
        .orderBy("doc_id")
    }),
    // F4: perceptual near-dup pairs over media payloads — aHash
    // (strided thumbnail → mean-threshold bits → 60-bit pack) banded
    // 4×15 the C3 way, exact bit_count(xor) verify. maxHamming=4 is
    // past the banding's ≤3 recall guarantee: BOTH engines apply the
    // same band-then-verify rule, so the (identical) subset semantics
    // hash cleanly. Every stage after the thumbnail is integer
    // arithmetic, so thumbnail, fingerprint, banding and verification
    // ALL replay in DuckDB; re-keyed every-50th-doc replicas (the C2b
    // decoration) guarantee hamming-0 pairs
    "mm_phash_pairs" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val decorated = docs.unionByName(
        docs.filter(F.col("doc_id") % 50 === 0)
          .withColumn("doc_id", F.col("doc_id") + 1000000L))
      val withBin = Multimodal.withPayload(decorated)
      Multimodal.perceptualPairs(Multimodal.averageHash(withBin), maxHamming = 4)
        .orderBy("id_a", "id_b")
    }),
    // F5: video-style near-dup by shared FRAME fingerprints — F3
    // frame sampling (32-byte frames, stride 2) composed with F4
    // aHash per frame, payloads paired by the size of their distinct
    // fingerprint-set intersection. Decorations: re-keyed exact
    // replicas (share every sampled frame) and half-prefix truncations
    // (share the aligned prefix frames — the case the whole-payload
    // hash F4 misses). Integer end to end after the frame slice, so
    // frames → hashes → sets → intersection counts replay in DuckDB
    "mm_frame_phash" -> ((s, d) => {
      val docs = Tables.documents(s, d).select("doc_id", "text")
      val deco = docs
        .unionByName(docs.filter(F.col("doc_id") % 50 === 0)
          .select((F.col("doc_id") + 1000000L).as("doc_id"), F.col("text")))
        .unionByName(docs.filter(F.col("doc_id") % 30 === 0)
          .select((F.col("doc_id") + 2000000L).as("doc_id"),
            F.col("text").substr(F.lit(1),
              (F.length(F.col("text")) / 2).cast("int")).as("text")))
      val withBin = deco.select(F.col("doc_id"), F.col("text").cast("binary").as("payload"))
      Multimodal.framePhashPairs(withBin, frameBytes = 32, stride = 2,
          minShared = 2, maxDf = 1000)
        .orderBy("id_a", "id_b")
    })
  )

  /** DuckDB-equivalent SQL per query (driver's correctness oracle).
    * Keys absent here (minhash/simhash/ngram/lsh/lang-id) get the
    * driver's weaker rows-only check; their semantics are verified
    * against brute-force ground truth in the ScalaTest suite instead.
    */
  private val scd2OracleSql =
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

  def oracleSql: Map[String, String] = {
    val dot = (a: String, b: String) =>
      s"list_aggregate(list_transform(list_zip($a, $b), x -> CAST(x[1] AS DOUBLE)*CAST(x[2] AS DOUBLE)), 'sum')"
    val cosSql = (a: String, b: String) =>
      s"${dot(a, b)} / (sqrt(${dot(a, a)}) * sqrt(${dot(b, b)}))"
    // the m=8 greedy MMR steps as chained CTEs: pick r = per-qid argmax
    // of 0.75·score − 0.25·max-cos-to-selected (QUALIFY rn=1, id tie),
    // state r = the selected ids + vectors so far
    val mmrSteps = (2 to 8).map { r =>
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
    val mmrUnion = (1 to 8).map(r => s"SELECT qid, vec_id, $r AS r, mmr FROM p$r")
      .mkString("\n  UNION ALL ")
    // k-means replay: strict fold-order squared-L2 (mirrors
    // NearestCentroidL2's index-order accumulation bit for bit)
    val kmDist = (v: String, c: String) =>
      s"list_aggregate(list_transform(list_zip($v, $c), " +
        "p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)) * " +
        "(CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))), 'sum')"
    // one Lloyd iteration: assign to argmin (ties -> lowest cluster),
    // exact integer per-(cluster, dim) sums, centroid = sum/n as ONE
    // double division; an emptied cluster keeps its previous centroid
    val kmIter = (i: Int) => {
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
    val base = Map(
      "search_mmr" ->
        s"""WITH q AS (SELECT vec_id AS qid, embedding AS qvec FROM embeddings WHERE vec_id < 5),
           |scored AS (
           |  SELECT q.qid, e.vec_id, e.embedding AS vec, ${cosSql("q.qvec", "e.embedding")} AS score
           |  FROM q JOIN embeddings e ON e.vec_id <> q.qid),
           |cand AS (
           |  SELECT qid, vec_id, vec, score FROM (
           |    SELECT qid, vec_id, vec, score,
           |           row_number() OVER (PARTITION BY qid ORDER BY score DESC, vec_id) AS rank
           |    FROM scored) WHERE rank <= 20),
           |p1 AS (
           |  SELECT qid, vec_id, vec, 0.75*score AS mmr FROM cand
           |  QUALIFY row_number() OVER (PARTITION BY qid ORDER BY mmr DESC, vec_id) = 1),
           |s1 AS (SELECT qid, [vec_id] AS ids, [vec] AS vecs FROM p1),
           |$mmrSteps
           |u AS (
           |  $mmrUnion)
           |SELECT qid, vec_id, CAST(r AS INT) AS mmr_rank, mmr AS mmr_score
           |FROM u ORDER BY qid, mmr_rank""".stripMargin,
      "fx_ingest_json" ->
        """SELECT event_id, CAST(json_extract_string(props, '$.k') AS INT) AS k, event_type, value
          |FROM events ORDER BY event_id""".stripMargin,
      "fx_ingest_raw_json" ->
        """SELECT event_id, user_id, event_type, value,
          |       CAST(date_trunc('day', ts) AS DATE) AS day
          |FROM events ORDER BY event_id""".stripMargin,
      "fx_idempotent_append" ->
        """WITH target AS (SELECT event_id, user_id, value FROM events WHERE event_id % 10 <> 0),
          |     batch  AS (SELECT event_id, user_id, value FROM events WHERE event_id % 3 = 0)
          |SELECT event_id, user_id, value FROM target
          |UNION ALL
          |SELECT b.event_id, b.user_id, b.value FROM batch b
          |WHERE NOT EXISTS (SELECT 1 FROM target t WHERE t.event_id = b.event_id)
          |ORDER BY event_id""".stripMargin,
      "fx_merge_upsert" ->
        """WITH t AS (SELECT event_id, user_id, value FROM events WHERE event_id % 10 <> 0),
          |     s AS (SELECT event_id, user_id, value * 2 AS value FROM events WHERE event_id % 3 = 0)
          |SELECT COALESCE(s.event_id, t.event_id) AS event_id,
          |       CASE WHEN s.event_id IS NOT NULL THEN s.user_id ELSE t.user_id END AS user_id,
          |       CASE WHEN s.event_id IS NOT NULL THEN s.value ELSE t.value END AS value
          |FROM t FULL OUTER JOIN s ON t.event_id = s.event_id
          |ORDER BY event_id""".stripMargin,
      "fx_daily_report" ->
        """SELECT CAST(date_trunc('day', ts) AS DATE) AS day, event_type,
          |       CAST(SUM(CAST(value AS DECIMAL(30,2))) AS DOUBLE) / COUNT(*) AS avg_value,
          |       COUNT(*) AS n
          |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
      "fx_latest_n_avg" ->
        """SELECT CAST(SUM(CAST(value AS DECIMAL(30,2))) AS DOUBLE) / COUNT(*) AS avg_rate,
          |       COUNT(*) AS n
          |FROM (SELECT value FROM events ORDER BY CAST(ts AS TIMESTAMP) DESC, event_id DESC LIMIT 10)""".stripMargin,
      "fx_current_day_avg" ->
        """WITH e AS (SELECT CAST(date_trunc('day', ts) AS DATE) AS day, event_type, value FROM events)
          |SELECT day, event_type,
          |       CAST(SUM(CAST(value AS DECIMAL(30,2))) AS DOUBLE) / COUNT(*) AS avg_value
          |FROM e WHERE day = (SELECT MAX(day) FROM e)
          |GROUP BY day, event_type ORDER BY day, event_type""".stripMargin,
      "fx_dedup_latest" ->
        """SELECT user_id, event_type, event_id, value FROM (
          |  SELECT user_id, event_type, event_id, value,
          |         row_number() OVER (PARTITION BY user_id, event_type
          |                            ORDER BY CAST(ts AS TIMESTAMP) DESC, event_id DESC) AS rn
          |  FROM events) WHERE rn = 1
          |ORDER BY user_id, event_type""".stripMargin,
      "fx_asof_rate" ->
        """WITH l AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS t FROM events WHERE event_type = 'purchase'),
          |     r AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS t, value AS rate FROM events WHERE event_type = 'signup')
          |SELECT l.event_id, l.user_id, r.rate
          |FROM l ASOF JOIN r ON l.user_id = r.user_id AND l.t >= r.t
          |ORDER BY event_id""".stripMargin,
      "fx_salted_daily_report" ->
        """SELECT CAST(date_trunc('day', ts) AS DATE) AS day, event_type,
          |       CAST(SUM(CAST(value AS DECIMAL(30,2))) AS DOUBLE) / COUNT(*) AS avg_value,
          |       COUNT(*) AS n
          |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
      "q_salted_join" ->
        """SELECT c_nationkey, COUNT(*) AS n_orders,
          |       CAST(SUM(CAST(o_totalprice AS DECIMAL(30,2))) AS DOUBLE) AS revenue
          |FROM orders JOIN customer ON o_custkey = c_custkey
          |GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin,
      // SCD2 run collapse as two windows: lag detects run starts,
      // lead chains valid_to; micros arithmetic on both sides. The
      // incremental query shares the oracle — applyBatch must equal
      // the full recompute (Scd2Spec pins the law on random splits)
      "fx_scd2" -> scd2OracleSql,
      "fx_scd2_incremental" -> scd2OracleSql,
      // bloom pre-filter is exact (no false negatives; positives
      // verified by the exact join) -> plain NOT EXISTS oracle
      "q_bloom_anti" ->
        """SELECT l_returnflag, COUNT(*) AS n_rows,
          |       CAST(SUM(CAST(l_extendedprice AS DECIMAL(30,2))) AS DOUBLE) AS revenue
          |FROM lineitem
          |WHERE NOT EXISTS (SELECT 1 FROM orders
          |                  WHERE o_orderkey = l_orderkey AND o_orderstatus = 'F')
          |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
      // the whole point: three O(batch) merges reproduce the full-scan
      // aggregate bit-for-bit (decimal state sums are exact and
      // order-free), so the oracle IS the full recompute
      "fx_incremental_report" ->
        """SELECT CAST(date_trunc('day', ts) AS DATE) AS day, event_type,
          |       CAST(SUM(CAST(value AS DECIMAL(30,2))) AS DOUBLE) / COUNT(*) AS avg_value,
          |       COUNT(*) AS n
          |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
      // statement forms: src equals event_id % 3 by construction;
      // CTAS/GROUP BY ALL/unpivot all replay as the same per-type
      // count; the pivot legs split it by event_id parity
      "sql_statement_forms" ->
        """WITH t AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_t,
          |                  CAST(SUM(event_id % 3) AS BIGINT) AS src_sum,
          |                  CAST(SUM(CASE WHEN event_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS even,
          |                  CAST(SUM(CASE WHEN event_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS odd
          |           FROM events GROUP BY event_type)
          |SELECT event_type, n_t, src_sum,
          |       n_t AS ctas_n, n_t AS gba_n,
          |       (SELECT CAST(COUNT(*) AS BIGINT) FROM events) AS exc_n,
          |       even, odd, n_t AS unp_sum
          |FROM t ORDER BY event_type""".stripMargin,
      // streaming G-family gates: the Replay trajectory is
      // deterministic and the sinks' final states are trajectory-
      // independent by design (event-time-wins merge; commuting
      // decimal partials; first-processed-survives dedup with pinned
      // slice order), so each oracle is the plain batch semantics
      "stream_merge_upsert" ->
        """SELECT user_id, event_type, event_id, value FROM (
          |  SELECT user_id, event_type, event_id, value,
          |         row_number() OVER (PARTITION BY user_id, event_type
          |                            ORDER BY CAST(ts AS TIMESTAMP) DESC, event_id DESC) AS rn
          |  FROM events) WHERE rn = 1
          |ORDER BY user_id, event_type""".stripMargin,
      "stream_incremental_report" ->
        """SELECT CAST(date_trunc('day', ts) AS DATE) AS day, event_type,
          |       CAST(SUM(CAST(value AS DECIMAL(30,2))) AS DOUBLE) / COUNT(*) AS avg_value,
          |       COUNT(*) AS n
          |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
      // G9: applyBatch ≡ full recompute (the Scd2 law) — the oracle is
      // fx_scd2's full-history SQL verbatim
      "stream_scd2" -> scd2OracleSql,
      // G13: empty-seeded MV + 4 refreshes ≡ the one-shot aggregate
      "stream_matview" ->
        """SELECT CAST(date_trunc('day', ts) AS DATE) AS day, event_type,
          |       CAST(SUM(CAST(value AS DECIMAL(30,6))) AS DOUBLE) AS v_sum,
          |       COUNT(*) AS n, MIN(value) AS v_min, MAX(value) AS v_max
          |FROM events WHERE event_type <> 'click'
          |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
      // G14: week-sliced commits make AS OF a plain time predicate;
      // the ledger holds exactly 4 commits
      "stream_versioned" ->
        """SELECT event_type, COUNT(*) AS n_total,
          |       CAST(SUM(CASE WHEN epoch_us(CAST(ts AS TIMESTAMP)) <
          |                          1704067200000000 + 16 * 86400000000 THEN 1 ELSE 0 END)
          |            AS BIGINT) AS n_asof1,
          |       CAST(4 AS BIGINT) AS commits
          |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
      "stream_dedup_ingest" ->
        """WITH docs AS (SELECT o_orderkey AS doc_id, o_orderkey % 25 AS grp
          |              FROM orders WHERE o_orderkey % 11 = 0),
          |ranked AS (SELECT doc_id, grp,
          |                  ROW_NUMBER() OVER (PARTITION BY grp
          |                                     ORDER BY doc_id % 4, doc_id) AS rn
          |           FROM docs)
          |SELECT doc_id, grp FROM ranked WHERE rn = 1 AND grp >= 10
          |ORDER BY doc_id""".stripMargin,
      // the MV lifecycle's oracle is the one-shot aggregate over ALL
      // events: a hash match proves create + 2 refreshes ≡ recompute
      "sql_matview_refresh" ->
        """SELECT CAST(date_trunc('day', ts) AS DATE) AS day, event_type,
          |       CAST(SUM(CAST(value AS DECIMAL(30,6))) AS DOUBLE) AS v_sum,
          |       COUNT(*) AS n, MIN(value) AS v_min, MAX(value) AS v_max
          |FROM events WHERE event_type <> 'click'
          |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
      // the script's replay: hi = max id covers every row, the IF
      // picks 4 buckets (every sf has >= 100 events), the WHILE fold
      // across the 4 residue classes sums to the plain non-click count
      "sql_script" ->
        """SELECT event_type, COUNT(*) AS n,
          |       (SELECT COUNT(*) FROM events WHERE event_type <> 'click') AS nonclick_total,
          |       CAST(4 AS BIGINT) AS buckets
          |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
      // the loop verbs' replay: LOOP/BREAK doubles to 64, the
      // REPEAT/UNTIL+CONTINUE fold of the odd integers 1..9 is 25
      "sql_script_loops" ->
        """SELECT event_type, COUNT(*) AS n
          |FROM events WHERE event_id % 64 < 25
          |GROUP BY event_type ORDER BY event_type""".stripMargin,
      // the dynamic script's replay: the FOR/EXECUTE IMMEDIATE fold
      // over per-type gated counts equals one scalar subquery
      "sql_script_dynamic" ->
        """SELECT event_type, COUNT(*) AS n,
          |       (SELECT COUNT(*) FROM events WHERE value > 1.0) AS gated_total
          |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
      // the UDF query with both function bodies inlined by hand —
      // cents are integers after ROUND, so the replay is hash-exact
      "sql_udf" ->
        """SELECT CASE WHEN CAST(ROUND(l_extendedprice * 100) AS BIGINT) % 10 < 5
          |            THEN 'low_digit' ELSE 'high_digit' END AS band,
          |       COUNT(*) AS n,
          |       CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS cents_sum
          |FROM lineitem GROUP BY band ORDER BY band""".stripMargin,
      // export→load round trip: parquet preserves every byte, so the
      // loaded table's aggregate equals the source filter's
      "sql_export_load" ->
        """SELECT event_type, COUNT(*) AS n,
          |       CAST(SUM(CAST(value AS DECIMAL(30,6))) AS DOUBLE) AS v_sum,
          |       CAST(MIN(event_id) AS BIGINT) AS min_id,
          |       CAST(MAX(event_id) AS BIGINT) AS max_id
          |FROM events WHERE event_type <> 'click'
          |GROUP BY event_type ORDER BY event_type""".stripMargin,
      "sql_export_avro" ->
        """SELECT event_type, COUNT(*) AS n,
          |       CAST(SUM(CAST(value AS DECIMAL(30,6))) AS DOUBLE) AS v_sum,
          |       CAST(MIN(event_id) AS BIGINT) AS min_id,
          |       CAST(MAX(event_id) AS BIGINT) AS max_id,
          |       MIN(CAST(ts AS TIMESTAMP)) AS min_ts, MAX(CAST(ts AS TIMESTAMP)) AS max_ts
          |FROM events WHERE event_type <> 'view'
          |GROUP BY event_type ORDER BY event_type""".stripMargin,
      // wildcard tables: the two kept shards replay as a filtered
      // UNION ALL with literal suffixes
      "sql_wildcard_tables" ->
        """WITH u AS (
          |  SELECT '1995' AS yr, o_orderpriority, o_totalprice FROM orders
          |  WHERE EXTRACT(year FROM o_orderdate) = 1995
          |  UNION ALL
          |  SELECT '1996' AS yr, o_orderpriority, o_totalprice FROM orders
          |  WHERE EXTRACT(year FROM o_orderdate) = 1996)
          |SELECT yr, o_orderpriority, COUNT(*) AS n,
          |       CAST(SUM(CAST(o_totalprice AS DECIMAL(30,2))) AS DOUBLE) AS sum_price
          |FROM u GROUP BY yr, o_orderpriority ORDER BY yr, o_orderpriority""".stripMargin,
      // partition-DDL round trip: the same day window as a plain
      // filtered aggregate over the source
      "sql_partition_ddl" ->
        """WITH e AS (SELECT event_id, event_type, value,
          |                  CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE) AS day
          |           FROM events)
          |SELECT day, event_type, COUNT(*) AS n,
          |       CAST(SUM(CAST(value AS DECIMAL(30,6))) AS DOUBLE) AS v_sum,
          |       MIN(event_id) AS min_id, MAX(event_id) AS max_id
          |FROM e WHERE day BETWEEN DATE '2024-01-05' AND DATE '2024-01-15'
          |GROUP BY day, event_type ORDER BY day, event_type""".stripMargin,
      // PARTITIONS metadata view: footer-derived per-day row counts
      // replay as a direct group-by over the source table
      "sql_partition_meta" ->
        """SELECT 'pmeta_daily' AS table_name,
          |       strftime(CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE), '%Y%m%d') AS partition_id,
          |       COUNT(*) AS total_rows
          |FROM events GROUP BY 2 ORDER BY partition_id""".stripMargin,
      // every registry column is determined by the DDL text — the
      // oracle IS the hand-derived literal row
      "sql_info_schema_meta" ->
        """SELECT 'ism_sidx' AS index_name, 'ism_docs' AS table_name,
          |       'LOG_ANALYZER' AS analyzer, 'ism_vidx' AS v_name,
          |       'embedding' AS column_name, 'IVF' AS index_type,
          |       'COSINE' AS distance_type, CAST(4 AS BIGINT) AS num_lists,
          |       'ism_twice' AS routine_name, 'FUNCTION' AS routine_type,
          |       'BIGINT' AS data_type, '(x * 2)' AS routine_definition,
          |       'ism_view' AS view_name,
          |       'SELECT doc_id FROM ism_docs' AS view_definition,
          |       'YES' AS use_standard_sql,
          |       'graft' AS catalog_name, 'session' AS schema_name,
          |       'graft-session' AS location""".stripMargin,
      // the DDL lifecycle replays as plain relational algebra: the
      // UPDATE is the CASE projection, the DELETE the filter, the
      // column surgery a fixed VALUES shape, and the drop/truncate
      // probes are literal zeros (the objects must not exist / be
      // empty when the Spark side hashes)
      "sql_ddl_lifecycle" ->
        """WITH t AS (SELECT event_id, user_id,
          |             CAST((user_id * 13 + event_id) % 100 AS BIGINT) AS v FROM events),
          |r AS (SELECT * FROM t WHERE v % 7 <> 0),
          |s AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
          |             CAST(SUM(CASE WHEN v >= 50 THEN 1 ELSE 0 END) AS BIGINT) AS hi_n,
          |             CAST(SUM(v) AS BIGINT) AS v_sum,
          |             CAST(0 AS BIGINT) AS gone_n, CAST(0 AS BIGINT) AS trunc_n,
          |             CAST(0 AS BIGINT) AS ren_old_n, CAST(11 AS BIGINT) AS ren_y
          |      FROM r)
          |SELECT col.column_name, col.pos, col.data_type,
          |       s.n, s.hi_n, s.v_sum, s.gone_n, s.trunc_n, s.ren_old_n, s.ren_y
          |FROM (VALUES ('event_id', CAST(1 AS BIGINT), 'INT64'),
          |             ('etype', CAST(2 AS BIGINT), 'STRING'),
          |             ('v', CAST(3 AS BIGINT), 'INT64'),
          |             ('flag', CAST(4 AS BIGINT), 'STRING'))
          |     AS col(column_name, pos, data_type)
          |CROSS JOIN s ORDER BY pos""".stripMargin,
      // row policies replay as WHERE clauses: OR of actives, then the
      // single survivor
      "sql_row_policy" ->
        """WITH b AS (
          |  SELECT event_type, COUNT(*) AS n, CAST(MIN(event_id) AS BIGINT) AS min_id,
          |         'both' AS phase
          |  FROM events WHERE event_type = 'click' OR value > 4.0 GROUP BY event_type),
          |o AS (
          |  SELECT event_type, COUNT(*) AS n, CAST(MIN(event_id) AS BIGINT) AS min_id,
          |         'click_only' AS phase
          |  FROM events WHERE event_type = 'click' GROUP BY event_type)
          |SELECT * FROM b UNION ALL SELECT * FROM o
          |ORDER BY phase, event_type""".stripMargin,
      // the lifecycle face pins the post-ALTER state literally
      "sql_meta_lifecycle" ->
        """SELECT * FROM (VALUES
          |  ('con', 'ml_t.pk$', 'PRIMARY KEY'),
          |  ('fp', 'meta', 'STRUCT<x INT64, tags ARRAY<STRUCT<k STRING, v STRING>>>'),
          |  ('fp', 'meta.tags', 'ARRAY<STRUCT<k STRING, v STRING>>'),
          |  ('fp', 'meta.tags.k', 'STRING'),
          |  ('fp', 'meta.tags.v', 'STRING'),
          |  ('fp', 'meta.x', 'INT64'),
          |  ('opt', 'description', '"altered"'),
          |  ('opt', 'owner', '"fx-team"')
          |) AS t(kind, name, val) ORDER BY kind, name""".stripMargin,
      // constraint metadata is session-catalog state with a pinned
      // rendering — the oracle is the literal expected rows
      "sql_constraints_meta" ->
        """SELECT * FROM (VALUES
          |  ('cm_items', 'cm_items.fk$2', 'FOREIGN KEY', 'NO', 'p_id', CAST(1 AS BIGINT)),
          |  ('cm_items', 'cm_items.pk$', 'PRIMARY KEY', 'NO', 'i_id', CAST(1 AS BIGINT)),
          |  ('cm_items', 'fk_order', 'FOREIGN KEY', 'NO', 'o_id', CAST(1 AS BIGINT)),
          |  ('cm_orders', 'cm_orders.pk$', 'PRIMARY KEY', 'NO', 'o_id', CAST(1 AS BIGINT))
          |) AS t(table_name, constraint_name, constraint_type, enforced, column_name, ord)
          |ORDER BY table_name, constraint_name, ord""".stripMargin,
      // table-options metadata is session-catalog state with a pinned
      // rendering — the oracle is the literal expected rows
      "sql_table_options" ->
        """SELECT * FROM (VALUES
          |  ('topt_daily', 'description', 'STRING', '"daily fx report"', 'VIEW'),
          |  ('topt_daily', 'friendly_name', 'STRING', '"Daily FX"', 'VIEW'),
          |  ('topt_daily', 'labels', 'ARRAY<STRUCT<STRING, STRING>>',
          |   '[STRUCT("team", "fx"), STRUCT("env", "prod")]', 'VIEW'),
          |  ('topt_daily', 'partition_expiration_days', 'INT64', '30', 'VIEW'),
          |  ('topt_daily', 'require_partition_filter', 'BOOL', 'false', 'VIEW'),
          |  ('topt_view', 'description', 'STRING', '"view over the daily table"', 'VIEW')
          |) AS t(table_name, option_name, option_type, option_value, table_type)
          |ORDER BY table_name, option_name""".stripMargin,
      // the stored-procedure face replays as the fully-substituted
      // statement (g=1.0, cap=7)
      "sql_procedure" ->
        """SELECT event_type, COUNT(*) AS n,
          |       CAST(SUM(CAST(value AS DECIMAL(30,6))) AS DOUBLE) AS v_sum
          |FROM events WHERE value > 1.0 AND event_id % 7 != 0
          |GROUP BY event_type ORDER BY event_type""".stripMargin,
      // general MERGE: kept-target half (unmatched pass, matched
      // clicks deleted, other matched rows take source values) UNION
      // the gated inserts — then one aggregate
      "sql_merge_conditional" ->
        """WITH t AS (SELECT event_id, event_type, value FROM events WHERE event_id % 2 = 0),
          |s AS (SELECT event_id, event_type, value FROM events WHERE event_id % 3 = 0),
          |kept AS (
          |  SELECT t.event_id,
          |         CASE WHEN s.event_id IS NOT NULL THEN s.event_type ELSE t.event_type END AS event_type,
          |         CASE WHEN s.event_id IS NOT NULL THEN s.value ELSE t.value END AS value
          |  FROM t LEFT JOIN s ON t.event_id = s.event_id
          |  WHERE s.event_id IS NULL OR s.event_type <> 'click'),
          |ins AS (
          |  SELECT s.event_id, s.event_type, s.value
          |  FROM s LEFT JOIN t ON s.event_id = t.event_id
          |  WHERE t.event_id IS NULL AND s.value > 1.0),
          |result AS (SELECT * FROM kept UNION ALL SELECT * FROM ins)
          |SELECT event_type, COUNT(*) AS n,
          |       CAST(SUM(CAST(value AS DECIMAL(30,6))) AS DOUBLE) AS v_sum,
          |       MIN(event_id) AS min_id, MAX(event_id) AS max_id
          |FROM result GROUP BY event_type ORDER BY event_type""".stripMargin,
      // transaction replay: asof = the pinned first commit (third 0);
      // latest = the COMMITTED transaction's trajectory (insert the
      // gated third 1, delete clicks, double purchases — value*2 is
      // exact in IEEE doubles); the rolled-back DELETE contributes
      // nothing
      "sql_transaction" ->
        """WITH cur AS (
          |  SELECT event_type,
          |         CASE WHEN event_type = 'purchase' THEN value * 2 ELSE value END AS value
          |  FROM events
          |  WHERE (event_id % 3 = 0 OR (event_id % 3 = 1 AND value > 2.0))
          |    AND event_type <> 'click')
          |SELECT 'asof' AS face, event_type, COUNT(*) AS n,
          |       CAST(SUM(CAST(value AS DECIMAL(30,6))) AS DOUBLE) AS v_sum
          |FROM events WHERE event_id % 3 = 0 GROUP BY event_type
          |UNION ALL
          |SELECT 'latest' AS face, event_type, COUNT(*) AS n,
          |       CAST(SUM(CAST(value AS DECIMAL(30,6))) AS DOUBLE) AS v_sum
          |FROM cur GROUP BY event_type
          |ORDER BY face, event_type""".stripMargin,
      // versioned-DML replay: asof = the pinned first commit (third
      // 0); latest = thirds 0+1 minus clicks with purchase values
      // doubled (value*2 is exact in IEEE doubles)
      "sql_versioned_dml" ->
        """WITH cur AS (
          |  SELECT event_type,
          |         CASE WHEN event_type = 'purchase' THEN value * 2 ELSE value END AS value
          |  FROM events WHERE event_id % 3 IN (0, 1) AND event_type <> 'click')
          |SELECT 'asof' AS face, event_type, COUNT(*) AS n,
          |       CAST(SUM(CAST(value AS DECIMAL(30,6))) AS DOUBLE) AS v_sum
          |FROM events WHERE event_id % 3 = 0 GROUP BY event_type
          |UNION ALL
          |SELECT 'latest' AS face, event_type, COUNT(*) AS n,
          |       CAST(SUM(CAST(value AS DECIMAL(30,6))) AS DOUBLE) AS v_sum
          |FROM cur GROUP BY event_type
          |ORDER BY face, event_type""".stripMargin,
      // time travel: AS OF between commits 1 and 2 sees thirds 0+1;
      // the latest view sees only third 2 (commit 2 is an overwrite)
      "sql_time_travel" ->
        """SELECT 'asof' AS face, event_type, COUNT(*) AS n,
          |       CAST(SUM(CAST(value AS DECIMAL(30,6))) AS DOUBLE) AS v_sum
          |FROM events WHERE event_id % 3 IN (0, 1) GROUP BY event_type
          |UNION ALL
          |SELECT 'latest' AS face, event_type, COUNT(*) AS n,
          |       CAST(SUM(CAST(value AS DECIMAL(30,6))) AS DOUBLE) AS v_sum
          |FROM events WHERE event_id % 3 = 2 GROUP BY event_type
          |ORDER BY face, event_type""".stripMargin,
      // the APPENDS window replays as the two in-window appended
      // thirds with their commit times as literals
      "sql_appends" ->
        """WITH e AS (SELECT event_id, event_type, value FROM events),
          |a AS (SELECT event_type, value, CAST(1704067200000000 AS BIGINT) AS ts_us
          |      FROM e WHERE event_id % 3 = 0
          |      UNION ALL
          |      SELECT event_type, value, CAST(1704153600000000 AS BIGINT) AS ts_us
          |      FROM e WHERE event_id % 3 = 1)
          |SELECT event_type, ts_us, COUNT(*) AS n,
          |       CAST(SUM(CAST(value AS DECIMAL(30,6))) AS DOUBLE) AS v_sum
          |FROM a GROUP BY event_type, ts_us ORDER BY event_type, ts_us""".stripMargin,
      // the CHANGES window replays as the overwrite's ±1-weight
      // multiset diff (|delta| expansion included) plus the final
      // append's inserts
      "sql_changes" ->
        """WITH e AS (SELECT event_id, event_type, value FROM events),
          |before_s AS (SELECT event_id, event_type, value FROM e WHERE event_id % 3 IN (0, 1)),
          |after_s AS (SELECT event_id, event_type,
          |                   CASE WHEN event_type = 'purchase' THEN value * 2 ELSE value END AS value
          |            FROM e WHERE event_id % 3 IN (0, 1) AND event_type <> 'click'),
          |d AS (SELECT event_id, event_type, value, SUM(w) AS dd
          |      FROM (SELECT *, 1 AS w FROM after_s UNION ALL SELECT *, -1 AS w FROM before_s) u
          |      GROUP BY 1, 2, 3 HAVING SUM(w) <> 0),
          |chg AS (SELECT CASE WHEN dd > 0 THEN 'INSERT' ELSE 'DELETE' END AS change_type,
          |               event_type, value, unnest(range(CAST(abs(dd) AS BIGINT))) AS i
          |        FROM d
          |        UNION ALL
          |        SELECT 'INSERT' AS change_type, event_type, value, 0 AS i
          |        FROM e WHERE event_id % 3 = 2)
          |SELECT change_type, event_type, COUNT(*) AS n,
          |       CAST(SUM(CAST(value AS DECIMAL(30,6))) AS DOUBLE) AS v_sum
          |FROM chg GROUP BY change_type, event_type ORDER BY change_type, event_type""".stripMargin,
      "q_range_join" ->
        """WITH r AS (SELECT o_orderkey AS range_key, o_totalprice - 5000.0 AS lo,
          |                  o_totalprice + 5000.0 AS hi, o_orderpriority
          |           FROM orders WHERE o_orderkey % 100 = 0)
          |SELECT r.range_key, COUNT(*) AS n_points,
          |       CAST(SUM(CAST(p.o_totalprice AS DECIMAL(30,2))) AS DOUBLE) AS sum_price
          |FROM orders p JOIN r ON p.o_orderpriority = r.o_orderpriority
          |                    AND p.o_totalprice >= r.lo AND p.o_totalprice < r.hi
          |GROUP BY r.range_key ORDER BY r.range_key""".stripMargin,
      "q_overlap_join" ->
        """WITH a AS (SELECT o_orderkey AS a_key, o_totalprice - 2500.0 AS a_lo,
          |                  o_totalprice + 2500.0 AS a_hi, o_orderpriority
          |           FROM orders WHERE o_orderkey % 50 = 0),
          |     b AS (SELECT o_orderkey AS b_key, o_totalprice - 2500.0 AS b_lo,
          |                  o_totalprice + 2500.0 AS b_hi, o_orderpriority
          |           FROM orders WHERE o_orderkey % 70 = 0)
          |SELECT a.a_key, COUNT(*) AS n_overlaps, CAST(SUM(b.b_key) AS BIGINT) AS sum_b_key
          |FROM a JOIN b ON a.o_orderpriority = b.o_orderpriority
          |             AND a.a_lo < b.b_hi AND b.b_lo < a.a_hi
          |GROUP BY a.a_key ORDER BY a.a_key""".stripMargin,
      "fx_gapfill" ->
        """WITH daily AS (
          |  SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
          |         CAST(SUM(CAST(value AS DECIMAL(30,2))) AS DOUBLE) / COUNT(*) AS avg_value
          |  FROM events GROUP BY 1, 2),
          |span AS (SELECT MIN(day) AS lo, MAX(day) AS hi FROM daily),
          |days AS (SELECT CAST(unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS DATE) AS day FROM span),
          |grid AS (SELECT ks.event_type AS event_type, days.day AS day
          |         FROM (SELECT DISTINCT event_type FROM daily) ks CROSS JOIN days)
          |SELECT g.event_type AS event_type, g.day AS day,
          |       last_value(d.avg_value IGNORE NULLS) OVER (PARTITION BY g.event_type ORDER BY g.day
          |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS avg_value,
          |       COALESCE(CAST(d.avg_value IS NOT NULL AS INT), 0) AS observed
          |FROM grid g LEFT JOIN daily d ON g.event_type = d.event_type AND g.day = d.day
          |ORDER BY event_type, day""".stripMargin,
      // the TVF spelling replays like fx_gapfill, minus the observed
      // extension column (BigQuery's GAP_FILL has no such flag)
      "sql_gap_fill" ->
        """WITH daily AS (
          |  SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
          |         CAST(SUM(CAST(value AS DECIMAL(30,2))) AS DOUBLE) / COUNT(*) AS avg_value
          |  FROM events GROUP BY 1, 2),
          |span AS (SELECT MIN(day) AS lo, MAX(day) AS hi FROM daily),
          |days AS (SELECT CAST(unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS DATE) AS day FROM span),
          |grid AS (SELECT ks.event_type AS event_type, days.day AS day
          |         FROM (SELECT DISTINCT event_type FROM daily) ks CROSS JOIN days)
          |SELECT g.event_type AS event_type, g.day AS day,
          |       last_value(d.avg_value IGNORE NULLS) OVER (PARTITION BY g.event_type ORDER BY g.day
          |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS avg_value
          |FROM grid g LEFT JOIN daily d ON g.event_type = d.event_type AND g.day = d.day
          |ORDER BY event_type, day""".stripMargin,
      // linear method: same densify, then interpolate between the
      // bracketing observations with the identical textual fold
      // pv + (nv - pv) * (Δ / span) over doubles
      "sql_gap_fill_linear" ->
        """WITH daily AS (
          |  SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
          |         CAST(SUM(CAST(value AS DECIMAL(30,2))) AS DOUBLE) / COUNT(*) AS avg_value
          |  FROM events
          |  WHERE NOT (date_part('day', ts) IN (7, 8, 9) AND event_type = 'click')
          |  GROUP BY 1, 2),
          |span AS (SELECT MIN(day) AS lo, MAX(day) AS hi FROM daily),
          |days AS (SELECT CAST(unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS DATE) AS day FROM span),
          |grid AS (SELECT ks.event_type AS event_type, days.day AS day
          |         FROM (SELECT DISTINCT event_type FROM daily) ks CROSS JOIN days),
          |br AS (
          |  SELECT g.event_type AS event_type, g.day AS day, d.avg_value AS avg_value,
          |         last_value(CASE WHEN d.avg_value IS NOT NULL THEN g.day END IGNORE NULLS)
          |           OVER (PARTITION BY g.event_type ORDER BY g.day
          |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pd,
          |         last_value(d.avg_value IGNORE NULLS)
          |           OVER (PARTITION BY g.event_type ORDER BY g.day
          |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
          |         first_value(CASE WHEN d.avg_value IS NOT NULL THEN g.day END IGNORE NULLS)
          |           OVER (PARTITION BY g.event_type ORDER BY g.day
          |             ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nd,
          |         first_value(d.avg_value IGNORE NULLS)
          |           OVER (PARTITION BY g.event_type ORDER BY g.day
          |             ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv
          |  FROM grid g LEFT JOIN daily d ON g.event_type = d.event_type AND g.day = d.day)
          |SELECT event_type, day,
          |       CASE WHEN avg_value IS NOT NULL THEN avg_value
          |            WHEN pv IS NOT NULL AND nv IS NOT NULL THEN
          |              pv + (nv - pv) * (CAST(date_diff('day', pd, day) AS DOUBLE)
          |                                / CAST(date_diff('day', pd, nd) AS DOUBLE))
          |       END AS avg_value
          |FROM br ORDER BY event_type, day""".stripMargin,
      // the hourly grid replays on the timestamp axis; the linear
      // fraction is the identical epoch_us integer-diff fold
      "sql_gap_fill_hourly" ->
        """WITH hourly AS (
          |  SELECT event_type, date_trunc('hour', ts) AS hr,
          |         CAST(SUM(CAST(value AS DECIMAL(30,2))) AS DOUBLE) / COUNT(*) AS avg_value
          |  FROM events
          |  WHERE NOT (date_part('hour', ts) IN (5, 6, 7) AND event_type = 'click')
          |  GROUP BY 1, 2),
          |span AS (SELECT MIN(hr) AS lo, MAX(hr) AS hi FROM hourly),
          |hrs AS (SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS hr FROM span),
          |grid AS (SELECT ks.event_type AS event_type, hrs.hr AS hr
          |         FROM (SELECT DISTINCT event_type FROM hourly) ks CROSS JOIN hrs),
          |br AS (
          |  SELECT g.event_type AS event_type, g.hr AS hr, d.avg_value AS avg_value,
          |         last_value(CASE WHEN d.avg_value IS NOT NULL THEN g.hr END IGNORE NULLS)
          |           OVER (PARTITION BY g.event_type ORDER BY g.hr
          |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pd,
          |         last_value(d.avg_value IGNORE NULLS)
          |           OVER (PARTITION BY g.event_type ORDER BY g.hr
          |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
          |         first_value(CASE WHEN d.avg_value IS NOT NULL THEN g.hr END IGNORE NULLS)
          |           OVER (PARTITION BY g.event_type ORDER BY g.hr
          |             ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nd,
          |         first_value(d.avg_value IGNORE NULLS)
          |           OVER (PARTITION BY g.event_type ORDER BY g.hr
          |             ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv
          |  FROM grid g LEFT JOIN hourly d ON g.event_type = d.event_type AND g.hr = d.hr)
          |SELECT event_type, hr,
          |       CASE WHEN avg_value IS NOT NULL THEN avg_value
          |            WHEN pv IS NOT NULL AND nv IS NOT NULL THEN
          |              pv + (nv - pv) * (CAST(epoch_us(hr) - epoch_us(pd) AS DOUBLE)
          |                                / CAST(epoch_us(nd) - epoch_us(pd) AS DOUBLE))
          |       END AS avg_value
          |FROM br ORDER BY event_type, hr""".stripMargin,
      "fx_completeness" ->
        """WITH src AS (
          |  SELECT * FROM events
          |  WHERE NOT (date_part('day', ts) % 5 = 0 AND event_type = 'click')),
          |o AS (SELECT CAST(date_trunc('day', ts) AS DATE) AS day, event_type,
          |             COUNT(*) AS n_rows
          |      FROM src GROUP BY 1, 2),
          |span AS (SELECT MIN(day) AS lo, MAX(day) AS hi FROM o),
          |days AS (SELECT CAST(unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS DATE) AS day FROM span),
          |grid AS (SELECT k.event_type AS event_type, days.day AS day
          |         FROM (SELECT DISTINCT event_type FROM o) k CROSS JOIN days)
          |SELECT g.day AS day, g.event_type AS event_type, COALESCE(o.n_rows, 0) AS n_rows
          |FROM grid g LEFT JOIN o ON g.day = o.day AND g.event_type = o.event_type
          |ORDER BY day, event_type""".stripMargin,
      "q1_agg" ->
        """SELECT l_returnflag, l_linestatus,
          |  CAST(SUM(CAST(l_quantity AS DECIMAL(30,2))) AS DOUBLE) AS sum_qty,
          |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(30,2))) AS DOUBLE) AS sum_base_price,
          |  CAST(SUM(CAST(ROUND(l_extendedprice*(1-l_discount), 4) AS DECIMAL(30,4))) AS DOUBLE) AS sum_disc_price,
          |  CAST(SUM(CAST(ROUND(l_extendedprice*(1-l_discount)*(1+l_tax), 6) AS DECIMAL(30,6))) AS DOUBLE) AS sum_charge,
          |  CAST(SUM(CAST(l_quantity AS DECIMAL(30,2))) AS DOUBLE) / COUNT(*) AS avg_qty,
          |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(30,2))) AS DOUBLE) / COUNT(*) AS avg_price,
          |  CAST(SUM(CAST(l_discount AS DECIMAL(30,2))) AS DOUBLE) / COUNT(*) AS avg_disc,
          |  COUNT(*) AS count_order
          |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-01 00:00:00'
          |GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus""".stripMargin,
      // pipe face: the standard-SQL replay of the piped aggregate
      "sql_pipe_syntax" ->
        """SELECT l_returnflag, l_linestatus,
          |  CAST(SUM(CAST(l_quantity AS DECIMAL(30,2))) AS DOUBLE) AS sum_qty,
          |  CAST(SUM(CAST(ROUND(l_extendedprice*(1-l_discount), 4) AS DECIMAL(30,4))) AS DOUBLE) AS sum_disc_price,
          |  CAST(SUM(CAST(l_quantity AS DECIMAL(30,2))) AS DOUBLE) / COUNT(*) AS avg_qty,
          |  COUNT(*) AS count_order
          |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-01 00:00:00'
          |GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus""".stripMargin,
      "q3_join_topn" ->
        """SELECT l_orderkey, CAST(o_orderdate AS DATE) AS orderdate,
          |       CAST(SUM(CAST(ROUND(l_extendedprice*(1-l_discount), 4) AS DECIMAL(30,4))) AS DOUBLE) AS revenue
          |FROM customer JOIN orders ON o_custkey = c_custkey
          |              JOIN lineitem ON l_orderkey = o_orderkey
          |WHERE c_mktsegment = 'BUILDING'
          |  AND o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
          |  AND l_shipdate  > TIMESTAMP '1998-03-15 00:00:00'
          |GROUP BY l_orderkey, o_orderdate
          |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin,
      "q5_multijoin" ->
        """SELECT n_name,
          |       CAST(SUM(CAST(ROUND(l_extendedprice*(1-l_discount), 4) AS DECIMAL(30,4))) AS DOUBLE) AS revenue
          |FROM customer, orders, lineitem, supplier, nation, region
          |WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey AND l_suppkey = s_suppkey
          |  AND c_nationkey = s_nationkey AND s_nationkey = n_nationkey
          |  AND n_regionkey = r_regionkey AND r_name = 'ASIA'
          |GROUP BY n_name ORDER BY revenue DESC, n_name""".stripMargin,
      "q14_promo" ->
        """SELECT 100.0 *
          |  CAST(SUM(CAST(ROUND(CASE WHEN p_type = 'PROMO' THEN l_extendedprice*(1-l_discount) ELSE 0.0 END, 4) AS DECIMAL(30,4))) AS DOUBLE) /
          |  CAST(SUM(CAST(ROUND(l_extendedprice*(1-l_discount), 4) AS DECIMAL(30,4))) AS DOUBLE) AS promo_revenue
          |FROM lineitem JOIN part ON l_partkey = p_partkey
          |WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
          |  AND l_shipdate <  TIMESTAMP '1997-04-01 00:00:00'""".stripMargin,
      "q_window_rank" ->
        """SELECT o_custkey, o_orderkey, o_totalprice, rnk, prev_price FROM (
          |  SELECT o_custkey, o_orderkey, o_totalprice,
          |         row_number() OVER w AS rnk,
          |         lag(o_totalprice, 1) OVER w AS prev_price
          |  FROM orders
          |  WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey))
          |WHERE rnk <= 3 ORDER BY o_custkey, rnk""".stripMargin,
      "q_semi_anti" ->
        """SELECT c_custkey, 'has_orders' AS tag FROM customer
          |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
          |UNION ALL
          |SELECT c_custkey, 'no_orders' AS tag FROM customer
          |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
          |ORDER BY c_custkey""".stripMargin,
      // GROUPING() replay is the identical statement — both engines
      // implement the SQL-standard grouping flag
      "q_grouping_fn" ->
        """SELECT COALESCE(o_orderpriority, '?') AS pri, COALESCE(o_orderstatus, '?') AS st,
          |       CAST(GROUPING(o_orderpriority) AS BIGINT) AS g_pri,
          |       CAST(GROUPING(o_orderstatus) AS BIGINT) AS g_st,
          |       COUNT(*) AS n,
          |       CAST(SUM(CAST(o_totalprice AS DECIMAL(30,2))) AS DOUBLE) AS price_sum
          |FROM orders GROUP BY ROLLUP(o_orderpriority, o_orderstatus)
          |ORDER BY g_pri, g_st, pri, st""".stripMargin,
      "q_rollup" ->
        """SELECT COALESCE(r_name, 'ALL') AS region_name, COALESCE(n_name, 'ALL') AS nation_name,
          |       COUNT(*) AS n_cust,
          |       CAST(SUM(CAST(c_acctbal AS DECIMAL(30,2))) AS DOUBLE) AS total_bal
          |FROM customer JOIN nation ON c_nationkey = n_nationkey
          |              JOIN region ON n_regionkey = r_regionkey
          |GROUP BY ROLLUP(r_name, n_name) ORDER BY region_name, nation_name""".stripMargin,
      "q_distinct_agg" ->
        """SELECT o_orderstatus, COUNT(DISTINCT o_custkey) AS n_cust, COUNT(*) AS n_orders,
          |  CAST(SUM(CAST(CASE WHEN o_totalprice > 100000.0 THEN o_totalprice ELSE 0.0 END AS DECIMAL(30,2))) AS DOUBLE) AS big_rev
          |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
      "q_topk_orders" ->
        """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
          |ORDER BY o_totalprice DESC, o_orderkey LIMIT 20""".stripMargin,
      "q_running_sum" ->
        """SELECT day, CAST(daily_dec AS DOUBLE) AS daily,
          |       CAST(SUM(daily_dec) OVER (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running
          |FROM (SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
          |             SUM(CAST(value AS DECIMAL(30,2))) AS daily_dec
          |      FROM events GROUP BY 1)
          |ORDER BY day""".stripMargin,
      "q_setops" ->
        """SELECT k, 'customers_without_orders' AS src FROM (
          |  SELECT c_custkey AS k FROM customer
          |  EXCEPT ALL
          |  SELECT DISTINCT o_custkey AS k FROM orders)
          |UNION ALL
          |SELECT k, 'customers_with_orders' AS src FROM (
          |  SELECT c_custkey AS k FROM customer
          |  INTERSECT
          |  SELECT o_custkey AS k FROM orders)
          |ORDER BY src, k""".stripMargin,
      // rule labels must match Constraints.Rule.name exactly (the
      // report is (rule, violations) rows, hash-compared)
      "q_constraints" ->
        """SELECT * FROM (
          |  SELECT 'not_null(o_custkey)' AS rule,
          |         CAST(COALESCE(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END), 0)
          |              AS BIGINT) AS violations
          |  FROM orders
          |  UNION ALL
          |  SELECT 'in_range(o_totalprice,1000.0,300000.0)',
          |         CAST(COALESCE(SUM(CASE WHEN o_totalprice IS NOT NULL
          |                           AND (o_totalprice < 1000.0 OR o_totalprice > 300000.0)
          |                      THEN 1 ELSE 0 END), 0) AS BIGINT)
          |  FROM orders
          |  UNION ALL
          |  SELECT 'unique(o_orderkey)',
          |         CAST(COALESCE((SELECT SUM(c) FROM (SELECT COUNT(*) AS c FROM orders
          |                   WHERE o_orderkey IS NOT NULL
          |                   GROUP BY o_orderkey HAVING COUNT(*) > 1)), 0) AS BIGINT)
          |  UNION ALL
          |  SELECT 'ref_integrity(o_custkey)', COUNT(*)
          |  FROM orders o
          |  WHERE o_custkey IS NOT NULL
          |    AND NOT EXISTS (SELECT 1 FROM customer WHERE c_custkey = o.o_custkey)
          |) ORDER BY rule""".stripMargin,
      "q_regexp_ops" ->
        """SELECT doc_id,
          |  regexp_matches(text, 'https?://') AS has_url,
          |  regexp_extract(text, '[0-9]+') AS first_num,
          |  len(regexp_extract_all(text, '[A-Z][a-z]+')) AS n_cap_words,
          |  length(regexp_replace(text, '[aeiou]', '', 'g')) AS n_vowelless_chars
          |FROM documents ORDER BY doc_id""".stripMargin,
      "q_string_ops" ->
        """SELECT p_partkey,
          |  upper(p_name) AS name_upper,
          |  substr(p_type, 1, 3) AS type_prefix,
          |  p_brand LIKE 'Brand#1%' AS is_brand1x,
          |  concat_ws('/', p_brand, p_type) AS brand_type,
          |  LENGTH(p_name) AS name_len
          |FROM part ORDER BY p_partkey""".stripMargin,
      "q_pivot" ->
        """SELECT o_orderpriority,
          |  COUNT(*) FILTER (o_orderstatus = 'F') AS "F_n",
          |  CAST(SUM(CAST(o_totalprice AS DECIMAL(30,2))) FILTER (o_orderstatus = 'F') AS DOUBLE) AS "F_rev",
          |  COUNT(*) FILTER (o_orderstatus = 'O') AS "O_n",
          |  CAST(SUM(CAST(o_totalprice AS DECIMAL(30,2))) FILTER (o_orderstatus = 'O') AS DOUBLE) AS "O_rev",
          |  COUNT(*) FILTER (o_orderstatus = 'P') AS "P_n",
          |  CAST(SUM(CAST(o_totalprice AS DECIMAL(30,2))) FILTER (o_orderstatus = 'P') AS DOUBLE) AS "P_rev"
          |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
      "q_unpivot" ->
        """SELECT p_partkey, 'size' AS measure, CAST(p_size AS DOUBLE) AS value FROM part
          |UNION ALL
          |SELECT p_partkey, 'retailprice', p_retailprice FROM part
          |ORDER BY p_partkey, measure""".stripMargin,
      "q_grouping_sets" ->
        """SELECT COALESCE(o_orderstatus, 'ALL') AS status,
          |       COALESCE(o_orderpriority, 'ALL') AS prio,
          |       COUNT(*) AS n,
          |       CAST(SUM(CAST(o_totalprice AS DECIMAL(30,2))) AS DOUBLE) AS total
          |FROM orders
          |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
          |ORDER BY status, prio""".stripMargin,
      "q_profile" ->
        """SELECT * FROM (
          |  SELECT 'o_orderkey' AS "column", COUNT(*) AS n_rows, COUNT(*) - COUNT(o_orderkey) AS n_nulls,
          |         COUNT(DISTINCT o_orderkey) AS n_distinct,
          |         CAST(MIN(o_orderkey) AS VARCHAR) AS min_value, CAST(MAX(o_orderkey) AS VARCHAR) AS max_value FROM orders
          |  UNION ALL
          |  SELECT 'o_custkey', COUNT(*), COUNT(*) - COUNT(o_custkey), COUNT(DISTINCT o_custkey),
          |         CAST(MIN(o_custkey) AS VARCHAR), CAST(MAX(o_custkey) AS VARCHAR) FROM orders
          |  UNION ALL
          |  SELECT 'o_orderstatus', COUNT(*), COUNT(*) - COUNT(o_orderstatus), COUNT(DISTINCT o_orderstatus),
          |         CAST(MIN(o_orderstatus) AS VARCHAR), CAST(MAX(o_orderstatus) AS VARCHAR) FROM orders
          |  UNION ALL
          |  SELECT 'o_orderpriority', COUNT(*), COUNT(*) - COUNT(o_orderpriority), COUNT(DISTINCT o_orderpriority),
          |         CAST(MIN(o_orderpriority) AS VARCHAR), CAST(MAX(o_orderpriority) AS VARCHAR) FROM orders)
          |ORDER BY "column" """.stripMargin,
      // APPROX_QUANTILES in the exact regime: the same quantile_disc
      // equivalence, at the macro's evenly spaced fractions
      "q_approx_quantiles" ->
        """WITH g AS (SELECT event_type,
          |             quantile_disc(value, [0.0, 0.25, 0.5, 0.75, 1.0]) AS qs
          |           FROM events GROUP BY event_type)
          |SELECT event_type, CAST(i - 1 AS INT) AS q_idx, qs[i] AS v
          |FROM g, UNNEST(generate_series(1, len(qs))) AS u(i)
          |ORDER BY event_type, q_idx""".stripMargin,
      // the array-subquery pipeline replays as list comprehensions
      "q_array_subquery" ->
        """SELECT DISTINCT event_type,
          |  array_to_string([upper(p) for p in string_split(event_type || '_ab_x_cd', '_')
          |                   if p <> 'x'], ',') AS parts,
          |  array_to_string([CAST(x * x AS VARCHAR)
          |                   for x in list_reverse(generate_series(1, length(event_type)))
          |                   if x % 2 = 1], ',') AS odd_sq,
          |  CAST(len([s for s in string_split(event_type, 'e') if s <> '']) AS BIGINT) AS n_frag,
          |  len([p for p in string_split(event_type || '_ab', '_') if p = 'ab']) > 0 AS has_ab
          |FROM events ORDER BY event_type""".stripMargin,
      // AS STRUCT faces flatten to strings/scalars before the gate, so
      // DuckDB replays the VALUES with list comprehensions — struct
      // representation never crosses the hash
      "q_array_struct" ->
        """WITH g AS (
          |  SELECT event_type, list_sort(list(DISTINCT user_id % 53)) AS ids
          |  FROM events GROUP BY event_type)
          |SELECT event_type,
          |  array_to_string([CAST(x AS VARCHAR) || ':' || CAST(x * x AS VARCHAR)
          |                   for x in ids if x > 5], ',') AS recs,
          |  ids[1] AS first_v,
          |  ids[1] * 2 AS first_d,
          |  CAST(len(ids) AS INT) AS n_ids
          |FROM g ORDER BY event_type""".stripMargin,
      // KLL in the exact regime: partial-build + merge keep every
      // sample, so the pipeline replays as plain discrete quantiles
      "q_kll_sketch" ->
        """SELECT event_type,
          |  CAST(quantile_disc(user_id % 97, 0.25) AS BIGINT) AS p25,
          |  CAST(quantile_disc(user_id % 97, 0.5) AS BIGINT) AS p50,
          |  CAST(quantile_disc(user_id % 97, 0.9) AS BIGINT) AS p90
          |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
      // the hash/encoding family: DuckDB's own digests replay the
      // BYTES↔hex↔base64 pipeline
      "q_bq_functions3" ->
        """SELECT event_type,
          |  md5(event_type) AS md5_hex,
          |  sha256(event_type) AS sha_hex,
          |  base64(from_hex(md5(event_type))) AS md5_b64,
          |  sha256(event_type) AS rt_hex,
          |  '0abc' AS padded,
          |  lower(event_type || '.example.com') AS host,
          |  bool_and(NOT isinf(value)) AS all_finite,
          |  bool_or(isnan('NaN'::DOUBLE * value)) AS has_nan,
          |  COUNT(*) AS n
          |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
      // HLL_COUNT driven in the sketch's exact regime: both routes
      // (MERGE; MERGE_PARTIAL→EXTRACT) replay as the true distinct
      "q_hll_sketch" ->
        """SELECT event_type,
          |       CAST(COUNT(DISTINCT user_id % 200) AS BIGINT) AS n_buckets,
          |       CAST(COUNT(DISTINCT user_id % 200) AS BIGINT) AS n_buckets2
          |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
      // exact-regime GK = rank-selected element = quantile_disc
      "q_percentile_approx_exact" ->
        """SELECT event_type,
          |       quantile_disc(value, 0.25) AS p25,
          |       quantile_disc(value, 0.5) AS p50,
          |       quantile_disc(value, 0.9) AS p90,
          |       COUNT(*) AS n
          |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
      "q_percentile" ->
        """SELECT event_type,
          |  quantile_cont(value, 0.25) AS p25,
          |  quantile_cont(value, 0.5) AS p50,
          |  quantile_cont(value, 0.9) AS p90,
          |  COUNT(*) AS n
          |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
      "q_approx_topk" ->
        """SELECT item, count_est FROM (
          |  SELECT event_type AS item, COUNT(*) AS count_est
          |  FROM events GROUP BY event_type
          |  ORDER BY count_est DESC, item LIMIT 3)
          |ORDER BY count_est DESC, item""".stripMargin,
      // list(... ORDER BY price DESC, key DESC)[1:3] ≡ Spark's
      // slice(reverse(array_sort(struct(price, key))), 1, 3); both
      // sides explode to (custkey, pos, orderkey, price) scalar rows
      "q_array_ops" ->
        """WITH top3 AS (
          |  SELECT o_custkey,
          |         (list({'orderkey': o_orderkey, 'price': o_totalprice}
          |                ORDER BY o_totalprice DESC, o_orderkey DESC))[1:3] AS arr
          |  FROM orders GROUP BY o_custkey)
          |SELECT o_custkey, CAST(i - 1 AS INT) AS pos,
          |       arr[i].orderkey AS orderkey, arr[i].price AS price
          |FROM top3, UNNEST(generate_series(1, len(arr))) AS u(i)
          |ORDER BY o_custkey, pos""".stripMargin,
      "q_cond_ops" ->
        """SELECT o_custkey, min(c_name) AS name,
          |       count(*) FILTER (WHERE o_orderstatus = 'F') AS n_f,
          |       count(*) FILTER (WHERE o_orderstatus = 'O') AS n_o,
          |       coalesce(CAST(count(*) FILTER (WHERE o_orderstatus = 'F') AS DOUBLE)
          |                / CAST(nullif(count(*) FILTER (WHERE o_orderstatus = 'O'), 0) AS DOUBLE),
          |                CAST(-1 AS DOUBLE)) AS f_over_o
          |FROM orders JOIN customer ON o_custkey = c_custkey
          |GROUP BY o_custkey ORDER BY o_custkey""".stripMargin,
      "q_qualify" ->
        """SELECT o_custkey, o_orderkey, o_orderdate, o_orderstatus
          |FROM orders
          |QUALIFY row_number() OVER (PARTITION BY o_custkey
          |        ORDER BY o_orderdate DESC, o_orderkey) = 1
          |ORDER BY o_custkey""".stripMargin,
      "q_ntile" ->
        """SELECT o_orderkey, o_orderpriority,
          |       ntile(4)       OVER w AS quartile,
          |       percent_rank() OVER w AS pct_rank,
          |       cume_dist()    OVER w AS cume
          |FROM orders
          |WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey)
          |ORDER BY o_orderkey""".stripMargin,
      "q_corr_subquery" ->
        """SELECT c_custkey,
          |  (SELECT COUNT(*) FROM orders WHERE o_custkey = c_custkey) AS n_orders,
          |  (SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(30,2))) AS DOUBLE)
          |     FROM orders WHERE o_custkey = c_custkey) AS total
          |FROM customer ORDER BY c_custkey""".stripMargin,
      // same recursive walk in DuckDB's WITH RECURSIVE; // is DuckDB's
      // integer division (Spark spells it DIV)
      "q_recursive_cte" ->
        """WITH RECURSIVE h AS (
          |  SELECT c_custkey AS k, c_custkey AS root, 0 AS depth, c_acctbal
          |  FROM customer WHERE c_custkey < 10
          |  UNION ALL
          |  SELECT c.c_custkey, h.root, h.depth + 1, c.c_acctbal
          |  FROM customer c JOIN h ON c.c_custkey // 10 = h.k
          |  WHERE c.c_custkey >= 10)
          |SELECT root, depth, COUNT(*) AS n_members,
          |       CAST(SUM(CAST(c_acctbal AS DECIMAL(30,2))) AS DOUBLE) AS bal_sum
          |FROM h GROUP BY root, depth
          |ORDER BY root, depth""".stripMargin,
      "q_range_window" ->
        """WITH daily AS (
          |  SELECT CAST(date_trunc('day', ts) AS DATE) AS day, event_type,
          |         SUM(CAST(value AS DECIMAL(30,2))) AS daily_dec
          |  FROM events GROUP BY 1, 2)
          |SELECT day, event_type, CAST(daily_dec AS DOUBLE) AS daily,
          |       CAST(SUM(daily_dec) OVER (PARTITION BY event_type ORDER BY day
          |            RANGE BETWEEN INTERVAL 6 DAY PRECEDING AND CURRENT ROW) AS DOUBLE)
          |         AS trailing_7d
          |FROM daily ORDER BY event_type, day""".stripMargin,
      "q_sessionize" ->
        """WITH e AS (SELECT user_id, event_id, value, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us FROM events),
          |g AS (SELECT user_id, event_id, value, ts_us,
          |        CASE WHEN ts_us - lag(ts_us) OVER w > 30*60*1000000 THEN 1 ELSE 0 END AS new_s
          |      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)),
          |s AS (SELECT user_id, value,
          |        CAST(SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
          |                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
          |      FROM g)
          |SELECT user_id, session_id, COUNT(*) AS n_events,
          |       CAST(SUM(CAST(value AS DECIMAL(30,2))) AS DOUBLE) AS session_value
          |FROM s GROUP BY user_id, session_id ORDER BY user_id, session_id""".stripMargin,
      "text_contamination" ->
        """WITH tok AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS toks FROM documents),
          |sh AS (SELECT DISTINCT doc_id, array_to_string(toks[i:i+2], ' ') AS sh
          |       FROM tok, UNNEST(generate_series(1, greatest(len(toks)-2, 1))) AS g(i)),
          |cs AS (SELECT doc_id AS corpus_id, sh FROM sh WHERE doc_id >= 25),
          |bs0 AS (SELECT doc_id AS bench_id, sh FROM sh WHERE doc_id < 25),
          |rare AS (SELECT sh FROM bs0 GROUP BY sh HAVING COUNT(*) <= 100),
          |bs AS (SELECT bench_id, bs0.sh FROM bs0 JOIN rare USING (sh))
          |SELECT corpus_id, bench_id, COUNT(*) AS n_shared
          |FROM cs JOIN bs USING (sh)
          |GROUP BY corpus_id, bench_id HAVING COUNT(*) >= 5
          |ORDER BY corpus_id, bench_id""".stripMargin,
      "text_tf_df" ->
        """WITH t AS (SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\s+')) AS token
          |           FROM documents),
          |tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM t GROUP BY 1, 2)
          |SELECT token, COUNT(*) AS df, CAST(SUM(tf) AS BIGINT) AS tf_total
          |FROM tf GROUP BY token ORDER BY token""".stripMargin,
      "text_rare_tokens" ->
        """WITH t AS (SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\s+')) AS token
          |           FROM documents),
          |tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM t GROUP BY 1, 2),
          |dfx AS (SELECT token, COUNT(*) AS df FROM tf GROUP BY 1)
          |SELECT doc_id, COUNT(*) AS n_distinct,
          |       CAST(SUM(CASE WHEN df <= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_rare
          |FROM tf JOIN dfx USING (token)
          |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
      // phrase adjacency replays relationally: positions of each term,
      // successive terms joined at (doc, start + i)
      "search_phrase" ->
        """WITH toks AS (
          |  SELECT doc_id, unnest(range(len(t))) AS pos, unnest(t) AS token
          |  FROM (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS t
          |        FROM documents)),
          |m1 AS (SELECT p0.doc_id, p0.pos
          |       FROM (SELECT doc_id, pos FROM toks WHERE token = 'table') p0
          |       JOIN (SELECT doc_id, pos - 1 AS pos FROM toks WHERE token = 'value') p1
          |         ON p0.doc_id = p1.doc_id AND p0.pos = p1.pos),
          |m2 AS (SELECT p0.doc_id, p0.pos
          |       FROM (SELECT doc_id, pos FROM toks WHERE token = 'a') p0
          |       JOIN (SELECT doc_id, pos - 1 AS pos FROM toks WHERE token = 'row') p1
          |         ON p0.doc_id = p1.doc_id AND p0.pos = p1.pos
          |       JOIN (SELECT doc_id, pos - 2 AS pos FROM toks WHERE token = 'fast') p2
          |         ON p0.doc_id = p2.doc_id AND p0.pos = p2.pos)
          |SELECT phrase, doc_id, n_hits, first_pos FROM (
          |  SELECT 'table value' AS phrase, doc_id, COUNT(*) AS n_hits, MIN(pos) AS first_pos
          |  FROM m1 GROUP BY doc_id
          |  UNION ALL
          |  SELECT 'a row fast' AS phrase, doc_id, COUNT(*) AS n_hits, MIN(pos) AS first_pos
          |  FROM m2 GROUP BY doc_id)
          |ORDER BY phrase, doc_id""".stripMargin,
      "text_repetition" ->
        """WITH tok AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS toks
          |             FROM documents),
          |base AS (SELECT doc_id, len(toks) AS n_toks FROM tok WHERE len(toks) >= 3),
          |sh AS (SELECT DISTINCT doc_id, array_to_string(toks[i:i+2], ' ') AS sh
          |       FROM tok, UNNEST(generate_series(1, len(toks)-2)) AS g(i)
          |       WHERE len(toks) >= 3),
          |dist AS (SELECT doc_id, COUNT(*) AS n_distinct FROM sh GROUP BY doc_id)
          |SELECT b.doc_id, CAST(b.n_toks - 2 AS BIGINT) AS n_grams,
          |       CAST(d.n_distinct AS BIGINT) AS n_distinct,
          |       CAST(1 AS DOUBLE) - CAST(d.n_distinct AS DOUBLE) / CAST(b.n_toks - 2 AS DOUBLE)
          |         AS repetition
          |FROM base b JOIN dist d USING (doc_id) ORDER BY doc_id""".stripMargin,
      "q_json_extract" ->
        """WITH e AS (SELECT event_type,
          |             CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
          |           FROM events)
          |SELECT event_type, COUNT(*) AS n, COUNT(k) AS n_with_k,
          |       CAST(SUM(k) AS BIGINT) AS k_sum, MIN(k) AS k_min, MAX(k) AS k_max
          |FROM e GROUP BY event_type ORDER BY event_type""".stripMargin,
      // the function-spelling face replays with DuckDB's OWN native
      // spellings (count_if/bool_or/epoch_us//strftime/strpos), so
      // the hash gates the semantic mapping itself
      "q_bq_functions" ->
        """WITH e AS (SELECT event_type, value, CAST(ts AS TIMESTAMP) AS ts FROM events)
          |SELECT event_type,
          |  CAST(count_if(value > 1.0) AS BIGINT) AS n_big,
          |  bool_or(value >= 2.0) AS any_big,
          |  CAST((epoch_us(MAX(ts)) - epoch_us(MIN(ts))) // 3600000000 AS BIGINT) AS span_h,
          |  CAST((epoch_us(MAX(ts)) - epoch_us(MIN(ts))) // 86400000000 AS BIGINT) AS span_d,
          |  strftime(CAST(CAST(MIN(ts) AS DATE) + INTERVAL 1 MONTH AS DATE), '%Y/%m/%d') AS next_m,
          |  CAST(strpos(event_type, 'c') AS INTEGER) AS cpos
          |FROM e GROUP BY event_type ORDER BY event_type""".stripMargin,
      // batch 2 replays with DuckDB's own spellings; events are ASCII
      // so the NFKC casefold is lower()
      "q_bq_functions2" ->
        """WITH e AS (SELECT event_type, CAST(ts AS TIMESTAMP) AS ts, value FROM events)
          |SELECT event_type,
          |  date_trunc('hour', MIN(ts)) AS first_hour,
          |  CAST(date_trunc('month', CAST(MAX(ts) AS DATE)) AS DATE) AS last_month,
          |  CAST(levenshtein(event_type, 'click') AS BIGINT) AS ed,
          |  CAST(least(levenshtein(event_type, 'click'), 3) AS BIGINT) AS ed3,
          |  CAST(len(string_split(event_type || '|x.y|z', '|')) AS BIGINT) AS n_parts,
          |  (string_split(event_type || '|x.y|z', '.'))[-1] AS last_dot,
          |  instr(lower(event_type), 'ic') > 0 AS has_ic,
          |  CAST(len(list_filter([3, 5, 6], z -> z <= len(event_type))) AS BIGINT) AS len_bucket,
          |  CAST(CASE WHEN event_type = 'click' THEN NULL ELSE MAX(greatest(value, 0.0)) END
          |       AS DOUBLE) AS g_max,
          |  CAST(trunc(-7 * COUNT(*) / 2.0) AS BIGINT) AS d_neg,
          |  CAST('infinity' AS DOUBLE) AS inf_div,
          |  array_to_string(list_slice(string_split(event_type || '|x.y|z', '|'), 2,
          |             len(string_split(event_type || '|x.y|z', '|'))), '/') AS mid_parts,
          |  array_to_string(list_slice(string_split(event_type || '|x.y|z', '|'),
          |             len(string_split(event_type || '|x.y|z', '|')) - 1,
          |             len(string_split(event_type || '|x.y|z', '|'))), '/') AS tail_parts
          |FROM e GROUP BY event_type ORDER BY event_type""".stripMargin,
      // the star-modifier face replays as the explicit projection the
      // modifiers denote — column set and replacement values, not text
      "q_star_replace" ->
        """SELECT o_orderkey, o_orderstatus, o_orderdate,
          |       o_totalprice / 100 AS o_totalprice,
          |       upper(o_orderpriority) AS o_orderpriority
          |FROM orders WHERE o_orderkey % 97 = 0 ORDER BY o_orderkey""".stripMargin,
      // the date spine replays with DuckDB's generate_series; the
      // decimal day-sum keeps fold order out of the bytes
      "q_date_spine" ->
        """WITH e AS (SELECT CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE) AS day,
          |                  event_type, value FROM events),
          |bounds AS (SELECT MIN(day) AS lo, MAX(day) AS hi FROM e),
          |spine AS (SELECT CAST(unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS DATE) AS day
          |          FROM bounds),
          |daily AS (SELECT day, event_type, COUNT(*) AS n_day,
          |                 SUM(CAST(value AS DECIMAL(30,6))) AS v_day
          |          FROM e GROUP BY 1, 2),
          |types AS (SELECT DISTINCT event_type FROM e),
          |frac AS (
          |  -- the fractional-array replay: count fixed up front
          |  -- (floor((2.0-0.0)/0.25)+1 = 9), values by multiplication —
          |  -- exactly the engine's transform route
          |  SELECT CAST(SUM(x) AS DOUBLE) AS frac_sum, COUNT(*) AS frac_n
          |  FROM (SELECT CAST(i AS DOUBLE) * 0.25 AS x FROM range(0, 9) t(i)))
          |SELECT s.day, t.event_type,
          |       CAST(COALESCE(d.n_day, 0) AS BIGINT) AS n,
          |       CAST(COALESCE(d.v_day, 0) AS DOUBLE) AS v_sum,
          |       f.frac_sum, f.frac_n
          |FROM spine s CROSS JOIN types t CROSS JOIN frac f
          |LEFT JOIN daily d ON d.day = s.day AND d.event_type = t.event_type
          |ORDER BY s.day, t.event_type""".stripMargin,
      // the REFERENCE Fingerprint64 values (Guava
      // farmHashFingerprint64 — the open-source algorithm BigQuery
      // documents; TypedSqlSpec re-derives these from Guava live, so
      // the pinned literals are independently cross-checked);
      // bucket arithmetic replays from the pinned fingerprints
      "q_farm_fingerprint" ->
        """WITH v(s, fp) AS (VALUES
          |  ('abc', 2640714258260161385),
          |  ('', -7286425919675154353),
          |  ('a', -5528939962900187677),
          |  ('graft', -831107398998670908),
          |  ('hello world', 6381520714923946011),
          |  ('id-42', -8959445132017521126),
          |  ('The quick brown fox jumps over the lazy dog', -6071270166956912332),
          |  ('order-12345', 6656919207343779712),
          |  ('0123456789', -5979335251732609813),
          |  ('FX 2024-03-01 USD/EUR', 5312668255136597833))
          |SELECT s, CAST(fp AS BIGINT) AS fp,
          |       CAST(abs(fp) % 8 AS BIGINT) AS b,
          |       CAST(((fp % 7) + 7) % 7 AS BIGINT) AS hb
          |FROM v ORDER BY s""".stripMargin,
      // eviction-regime guarantee-as-data: the oracle recomputes the
      // heavy hitters' exact sums and expects the sketch theorems
      // (presence / est-bounds / top-3) as literal TRUE
      "q_approx_top_sum" ->
        """WITH src AS (
          |  SELECT CAST(user_id AS VARCHAR) AS u,
          |         CASE WHEN user_id IN (1, 2, 3) THEN 5000
          |              ELSE event_id % 97 END AS w
          |  FROM events)
          |SELECT u AS user_id, CAST(SUM(w) AS BIGINT) AS true_sum,
          |       TRUE AS in_sketch, TRUE AS bounds_ok, TRUE AS in_top3
          |FROM src WHERE u IN ('1', '2', '3')
          |GROUP BY u ORDER BY u""".stripMargin,
      // the exact-regime top-sum IS the group-sum top-k, rank included
      "q_top_sum_exact" ->
        """WITH s AS (
          |  SELECT CAST(user_id AS VARCHAR) AS user_id,
          |         CAST(SUM(CAST(event_id % 97 AS BIGINT)) AS BIGINT) AS w_sum
          |  FROM events GROUP BY 1)
          |SELECT CAST(row_number() OVER (ORDER BY w_sum DESC, user_id) AS INT) AS rank,
          |       user_id, w_sum
          |FROM s ORDER BY w_sum DESC, user_id LIMIT 20""".stripMargin,
      // n-grams replay as DuckDB list comprehensions in the same
      // n-order (bigrams then trigrams); inclusive 1-based slices
      "q_ml_ngrams" ->
        """WITH t AS (
          |  SELECT doc_id, regexp_extract_all(lower(trim(text)), '[^\s]+') AS toks
          |  FROM documents),
          |g AS (SELECT doc_id, list_concat(
          |  [array_to_string(toks[CAST(i AS INT):CAST(i + 1 AS INT)], '_')
          |     FOR i IN range(1, len(toks))],
          |  [array_to_string(toks[CAST(i AS INT):CAST(i + 2 AS INT)], '_')
          |     FOR i IN range(1, len(toks) - 1)]) AS grams FROM t)
          |SELECT doc_id, CAST(len(grams) AS BIGINT) AS n_grams,
          |       CAST(len(list_distinct(grams)) AS BIGINT) AS n_distinct,
          |       grams[1] AS first_bigram
          |FROM g ORDER BY doc_id""".stripMargin,
      // the min-max replay spells the scaler expansion's exact formula
      // (same CASE, same CAST discipline) as explicit DuckDB windows
      "q_ml_minmax" ->
        """WITH sc AS (
          |  SELECT event_type,
          |    CASE WHEN MAX(value) OVER w = MIN(value) OVER w THEN 0.5
          |         ELSE (CAST(value AS DOUBLE) - CAST(MIN(value) OVER w AS DOUBLE)) /
          |              (CAST(MAX(value) OVER w AS DOUBLE) - CAST(MIN(value) OVER w AS DOUBLE))
          |    END AS x,
          |         concat('bin_', CAST(len(list_filter([10.0, 50.0, 100.0],
          |                                             p -> value >= p)) + 1 AS VARCHAR)) AS sbin
          |  FROM events WINDOW w AS (PARTITION BY event_type))
          |SELECT event_type, CAST(floor(x * 10) AS BIGINT) AS bucket, sbin, COUNT(*) AS n
          |FROM sc GROUP BY event_type, bucket, sbin
          |ORDER BY event_type, bucket, sbin""".stripMargin,
      // constructor outputs reconstruct by concatenation too —
      // including the canonicalization's whitespace collapse
      "q_json_object" ->
        """WITH src AS (
          |  SELECT event_id, event_type, event_id % 5 AS a, event_id % 3 AS t3
          |  FROM events WHERE event_id < 50)
          |SELECT event_id,
          |  '{"id":' || event_id || ',"type":"' || event_type || '","a":' || a || '}' AS obj,
          |  '[' || event_id || ',"' || event_type || '",' ||
          |    CASE WHEN a % 2 = 0 THEN 'true' ELSE 'false' END || ']' AS arr,
          |  '{"k":' || a || ',"t":[1,' || t3 || ']}' AS canon,
          |  '{"x":' || a || ',"y":{"z":"' || event_type || '"}}' AS composed
          |FROM src ORDER BY event_id""".stripMargin,
      // the mutator outputs reconstruct by string concatenation —
      // compact insertion-ordered serialization is the pinned contract
      "q_json_set" ->
        """WITH src AS (
          |  SELECT event_id, event_id % 5 AS a, event_id % 3 AS t,
          |         event_id % 7 AS s7, event_id % 2 AS s2
          |  FROM events WHERE event_id < 50)
          |SELECT event_id,
          |  '{"a":' || s7 || ',"b":null,"tags":[' || t || ']}' AS set_scalar,
          |  '{"a":' || a || ',"b":null,"tags":[' || t || '],"c":{"d":"x"}}' AS set_nested,
          |  '{"a":' || a || ',"tags":[' || t || ']}' AS removed,
          |  '{"a":' || a || ',"b":null,"tags":[' || t || ',' || s2 || ']}' AS appended,
          |  '{"a":' || a || ',"tags":[' || t || ']}' AS stripped,
          |  '{"a":' || a || ',"b":null,"tags":[' || t || '],"z":' || s2 || '}' AS inserted,
          |  '{"a":' || s7 || ',"b":null,"tags":[' || t || ']}' AS replaced,
          |  '{"a":' || a || ',"b":null,"tags":[' || s2 || ',' || t || ']}' AS arr_ins,
          |  CASE WHEN event_id % 2 = 0 THEN 'object' ELSE 'array' END AS jtype
          |FROM src ORDER BY event_id""".stripMargin,
      // JSON_VALUE/JSON_QUERY replay on DuckDB's json functions; the
      // json_type guard reproduces the non-scalar → NULL rule
      "q_json_value" ->
        """WITH p AS (
          |  SELECT concat('{"t":"', event_type, '","k":', json_extract_string(props, '$.k'),
          |                ',"o":{"c":', CAST(event_id % 7 AS VARCHAR), '},"z":null}') AS j
          |  FROM events)
          |SELECT COUNT(*) AS n,
          |  COUNT(json_extract_string(j, '$.t')) AS t_n,
          |  MIN(json_extract_string(j, '$.t')) AS t_min,
          |  CAST(SUM(CAST(json_extract_string(j, '$.k') AS BIGINT)) AS BIGINT) AS k_sum,
          |  MIN(CAST(json_extract(j, '$.t') AS VARCHAR)) AS t_q_min,
          |  COUNT(CASE WHEN json_type(json_extract(j, '$.o')) IN ('OBJECT', 'ARRAY')
          |             THEN NULL ELSE json_extract_string(j, '$.o') END) AS o_scalar_n,
          |  COUNT(CAST(json_extract(j, '$.o') AS VARCHAR)) AS o_query_n,
          |  MAX(CAST(json_extract(j, '$.o') AS VARCHAR)) AS o_max,
          |  COUNT(json_extract_string(j, '$.z')) AS z_n,
          |  -- DuckDB reads a JSON null as SQL NULL; the engine's
          |  -- JSON_QUERY returns the TEXT 'null' (BigQuery's rule)
          |  MIN(CASE WHEN json_type(j, '$.z') = 'NULL' THEN 'null'
          |           ELSE CAST(json_extract(j, '$.z') AS VARCHAR) END) AS z_text,
          |  COUNT(json_extract_string(j, '$.missing')) AS m_n
          |FROM p""".stripMargin,
      // the LAX face replays the pinned coercion table INLINE (DuckDB
      // has no LAX_*): same guard, same unwrap, same bool/round rules
      "q_json_lax" ->
        """WITH v AS (
          |  SELECT CASE CAST(event_id % 6 AS INT)
          |    WHEN 0 THEN json_extract_string(props, '$.k')
          |    WHEN 1 THEN concat('"', json_extract_string(props, '$.k'), '"')
          |    WHEN 2 THEN '1.5'
          |    WHEN 3 THEN 'true'
          |    WHEN 4 THEN '{"o":1}'
          |    ELSE 'null' END AS j
          |  FROM events),
          |q AS (SELECT trim(j) AS a,
          |             CASE WHEN trim(j) LIKE '"%"'
          |                  THEN substring(trim(j), 2, length(trim(j)) - 2)
          |                  ELSE trim(j) END AS u FROM v),
          |c AS (SELECT
          |  (a IS NULL OR a = '' OR lower(a) = 'null' OR left(a, 1) IN ('{', '[')) AS bad,
          |  u FROM q),
          |x AS (SELECT
          |  CASE WHEN bad THEN NULL ELSE COALESCE(
          |    CASE WHEN lower(u) = 'true' THEN 1 WHEN lower(u) = 'false' THEN 0 END,
          |    try_cast(u AS BIGINT),
          |    CAST(round(try_cast(u AS DOUBLE)) AS BIGINT)) END AS i,
          |  CASE WHEN bad THEN NULL ELSE try_cast(u AS DOUBLE) END AS f,
          |  CASE WHEN bad THEN NULL ELSE
          |    (CASE WHEN lower(u) = 'true' THEN true WHEN lower(u) = 'false' THEN false
          |          WHEN try_cast(u AS DOUBLE) IS NOT NULL THEN try_cast(u AS DOUBLE) <> 0 END)
          |  END AS b,
          |  CASE WHEN bad THEN NULL ELSE u END AS s
          |FROM c)
          |SELECT COUNT(*) AS n,
          |  CAST(SUM(i) AS BIGINT) AS i_sum, COUNT(i) AS i_n,
          |  CAST(SUM(CAST(f AS DECIMAL(30,6))) AS DOUBLE) AS f_sum, COUNT(f) AS f_n,
          |  CAST(SUM(CASE WHEN b THEN 1 ELSE 0 END) AS BIGINT) AS b_true, COUNT(b) AS b_n,
          |  COUNT(s) AS s_n, MIN(s) AS s_min
          |FROM x""".stripMargin,
      // JSON_KEYS expectations are LITERALS per constant payload shape
      // (hand-derived from the documented enumeration rule — strict
      // recurses objects only, lax unwraps one array level, lax
      // recursive any, non-identifier keys double-quote, paths sort);
      // accessor semantics replay as plain casts on the pinned variants
      "q_json_keys" ->
        """WITH v AS (
          |  SELECT CAST(event_id % 5 AS INT) AS m, CAST(event_id % 6 AS INT) AS sm,
          |         json_extract_string(props, '$.k') AS kv
          |  FROM events),
          |p AS (SELECT m, sm,
          |  CASE sm WHEN 0 THEN kv WHEN 1 THEN '10.0' WHEN 2 THEN 'true'
          |          WHEN 3 THEN '"hi"' WHEN 4 THEN '1.5' ELSE 'null' END AS sj
          |  FROM v)
          |SELECT COUNT(*) AS n,
          |  CAST(SUM(CASE m WHEN 0 THEN 3 WHEN 1 THEN 2 WHEN 2 THEN 2 WHEN 3 THEN 2 ELSE 3 END) AS BIGINT) AS k_strict_n,
          |  CAST(SUM(CASE m WHEN 0 THEN 2 WHEN 1 THEN 2 WHEN 2 THEN 2 WHEN 3 THEN 2 ELSE 1 END) AS BIGINT) AS k_d1_n,
          |  CAST(SUM(CASE m WHEN 0 THEN 3 WHEN 1 THEN 3 WHEN 2 THEN 2 WHEN 3 THEN 2 ELSE 3 END) AS BIGINT) AS k_lax_n,
          |  CAST(SUM(CASE m WHEN 0 THEN 3 WHEN 1 THEN 3 WHEN 2 THEN 2 WHEN 3 THEN 3 ELSE 3 END) AS BIGINT) AS k_laxr_n,
          |  MIN(CASE m WHEN 0 THEN 'a,b,b.c' WHEN 1 THEN 'a,b' WHEN 2 THEN '"a.b",z'
          |             WHEN 3 THEN 'a,s' ELSE 'n,n.m,n.m.q' END) AS k_min_path,
          |  MAX(CASE m WHEN 0 THEN 'a,b,b.c' WHEN 1 THEN 'a,a.x,b' WHEN 2 THEN '"a.b",z'
          |             WHEN 3 THEN 'a,a.deep,s' ELSE 'n,n.m,n.m.q' END) AS k_max_path,
          |  CAST(SUM(CASE WHEN sm = 0 THEN CAST(sj AS BIGINT) WHEN sm = 1 THEN 10 END) AS BIGINT) AS i_sum,
          |  COUNT(CASE WHEN sm IN (0, 1) THEN 1 END) AS i_n,
          |  CAST(SUM(CASE WHEN sm = 0 THEN CAST(sj AS DECIMAL(30,6)) WHEN sm = 1 THEN 10.0 WHEN sm = 4 THEN 1.5 END) AS DOUBLE) AS f_sum,
          |  COUNT(CASE WHEN sm IN (0, 1, 4) THEN 1 END) AS f_n,
          |  CAST(SUM(CASE WHEN sm = 2 THEN 1 ELSE 0 END) AS BIGINT) AS b_true,
          |  COUNT(CASE WHEN sm = 2 THEN 1 END) AS b_n,
          |  MIN(CASE WHEN sm = 3 THEN 'hi' END) AS s_min,
          |  COUNT(CASE WHEN sm = 3 THEN 1 END) AS s_n
          |FROM p""".stripMargin,
      // the JSON array face replays with DuckDB's own json functions:
      // json_extract pulls the array, json_transform types it, unnest
      // fans it out — numeric elements, so values hash bit-for-bit
      "q_json_array" ->
        """WITH payload AS (
          |  SELECT event_type,
          |         CONCAT('{"ks": [', CAST(k AS VARCHAR), ', ', CAST(k * 2 AS VARCHAR),
          |                ', ', CAST(k % 5 AS VARCHAR), ']}') AS j
          |  FROM (SELECT event_type,
          |               CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
          |        FROM events)),
          |elems AS (
          |  SELECT event_type,
          |         unnest(json_transform(json_extract(j, '$.ks'), '["BIGINT"]')) AS e
          |  FROM payload)
          |SELECT event_type, COUNT(*) AS n_elems,
          |       CAST(SUM(e) AS BIGINT) AS e_sum, MIN(e) AS e_min, MAX(e) AS e_max
          |FROM elems GROUP BY event_type ORDER BY event_type""".stripMargin,
      "fx_ohlc" ->
        """WITH e AS (SELECT CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE) AS day,
          |             event_type, value,
          |             epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us, event_id
          |           FROM events),
          |r AS (SELECT *,
          |        row_number() OVER (PARTITION BY day, event_type ORDER BY ts_us, event_id) AS rn_a,
          |        row_number() OVER (PARTITION BY day, event_type ORDER BY ts_us DESC, event_id DESC) AS rn_d
          |      FROM e)
          |SELECT day, event_type,
          |  MAX(CASE WHEN rn_a = 1 THEN value END) AS open,
          |  MAX(CASE WHEN rn_d = 1 THEN value END) AS close,
          |  MIN(value) AS low, MAX(value) AS high, COUNT(*) AS n
          |FROM r GROUP BY day, event_type ORDER BY day, event_type""".stripMargin,
      // window percentiles are per-partition constants, so the group
      // aggregate replays them; exact at power-of-two fractions over
      // integer-valued doubles
      "q_percentile_window" ->
        """SELECT event_type,
          |       quantile_cont(v, 0.25) AS p25,
          |       quantile_disc(v, 0.5) AS p50_disc,
          |       COUNT(*) AS n
          |FROM (SELECT event_type, CAST(user_id % 101 AS DOUBLE) AS v FROM events)
          |GROUP BY event_type ORDER BY event_type""".stripMargin,
      // the crossed key replays as concat(et, '_', vb); the monomials
      // as exact integer products summed through DECIMAL
      "q_ml_feature_cross" ->
        """WITH b AS (
          |  SELECT concat(event_type, '_', CAST(user_id % 3 AS VARCHAR)) AS cross_key,
          |         (user_id % 7) * (user_id % 7) AS vv,
          |         (user_id % 7) * (user_id % 5) AS vw,
          |         (user_id % 5) * (user_id % 5) AS ww
          |  FROM events)
          |SELECT cross_key, COUNT(*) AS n,
          |       CAST(SUM(CAST(vv AS DECIMAL(38,10))) AS DOUBLE) AS vv_sum,
          |       CAST(SUM(CAST(vw AS DECIMAL(38,10))) AS DOUBLE) AS vw_sum,
          |       CAST(MAX(ww) AS BIGINT) AS ww_max
          |FROM b GROUP BY cross_key ORDER BY cross_key""".stripMargin,
      // the alphabetical vocabulary replays as the identical
      // dense_rank; the one-hot element folds are the code and the
      // row count
      "q_ml_label_encode" ->
        """WITH enc AS (
          |  SELECT event_type, DENSE_RANK() OVER (ORDER BY event_type) AS code
          |  FROM events)
          |SELECT code, event_type, COUNT(*) AS n,
          |       CAST(SUM(code) AS BIGINT) AS oh_index_sum,
          |       COUNT(*) AS oh_value_sum,
          |       CAST(1 AS BIGINT) AS oh_len
          |FROM enc GROUP BY code, event_type ORDER BY code""".stripMargin,
      // code points replay as plain arithmetic (the built string's
      // points ARE id-derived), bytes via printf, CHR via DuckDB's
      // own chr, INITCAP as ucfirst substring algebra (the event
      // types are single lowercase words)
      "q_codepoints" ->
        """WITH b AS (
          |  SELECT user_id, event_type, 97 + user_id % 26 AS cp1 FROM events)
          |SELECT CAST(cp1 AS BIGINT) AS first_cp,
          |       COUNT(*) AS n,
          |       CAST(COUNT(*) * 3 AS BIGINT) AS cps_sum,
          |       CAST(SUM(cp1) AS BIGINT) AS ascii_sum,
          |       MIN(chr(CAST(65 + user_id % 26 AS INT))) AS chr_min,
          |       MAX(printf('%02x%02x', user_id % 256, (user_id * 3) % 256)) AS bhex_max,
          |       MIN(concat(upper(substr(event_type, 1, 1)), substr(event_type, 2), '-',
          |                  upper(substr(event_type, 1, 1)), substr(event_type, 2))) AS ic_min
          |FROM b GROUP BY cp1 ORDER BY first_cp""".stripMargin,
      // the decimal parse replays as DuckDB's own cast (exponent
      // form, exact at scale 9); the SAFE leg via try_cast. Both
      // sides render through the scale-9 textual form — DECIMAL is
      // not carrier-stable across the two parquet writers (round-13
      // hash miss)
      "q_parse_numeric" ->
        """WITH b AS (
          |  SELECT CAST(user_id AS VARCHAR) || '.' ||
          |         CAST(user_id * 7 % 10 AS VARCHAR) || '5e2' AS str
          |  FROM events)
          |SELECT CAST(CAST(str AS DECIMAL(38,9)) AS VARCHAR) AS v,
          |       CAST(TRY_CAST(str || 'x' AS DECIMAL(38,9)) AS VARCHAR) AS bad,
          |       COUNT(*) AS n
          |FROM b GROUP BY 1, 2 ORDER BY v""".stripMargin,
      // DuckDB's replacement dialect IS RE2 backrefs — the BigQuery
      // spelling runs nearly verbatim (plus the 'g' flag; BigQuery
      // and Spark replace globally by default)
      "q_regexp_backref" ->
        """SELECT regexp_replace(event_type, '([aeiou])', '<\1>', 'g') AS marked,
          |       regexp_replace(event_type || CAST(user_id % 100 AS VARCHAR),
          |                      '([0-9]+)', '$\1', 'g') AS priced,
          |       array_to_string(
          |         regexp_extract_all(event_type || '-' || event_type, '[a-z]+'), '|') AS toks,
          |       COUNT(*) AS n
          |FROM events
          |GROUP BY marked, priced, toks ORDER BY marked, priced""".stripMargin,
      // epoch conversions replay as epoch_us integer arithmetic; the
      // truncating second/milli folds divide exactly
      "q_epoch_fns" ->
        """WITH b AS (
          |  SELECT CAST(ts AS DATE) AS d2,
          |         epoch_us(CAST(ts AS TIMESTAMP)) AS us
          |  FROM events)
          |SELECT d2, COUNT(*) AS n,
          |       MIN(us) AS us_min, MAX(us // 1000) AS ms_max,
          |       CAST(SUM(us % 86400000000) AS BIGINT) AS us_day_sum,
          |       CAST(SUM((us // 1000000) % 86400) AS BIGINT) AS sec_day_sum,
          |       MIN(make_timestamp(us - us % 1000000)) AS tsec_min,
          |       MAX(make_timestamp((us // 1000) * 1000)) AS tms_max,
          |       MIN(CAST(datediff('day', DATE '1970-01-01', d2) AS BIGINT)) AS ud_min
          |FROM b GROUP BY d2 ORDER BY d2""".stripMargin,
      // every base32 character re-derived from first principles:
      // the 24 payload bits split into five 5-bit groups by integer
      // shifts, each indexing the RFC 4648 alphabet; '===' padding
      // is the 3-byte block's fixed tail
      "q_base32" ->
        """WITH b AS (
          |  SELECT user_id % 256 AS b1, user_id * 7 % 256 AS b2,
          |         user_id * 13 % 256 AS b3, user_id
          |  FROM events),
          |e AS (
          |  SELECT user_id, b1, b2, b3,
          |         substr('ABCDEFGHIJKLMNOPQRSTUVWXYZ234567', CAST(b1 // 8 AS INT) + 1, 1) ||
          |         substr('ABCDEFGHIJKLMNOPQRSTUVWXYZ234567', CAST((b1 % 8) * 4 + b2 // 64 AS INT) + 1, 1) ||
          |         substr('ABCDEFGHIJKLMNOPQRSTUVWXYZ234567', CAST((b2 // 2) % 32 AS INT) + 1, 1) ||
          |         substr('ABCDEFGHIJKLMNOPQRSTUVWXYZ234567', CAST((b2 % 2) * 16 + b3 // 16 AS INT) + 1, 1) ||
          |         substr('ABCDEFGHIJKLMNOPQRSTUVWXYZ234567', CAST((b3 % 16) * 2 AS INT) + 1, 1) ||
          |         '===' AS b32
          |  FROM b)
          |SELECT b32, COUNT(*) AS n,
          |       MIN(printf('%02x%02x%02x', b1, b2, b3)) AS rt_hex,
          |       MIN(chr(CAST(65 + user_id % 26 AS INT))) AS s_ok,
          |       COUNT(*) AS n_bad
          |FROM e GROUP BY b32 ORDER BY b32""".stripMargin,
      // the LOG_ANALYZER tokenization replays as the identical
      // lowercase non-[a-z0-9] regex split; the NO_OP leg is the
      // constant 1
      "q_text_analyze" ->
        """WITH t AS (
          |  SELECT doc_id,
          |         unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
          |                            x -> x <> '')) AS token
          |  FROM documents)
          |SELECT token, COUNT(*) AS n, COUNT(DISTINCT doc_id) AS df,
          |       CAST(1 AS BIGINT) AS noop_len
          |FROM t GROUP BY token HAVING COUNT(*) >= 20 ORDER BY token""".stripMargin,
      // justification replays as truncating integer division (24-hour
      // and 30-day rolls) through printf; the timestamp arithmetic as
      // sequential month/day/hour adds (same clamp order)
      "q_interval_ops" ->
        """WITH iv AS (
          |  SELECT o_orderkey % 25 AS m, o_orderkey % 40 AS d, o_orderkey % 30 AS h,
          |         CAST(o_orderdate AS TIMESTAMP) AS ts
          |  FROM orders),
          |j AS (
          |  SELECT printf('%d-%d %d %d:%d:%d',
          |                (m + (d + h // 24) // 30) // 12,
          |                (m + (d + h // 24) // 30) % 12,
          |                (d + h // 24) % 30, h % 24, 0, 0) AS jtxt,
          |         (m + d // 30) % 12 AS jm,
          |         ts + to_months(CAST(m AS INT)) + to_days(CAST(d AS INT))
          |            + to_hours(CAST(h AS INT)) AS ts2
          |  FROM iv)
          |SELECT jtxt, COUNT(*) AS n, CAST(SUM(jm) AS BIGINT) AS jm_sum,
          |       MIN(ts2) AS ts_min, MAX(ts2) AS ts_max,
          |       MAX('1-2 3 4:5:6.5') AS lit
          |FROM j GROUP BY jtxt ORDER BY jtxt""".stripMargin,
      // time-of-day replays as exact micros-of-day integer folds
      // rendered through printf (epoch_us % 86400000000)
      "q_time_ops" ->
        """WITH b AS (SELECT epoch_us(CAST(ts AS TIMESTAMP)) % 86400000000 AS m,
          |                  user_id, event_id, CAST(ts AS TIMESTAMP) AS tts FROM events),
          |c AS (SELECT *, (m + 5400000000) % 86400000000 AS m2 FROM b)
          |SELECT printf('%02d:00:00', m // 3600000000) AS hr,
          |       COUNT(*) AS n,
          |       CAST(SUM(m // 1000000) AS BIGINT) AS sec_sum,
          |       MIN(printf('%02d:%02d:%02d', m // 3600000000,
          |                  (m % 3600000000) // 60000000, (m % 60000000) // 1000000)) AS t_min,
          |       MAX(printf('%02d:%02d:%02d', m2 // 3600000000,
          |                  (m2 % 3600000000) // 60000000, (m2 % 60000000) // 1000000)) AS t_add_max,
          |       MIN(make_timestamp(2024, 3, CAST(user_id % 28 + 1 AS BIGINT),
          |                          CAST(event_id % 24 AS BIGINT), CAST(user_id % 60 AS BIGINT),
          |                          CAST(event_id % 60 AS DOUBLE))) AS dt6_min,
          |       MAX(printf('%02d:%02d:%02d', event_id % 24, user_id % 60, event_id % 60)) AS t3_max,
          |       MIN(CAST(CAST(tts AS DATE) AS TIMESTAMP)) AS day_start
          |FROM c GROUP BY hr ORDER BY hr""".stripMargin,
      // printf bytes replay via DuckDB's C-style printf; LAST_DAY
      // parts via last_day + month/year arithmetic
      "q_format" ->
        """SELECT printf('ev-%06d:%s', user_id, event_type) AS tag,
          |       printf('%x|%5d', user_id, user_id % 97) AS codes,
          |       last_day(CAST(ts AS DATE)) AS mend,
          |       last_day(CAST(date_trunc('quarter', CAST(ts AS DATE)) + to_months(2) AS DATE)) AS qend,
          |       make_date(CAST(EXTRACT(YEAR FROM ts) AS INT), 12, 31) AS yend,
          |       COUNT(*) AS n
          |FROM events
          |GROUP BY tag, codes, mend, qend, yend
          |ORDER BY tag, codes, mend""".stripMargin,
      // every NET.IP_* byte replays as integer arithmetic: the /20
      // network via % 4096, variable-prefix truncation via 1<<(32-p),
      // masks via printf('%08x'); the IPv6 constants are hand-derived
      // RFC 5952 literals
      "q_net_ip" ->
        """WITH ips AS (
          |  SELECT ((user_id % 223 + 1) * 16777216 + (user_id * 7 % 256) * 65536
          |          + (user_id * 13 % 256) * 256 + (user_id * 31 % 256)) AS ip,
          |         user_id % 33 AS p
          |  FROM events),
          |t AS (SELECT ip, p, ip - ip % 4096 AS t20 FROM ips)
          |SELECT printf('%d.%d.%d.%d', t20 // 16777216, (t20 // 65536) % 256,
          |              (t20 // 256) % 256, t20 % 256) AS net20,
          |       COUNT(*) AS n,
          |       CAST(SUM(ip) AS BIGINT) AS ip_sum,
          |       CAST(SUM(ip - ip % (CAST(1 AS BIGINT) << CAST(32 - p AS INT))) AS BIGINT) AS masked_sum,
          |       MIN(printf('%08x', 4294967295 - ((CAST(1 AS BIGINT) << CAST(32 - p AS INT)) - 1))) AS mask_min,
          |       COUNT(*) AS n_bad,
          |       MAX('2001:db8::1:0:0:1') AS v6canon,
          |       MAX('20010db8abcd12000000000000000000') AS v6trunc
          |FROM t GROUP BY net20 ORDER BY net20""".stripMargin,
      // range predicates replay as plain half-open date comparisons;
      // the split count is ceil(width/7) — all-integer
      "q_range_type" ->
        """WITH r AS (
          |  SELECT CAST(o_orderdate AS DATE) AS s,
          |         CAST(o_orderdate AS DATE) + CAST(o_orderkey % 28 + 7 AS INT) AS e
          |  FROM orders)
          |SELECT COUNT(*) AS n,
          |  CAST(SUM(CASE WHEN DATE '1995-06-15' >= s AND DATE '1995-06-15' < e THEN 1 ELSE 0 END) AS BIGINT) AS n_contains,
          |  CAST(SUM(CASE WHEN s < DATE '1996-01-01' AND DATE '1995-01-01' < e THEN 1 ELSE 0 END) AS BIGINT) AS n_overlap,
          |  CAST(SUM(CAST(ceil((e - s) / 7.0) AS BIGINT)) AS BIGINT) AS n_subranges,
          |  MIN(s) AS min_start, MAX(e) AS max_end
          |FROM r""".stripMargin,
      // the sessionization replays as the textbook two-window island
      // detection (running max-end over the same (start, end) sort),
      // the session extents as min/max per island, and the 1995 clamp
      // as greatest/least date arithmetic
      "sql_range_sessionize" ->
        """WITH r AS (
          |  SELECT o_custkey, CAST(o_orderdate AS DATE) AS s,
          |         CAST(o_orderdate AS DATE) + CAST(o_orderkey % 45 + 5 AS INT) AS e
          |  FROM orders),
          |o AS (
          |  SELECT o_custkey, s, e,
          |         MAX(e) OVER (PARTITION BY o_custkey ORDER BY s, e
          |                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax
          |  FROM r),
          |g AS (
          |  SELECT o_custkey, s, e,
          |         SUM(CASE WHEN pmax IS NULL OR s > pmax THEN 1 ELSE 0 END)
          |           OVER (PARTITION BY o_custkey ORDER BY s, e
          |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
          |  FROM o),
          |per AS (
          |  SELECT o_custkey, sid, MIN(s) AS ss, MAX(e) AS se, COUNT(*) AS n_in
          |  FROM g GROUP BY o_custkey, sid)
          |SELECT o_custkey % 8 AS cb,
          |       COUNT(*) AS n_sessions,
          |       CAST(SUM(n_in) AS BIGINT) AS n_rows,
          |       CAST(SUM(se - ss) AS BIGINT) AS covered_days,
          |       CAST(SUM(CASE WHEN ss < DATE '1996-01-01' AND DATE '1995-01-01' < se
          |         THEN least(se, DATE '1996-01-01') - greatest(ss, DATE '1995-01-01')
          |         ELSE 0 END) AS BIGINT) AS days_in_1995,
          |       MIN(ss) AS min_start, MAX(se) AS max_end
          |FROM per GROUP BY cb ORDER BY cb""".stripMargin,
      // bucket starts replay as the identical exact integer folds:
      // date buckets via datediff + ((x % n) + n) % n (floor pmod),
      // month buckets via month-number arithmetic, the micros path
      // via epoch_us + make_timestamp
      "q_date_bucket" ->
        """WITH b AS (
          |  SELECT
          |    od - CAST(((datediff('day', DATE '1950-01-01', od) % 7 + 7) % 7) AS INT) AS wk,
          |    CAST(DATE '1992-01-01' + to_months(CAST(m - ((m % 3 + 3) % 3) AS INT)) AS DATE) AS qtr,
          |    make_timestamp(eu - ((eu - e0) % 129600000000 + 129600000000) % 129600000000) AS tb
          |  FROM (SELECT CAST(o_orderdate AS DATE) AS od,
          |          (EXTRACT(YEAR FROM o_orderdate) * 12 + EXTRACT(MONTH FROM o_orderdate))
          |            - (1992 * 12 + 1) AS m,
          |          epoch_us(CAST(o_orderdate AS TIMESTAMP)) AS eu,
          |          epoch_us(TIMESTAMP '1950-01-01 00:00:00') AS e0
          |        FROM orders))
          |SELECT wk, qtr, tb, COUNT(*) AS n FROM b
          |GROUP BY wk, qtr, tb ORDER BY wk, qtr, tb""".stripMargin,
      // bq_week/bq_week_thu replay BigQuery's boundary count: week 0
      // before the year's first <weekday>, else 1 + full weeks since
      // it (DuckDB dayofweek: Sunday=0..Saturday=6; date-date = days)
      "q_date_ops" ->
        """WITH e AS (SELECT event_id, CAST(ts AS TIMESTAMP) AS ts FROM events),
          |w AS (SELECT event_id, ts, CAST(ts AS DATE) AS d,
          |             make_date(EXTRACT(YEAR FROM ts), 1, 1) AS jan1 FROM e),
          |w2 AS (SELECT *,
          |         jan1 + CAST((0 - dayofweek(jan1) + 7) % 7 AS INTEGER) AS first_sun,
          |         jan1 + CAST((4 - dayofweek(jan1) + 7) % 7 AS INTEGER) AS first_thu FROM w)
          |SELECT event_id,
          |  EXTRACT(YEAR FROM ts) AS y,
          |  EXTRACT(MONTH FROM ts) AS m,
          |  EXTRACT(DOW FROM ts) + 1 AS dow,
          |  EXTRACT(WEEK FROM ts) AS iso_week,
          |  CASE WHEN d < first_sun THEN 0 ELSE (d - first_sun) // 7 + 1 END AS bq_week,
          |  CASE WHEN d < first_thu THEN 0 ELSE (d - first_thu) // 7 + 1 END AS bq_week_thu,
          |  strftime(ts, '%Y-%m-%d') AS day_str,
          |  datediff('day', d, DATE '2025-01-01') AS days_to_2025,
          |  d + 30 AS plus30
          |FROM w2 ORDER BY event_id""".stripMargin,
      // the tz-argument forms replay as DuckDB's two-step AT TIME ZONE
      // chain: timezone('UTC', naive) lifts the UTC-instant carrier to
      // timestamptz, timezone(tz, tstz) renders the zone's wall clock,
      // and the mirrored pair reads a civil time back to the instant —
      // ICU's tzdata rules agree with java.time on every named zone
      "q_tz_ops" ->
        """WITH e AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts FROM events),
          |b AS (SELECT event_id, ts + to_days(CAST(user_id % 120 AS INTEGER)) AS t FROM e)
          |SELECT event_id,
          |  timezone('UTC', timezone('Europe/Paris', date_trunc('day',
          |    timezone('Europe/Paris', timezone('UTC', t))))) AS day_paris,
          |  timezone('UTC', timezone('America/Lima', date_trunc('day',
          |    timezone('America/Lima', timezone('UTC', t))))) AS day_lima,
          |  timezone('UTC', timezone('Asia/Kathmandu', date_trunc('hour',
          |    timezone('Asia/Kathmandu', timezone('UTC', t))))) AS hour_ktm,
          |  CAST(timezone('Asia/Tokyo', timezone('UTC', t)) AS DATE) AS d_tokyo,
          |  strftime(timezone('Europe/Paris', timezone('UTC', t)), '%Y-%m-%d %H:%M') AS fmt_paris,
          |  timezone('UTC', timezone('Europe/Paris', strptime(
          |    strftime(timezone('Europe/Paris', timezone('UTC', t)), '%Y-%m-%d %H:%M'),
          |    '%Y-%m-%d %H:%M'))) AS rt_paris,
          |  CAST(EXTRACT(HOUR FROM timezone('Europe/Paris', timezone('UTC', t))) AS BIGINT) AS h_paris,
          |  CAST(timezone('Asia/Tokyo', timezone('UTC', t)) AS DATE) AS d2_tokyo
          |FROM b ORDER BY event_id""".stripMargin,
      // week truncation replays as date arithmetic off DuckDB's
      // 0=Sunday dayofweek (Spark's is 1=Sunday — the shift constants
      // differ by one); the diffs are the same integer calendar folds
      "q_week_ops" ->
        """WITH e AS (SELECT event_id, CAST(ts AS TIMESTAMP) AS ts,
          |                  CAST(CAST(ts AS TIMESTAMP) AS DATE) AS d FROM events),
          |w AS (SELECT *,
          |        d - CAST((dayofweek(d) - 0 + 7) % 7 AS INTEGER) AS wk_sun,
          |        d - CAST((dayofweek(d) - 2 + 7) % 7 AS INTEGER) AS wk_tue,
          |        d - CAST((dayofweek(d) - 1 + 7) % 7 AS INTEGER) AS wk_mon,
          |        CAST(timezone('Asia/Tokyo', timezone('UTC', ts)) AS DATE) AS dtok,
          |        DATE '2025-03-15' AS a FROM e),
          |w2 AS (SELECT *,
          |         dtok - CAST((dayofweek(dtok) - 0 + 7) % 7 AS INTEGER) AS wtok,
          |         a - CAST((dayofweek(a) - 0 + 7) % 7 AS INTEGER) AS a_sun FROM w)
          |SELECT event_id,
          |  wk_sun,
          |  wk_tue,
          |  CAST(wk_mon AS TIMESTAMP) AS wk_iso_ts,
          |  timezone('UTC', timezone('Asia/Tokyo', CAST(wtok AS TIMESTAMP))) AS wk_tokyo,
          |  wk_sun + 6 AS ld_wk,
          |  CAST((a_sun - wk_sun) // 7 AS BIGINT) AS wdiff,
          |  CAST((year(a) * 12 + month(a)) - (year(d) * 12 + month(d)) AS BIGINT) AS mdiff,
          |  CAST((year(a) * 4 + quarter(a)) - (year(d) * 4 + quarter(d)) AS BIGINT) AS qdiff,
          |  CAST(isoyear(a) - isoyear(d) AS BIGINT) AS iydiff,
          |  CAST((epoch_us(date_trunc('hour', TIMESTAMP '2024-01-15 07:29:59')) -
          |        epoch_us(date_trunc('hour', ts))) // 3600000000 AS BIGINT) AS hdiff
          |FROM w2 ORDER BY event_id""".stripMargin,
      // the same haversine text on the same sphere, flattened onto
      // bare lng/lat columns (DuckDB needs no struct carrier)
      "q_st_point" ->
        """WITH p AS (
          |  SELECT event_id,
          |         -180.0 + CAST(user_id * 7 % 360 AS DOUBLE) + 0.5 AS lng1,
          |         -80.0 + CAST(user_id * 13 % 160 AS DOUBLE) + 0.25 AS lat1,
          |         -180.0 + CAST(event_id % 360 AS DOUBLE) + 0.5 AS lng2,
          |         -80.0 + CAST(event_id * 3 % 160 AS DOUBLE) + 0.25 AS lat2
          |  FROM events),
          |d AS (SELECT *,
          |        2.0 * 6371010.0 * asin(sqrt(
          |          sin(radians((lat2 - lat1) / 2.0)) * sin(radians((lat2 - lat1) / 2.0)) +
          |          cos(radians(lat1)) * cos(radians(lat2)) *
          |          sin(radians((lng2 - lng1) / 2.0)) * sin(radians((lng2 - lng1) / 2.0)))) AS dist,
          |        LEAST(GREATEST(CAST(floor((lng1 + 180.0) / 360.0 * 32768.0) AS BIGINT), 0), 32767) AS lq,
          |        LEAST(GREATEST(CAST(floor((lat1 + 90.0) / 180.0 * 32768.0) AS BIGINT), 0), 32767) AS aq
          |      FROM p),
          |g AS (SELECT *,
          |        ((lq >> 0) & 1) * 2 + ((aq >> 0) & 1) * 1 +
          |        ((lq >> 1) & 1) * 8 + ((aq >> 1) & 1) * 4 +
          |        ((lq >> 2) & 1) * 32 + ((aq >> 2) & 1) * 16 +
          |        ((lq >> 3) & 1) * 128 + ((aq >> 3) & 1) * 64 +
          |        ((lq >> 4) & 1) * 512 + ((aq >> 4) & 1) * 256 +
          |        ((lq >> 5) & 1) * 2048 + ((aq >> 5) & 1) * 1024 +
          |        ((lq >> 6) & 1) * 8192 + ((aq >> 6) & 1) * 4096 +
          |        ((lq >> 7) & 1) * 32768 + ((aq >> 7) & 1) * 16384 +
          |        ((lq >> 8) & 1) * 131072 + ((aq >> 8) & 1) * 65536 +
          |        ((lq >> 9) & 1) * 524288 + ((aq >> 9) & 1) * 262144 +
          |        ((lq >> 10) & 1) * 2097152 + ((aq >> 10) & 1) * 1048576 +
          |        ((lq >> 11) & 1) * 8388608 + ((aq >> 11) & 1) * 4194304 +
          |        ((lq >> 12) & 1) * 33554432 + ((aq >> 12) & 1) * 16777216 +
          |        ((lq >> 13) & 1) * 134217728 + ((aq >> 13) & 1) * 67108864 +
          |        ((lq >> 14) & 1) * 536870912 + ((aq >> 14) & 1) * 268435456 AS b
          |      FROM d)
          |SELECT CAST(FLOOR(dist / 1000.0) AS BIGINT) AS dist_km,
          |       COUNT(*) AS n,
          |       CAST(SUM(CASE WHEN dist <= 5000000.0 THEN 1 ELSE 0 END) AS BIGINT) AS within_5000km,
          |       MIN(lng1) AS min_lng,
          |       MAX(lat2) AS max_lat,
          |       MIN(substr('0123456789bcdefghjkmnpqrstuvwxyz', CAST((b >> 25) & 31 AS INTEGER) + 1, 1) ||
          |           substr('0123456789bcdefghjkmnpqrstuvwxyz', CAST((b >> 20) & 31 AS INTEGER) + 1, 1) ||
          |           substr('0123456789bcdefghjkmnpqrstuvwxyz', CAST((b >> 15) & 31 AS INTEGER) + 1, 1) ||
          |           substr('0123456789bcdefghjkmnpqrstuvwxyz', CAST((b >> 10) & 31 AS INTEGER) + 1, 1) ||
          |           substr('0123456789bcdefghjkmnpqrstuvwxyz', CAST((b >> 5) & 31 AS INTEGER) + 1, 1) ||
          |           substr('0123456789bcdefghjkmnpqrstuvwxyz', CAST(b & 31 AS INTEGER) + 1, 1)) AS gh_min,
          |       MIN('POINT(' || CAST(lng2 AS VARCHAR) || ' ' || CAST(lat2 AS VARCHAR) || ')') AS wkt_min,
          |       COUNT(*) AS rt_ok,
          |       MIN('{"type":"Point","coordinates":[' || CAST(lng2 AS VARCHAR) || ',' ||
          |           CAST(lat2 AS VARCHAR) || ']}') AS gj_min,
          |       COUNT(*) AS gj_rt
          |FROM g GROUP BY dist_km ORDER BY dist_km""".stripMargin,
      // the line face flattened onto scalar columns: the two-segment
      // haversine sum in fold order (0.0 + s1 + s2 ≡ s1 + s2 exactly),
      // WKT rebuilt from the same dyadic coordinates, round-trip
      // identically true (Double parse∘render is the identity)
      "q_st_line" ->
        """WITH p AS (
          |  SELECT event_id,
          |         -170.0 + CAST(user_id * 7 % 340 AS DOUBLE) + 0.5 AS lng1,
          |         -60.0 + CAST(user_id * 13 % 120 AS DOUBLE) + 0.25 AS lat1,
          |         CAST(event_id % 3 AS DOUBLE) AS dx,
          |         CAST(event_id % 2 AS DOUBLE) AS dy
          |  FROM events),
          |c AS (SELECT event_id, lng1, lat1,
          |        lng1 + 1.0 + dx * 0.5 AS lng2, lat1 - 0.5 - dy * 0.25 AS lat2,
          |        lng1 - 0.75 AS lng3, lat1 + 1.5 AS lat3
          |      FROM p),
          |d AS (SELECT *,
          |        2.0 * 6371010.0 * asin(sqrt(
          |          sin(radians((lat2 - lat1) / 2.0)) * sin(radians((lat2 - lat1) / 2.0)) +
          |          cos(radians(lat1)) * cos(radians(lat2)) *
          |          sin(radians((lng2 - lng1) / 2.0)) * sin(radians((lng2 - lng1) / 2.0)))) +
          |        2.0 * 6371010.0 * asin(sqrt(
          |          sin(radians((lat3 - lat2) / 2.0)) * sin(radians((lat3 - lat2) / 2.0)) +
          |          cos(radians(lat2)) * cos(radians(lat3)) *
          |          sin(radians((lng3 - lng2) / 2.0)) * sin(radians((lng3 - lng2) / 2.0)))) AS len
          |      FROM c)
          |SELECT CAST(FLOOR(len / 10000.0) AS BIGINT) AS len_10km,
          |       COUNT(*) AS n,
          |       CAST(3 AS BIGINT) AS np,
          |       MIN('LINESTRING(' || CAST(lng1 AS VARCHAR) || ' ' || CAST(lat1 AS VARCHAR) || ', ' ||
          |           CAST(lng2 AS VARCHAR) || ' ' || CAST(lat2 AS VARCHAR) || ', ' ||
          |           CAST(lng3 AS VARCHAR) || ' ' || CAST(lat3 AS VARCHAR) || ')') AS wkt_min,
          |       COUNT(*) AS rt_ok,
          |       MIN(LEAST(lng1, lng2, lng3)) AS bb_xmin,
          |       MAX(GREATEST(lat1, lat2, lat3)) AS bb_ymax,
          |       CAST(MAX(FLOOR(GREATEST(
          |         2.0 * 6371010.0 * asin(sqrt(
          |           sin(radians((lat2 - lat1) / 2.0)) * sin(radians((lat2 - lat1) / 2.0)) +
          |           cos(radians(lat1)) * cos(radians(lat2)) *
          |           sin(radians((lng2 - lng1) / 2.0)) * sin(radians((lng2 - lng1) / 2.0)))),
          |         2.0 * 6371010.0 * asin(sqrt(
          |           sin(radians((lat3 - lat1) / 2.0)) * sin(radians((lat3 - lat1) / 2.0)) +
          |           cos(radians(lat1)) * cos(radians(lat3)) *
          |           sin(radians((lng3 - lng1) / 2.0)) * sin(radians((lng3 - lng1) / 2.0)))),
          |         2.0 * 6371010.0 * asin(sqrt(
          |           sin(radians((lat3 - lat2) / 2.0)) * sin(radians((lat3 - lat2) / 2.0)) +
          |           cos(radians(lat2)) * cos(radians(lat3)) *
          |           sin(radians((lng3 - lng2) / 2.0)) * sin(radians((lng3 - lng2) / 2.0))))
          |       ) / 1000.0)) AS BIGINT) AS maxd_km,
          |       MIN('{"type":"LineString","coordinates":[[' ||
          |           CAST(lng1 AS VARCHAR) || ',' || CAST(lat1 AS VARCHAR) || '],[' ||
          |           CAST(lng2 AS VARCHAR) || ',' || CAST(lat2 AS VARCHAR) || '],[' ||
          |           CAST(lng3 AS VARCHAR) || ',' || CAST(lat3 AS VARCHAR) || ']]}') AS gj_min,
          |       MIN('LINESTRING(' ||
          |           CAST(floor(lng1 / 0.5 + 0.5) * 0.5 AS VARCHAR) || ' ' ||
          |           CAST(floor(lat1 / 0.5 + 0.5) * 0.5 AS VARCHAR) || ', ' ||
          |           CAST(floor(lng2 / 0.5 + 0.5) * 0.5 AS VARCHAR) || ' ' ||
          |           CAST(floor(lat2 / 0.5 + 0.5) * 0.5 AS VARCHAR) || ', ' ||
          |           CAST(floor(lng3 / 0.5 + 0.5) * 0.5 AS VARCHAR) || ' ' ||
          |           CAST(floor(lat3 / 0.5 + 0.5) * 0.5 AS VARCHAR) || ')') AS snap_min
          |FROM d GROUP BY len_10km ORDER BY len_10km""".stripMargin,
      // the ring face flattened: Chamberlain–Duquette signed-area sum
      // in fold order over the four edges (the Δλ wrap term is exactly
      // 0 at these widths, so dl replays it bit-for-bit), haversine
      // perimeter, and the even-odd ray cast on the two VERTICAL edges
      // only (the horizontal-edge terms are exactly 0 under the strict
      // lat rule — integer adds, so parity replays exactly)
      "q_st_poly" ->
        """WITH p AS (
          |  SELECT event_id,
          |         -160.0 + CAST(user_id * 11 % 320 AS DOUBLE) + 0.5 AS clng,
          |         -55.0 + CAST(user_id * 17 % 110 AS DOUBLE) + 0.25 AS clat,
          |         0.5 + CAST(event_id % 4 AS DOUBLE) * 0.25 AS w,
          |         0.25 + CAST(user_id % 3 AS DOUBLE) * 0.25 AS h,
          |         CAST(event_id % 5 AS DOUBLE) * 0.35 - 0.7 AS toff
          |  FROM events),
          |v AS (SELECT event_id, clng + toff AS cx, clat AS cy,
          |        clng - w AS x1, clat - h AS y1, clng + w AS x2, clat - h AS y2,
          |        clng + w AS x3, clat + h AS y3, clng - w AS x4, clat + h AS y4
          |      FROM p),
          |m AS (SELECT *,
          |        abs((radians(x2) - radians(x1)) * (2.0 + sin(radians(y1)) + sin(radians(y2))) +
          |            (radians(x3) - radians(x2)) * (2.0 + sin(radians(y2)) + sin(radians(y3))) +
          |            (radians(x4) - radians(x3)) * (2.0 + sin(radians(y3)) + sin(radians(y4))) +
          |            (radians(x1) - radians(x4)) * (2.0 + sin(radians(y4)) + sin(radians(y1))))
          |          * 6371010.0 * 6371010.0 / 2.0 AS area,
          |        2.0 * 6371010.0 * asin(sqrt(
          |          sin(radians((y2 - y1) / 2.0)) * sin(radians((y2 - y1) / 2.0)) +
          |          cos(radians(y1)) * cos(radians(y2)) *
          |          sin(radians((x2 - x1) / 2.0)) * sin(radians((x2 - x1) / 2.0)))) +
          |        2.0 * 6371010.0 * asin(sqrt(
          |          sin(radians((y3 - y2) / 2.0)) * sin(radians((y3 - y2) / 2.0)) +
          |          cos(radians(y2)) * cos(radians(y3)) *
          |          sin(radians((x3 - x2) / 2.0)) * sin(radians((x3 - x2) / 2.0)))) +
          |        2.0 * 6371010.0 * asin(sqrt(
          |          sin(radians((y4 - y3) / 2.0)) * sin(radians((y4 - y3) / 2.0)) +
          |          cos(radians(y3)) * cos(radians(y4)) *
          |          sin(radians((x4 - x3) / 2.0)) * sin(radians((x4 - x3) / 2.0)))) +
          |        2.0 * 6371010.0 * asin(sqrt(
          |          sin(radians((y1 - y4) / 2.0)) * sin(radians((y1 - y4) / 2.0)) +
          |          cos(radians(y4)) * cos(radians(y1)) *
          |          sin(radians((x1 - x4) / 2.0)) * sin(radians((x1 - x4) / 2.0)))) AS perim,
          |        ((CASE WHEN (y2 > cy) != (y3 > cy)
          |               AND cx < (x3 - x2) * (cy - y2) / (y3 - y2) + x2 THEN 1 ELSE 0 END) +
          |         (CASE WHEN (y4 > cy) != (y1 > cy)
          |               AND cx < (x1 - x4) * (cy - y4) / (y1 - y4) + x4 THEN 1 ELSE 0 END)
          |        ) % 2 = 1 AS inside
          |      FROM v)
          |SELECT CAST(FLOOR(area / 1000000000.0) AS BIGINT) AS area_gm2,
          |       COUNT(*) AS n,
          |       CAST(MIN(FLOOR(perim / 1000.0)) AS BIGINT) AS perim_km_min,
          |       CAST(5 AS BIGINT) AS np,
          |       CAST(SUM(CASE WHEN inside THEN 1 ELSE 0 END) AS BIGINT) AS inside_n,
          |       CAST(SUM(CASE WHEN inside THEN 1 ELSE 0 END) AS BIGINT) AS within_n,
          |       CAST(SUM(CASE WHEN NOT inside THEN 1 ELSE 0 END) AS BIGINT) AS disjoint_n,
          |       MIN('POLYGON((' || CAST(x1 AS VARCHAR) || ' ' || CAST(y1 AS VARCHAR) || ', ' ||
          |           CAST(x2 AS VARCHAR) || ' ' || CAST(y2 AS VARCHAR) || ', ' ||
          |           CAST(x3 AS VARCHAR) || ' ' || CAST(y3 AS VARCHAR) || ', ' ||
          |           CAST(x4 AS VARCHAR) || ' ' || CAST(y4 AS VARCHAR) || ', ' ||
          |           CAST(x1 AS VARCHAR) || ' ' || CAST(y1 AS VARCHAR) || '))') AS wkt_min,
          |       COUNT(*) AS rt_ok,
          |       MIN(((x1 + x2) * (x1 * y2 - x2 * y1) + (x2 + x3) * (x2 * y3 - x3 * y2) +
          |            (x3 + x4) * (x3 * y4 - x4 * y3) + (x4 + x1) * (x4 * y1 - x1 * y4)) /
          |           (3.0 * ((x1 * y2 - x2 * y1) + (x2 * y3 - x3 * y2) +
          |                   (x3 * y4 - x4 * y3) + (x4 * y1 - x1 * y4)))) AS cx_min,
          |       MAX(((y1 + y2) * (x1 * y2 - x2 * y1) + (y2 + y3) * (x2 * y3 - x3 * y2) +
          |            (y3 + y4) * (x3 * y4 - x4 * y3) + (y4 + y1) * (x4 * y1 - x1 * y4)) /
          |           (3.0 * ((x1 * y2 - x2 * y1) + (x2 * y3 - x3 * y2) +
          |                   (x3 * y4 - x4 * y3) + (x4 * y1 - x1 * y4)))) AS cy_max
          |FROM m GROUP BY area_gm2 ORDER BY area_gm2""".stripMargin,
      // boundary predicates: truth is a pure function of the position
      // class (interior / edge / corner / outside / top edge) — no
      // geometry replay, just CASE arithmetic on the class id
      "q_st_pred" ->
        """WITH p AS (SELECT CAST(event_id % 5 AS BIGINT) AS cse FROM events)
          |SELECT cse, COUNT(*) AS n,
          |  CAST(CASE WHEN cse IN (0, 1, 2, 4) THEN COUNT(*) ELSE 0 END AS BIGINT) AS covers_n,
          |  CAST(CASE WHEN cse IN (0, 1, 2, 4) THEN COUNT(*) ELSE 0 END AS BIGINT) AS coveredby_n,
          |  CAST(CASE WHEN cse IN (1, 2, 4) THEN COUNT(*) ELSE 0 END AS BIGINT) AS touches_n,
          |  CAST(CASE WHEN cse = 0 THEN COUNT(*) ELSE 0 END AS BIGINT) AS eq_center_n,
          |  CAST(COUNT(*) AS BIGINT) AS eq_poly_n
          |FROM p GROUP BY cse ORDER BY cse""".stripMargin,
      // shape operators: every gate is a constant or the group count
      // by construction (exact dyadic hull/projection equality, DP
      // margins of hundreds of meters, the 993 area-ratio bucket)
      "q_st_shape" ->
        """WITH p AS (SELECT CAST(event_id % 3 AS BIGINT) AS rk
          |           FROM events WHERE event_id % 16 = 0)
          |SELECT rk, COUNT(*) AS n,
          |  CAST(33 AS BIGINT) AS buf_np,
          |  CAST(COUNT(*) AS BIGINT) AS buf_ctr,
          |  CAST(993 AS BIGINT) AS ratio_lo,
          |  CAST(993 AS BIGINT) AS ratio_hi,
          |  CAST(4 AS BIGINT) AS simp_np,
          |  CAST(5 AS BIGINT) AS simp0_np,
          |  CAST(COUNT(*) AS BIGINT) AS hull_ok,
          |  CAST(COUNT(*) AS BIGINT) AS cp_ok,
          |  CAST(COUNT(*) AS BIGINT) AS cp_clamp_ok,
          |  CAST(COUNT(*) AS BIGINT) AS dump_ok
          |FROM p GROUP BY rk ORDER BY rk""".stripMargin,
      // the grid-bucketed DWITHIN join must equal the bounded n² join
      // with the identical haversine spelling
      "q_st_join" ->
        """WITH c AS (SELECT c_custkey AS cust_id,
          |                  CAST(c_custkey * 7 % 200 AS DOUBLE) / 10.0 - 10.0 AS c_lng,
          |                  CAST(c_custkey * 13 % 100 AS DOUBLE) / 10.0 - 5.0 AS c_lat
          |           FROM customer),
          |     s AS (SELECT s_suppkey AS supp_id,
          |                  CAST(s_suppkey * 11 % 200 AS DOUBLE) / 10.0 - 10.0 AS s_lng,
          |                  CAST(s_suppkey * 17 % 100 AS DOUBLE) / 10.0 - 5.0 AS s_lat
          |           FROM supplier),
          |     p AS (SELECT cust_id, supp_id,
          |                  2.0 * 6371010.0 * asin(sqrt(
          |                    sin(radians((s_lat - c_lat) / 2.0)) * sin(radians((s_lat - c_lat) / 2.0)) +
          |                    cos(radians(c_lat)) * cos(radians(s_lat)) *
          |                    sin(radians((s_lng - c_lng) / 2.0)) * sin(radians((s_lng - c_lng) / 2.0)))) AS d
          |           FROM c CROSS JOIN s)
          |SELECT cust_id, supp_id, CAST(FLOOR(d / 100.0) AS BIGINT) AS dist_hm
          |FROM p WHERE d <= 25000.0 ORDER BY cust_id, supp_id""".stripMargin,
      // AEAD: every gated column is deterministic — the round-trip and
      // SAFE-NULL counts are identically n (GCM is correct or the
      // Spark side would not produce these counts), ciphertext length
      // is 33 + |pt| exactly, and the pinned decrypt is a literal
      "q_aead" ->
        """WITH p AS (SELECT event_type,
          |                  CONCAT(event_type, '-', CAST(event_id AS VARCHAR)) AS pt
          |           FROM events)
          |SELECT event_type, COUNT(*) AS n,
          |       CAST(COUNT(*) AS BIGINT) AS rt_ok,
          |       CAST(SUM(33 + octet_length(encode(pt))) AS BIGINT) AS ct_bytes,
          |       CAST(COUNT(*) AS BIGINT) AS bad_aad,
          |       'the graft engine' AS pinned
          |FROM p GROUP BY event_type ORDER BY event_type""".stripMargin,
      // deterministic AEAD: ciphertext is a bijection of plaintext
      // under a fixed (key, aad) — distinct counts transfer, the
      // re-encrypt equality is identically true, V||C wire overhead
      // is 21 bytes exactly, and the pinned decrypt is a literal
      "q_aead_det" ->
        """WITH p AS (SELECT event_type,
          |                  CONCAT(event_type, '-', CAST(user_id % 50 AS VARCHAR)) AS pt
          |           FROM events)
          |SELECT event_type, COUNT(*) AS n,
          |       COUNT(DISTINCT pt) AS distinct_ct,
          |       CAST(COUNT(*) AS BIGINT) AS rt_ok,
          |       CAST(SUM(21 + octet_length(encode(pt))) AS BIGINT) AS ct_bytes,
          |       CAST(COUNT(*) AS BIGINT) AS bad_aad,
          |       CAST(COUNT(*) AS BIGINT) AS det_eq,
          |       'the graft engine' AS pinned
          |FROM p GROUP BY event_type ORDER BY event_type""".stripMargin,
      "q_string_agg" ->
        """SELECT user_id,
          |  string_agg(event_type, ',' ORDER BY epoch_us(CAST(ts AS TIMESTAMP)), event_id) AS type_seq,
          |  COUNT(*) AS n
          |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,
      // the ordered-aggregate macros replay with DuckDB's native
      // ORDER BY-in-aggregate forms
      "q_ordered_agg" ->
        """SELECT user_id,
          |  string_agg(event_type, '|' ORDER BY epoch_us(CAST(ts AS TIMESTAMP)), event_id) AS type_seq,
          |  array_to_string(list_slice(list(CAST(event_id AS VARCHAR) ORDER BY event_id), 1, 5), ',') AS first5,
          |  COUNT(*) AS n
          |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,
      "ann_quantize" ->
        """WITH q AS (SELECT vec_id, embedding,
          |             list_max(list_transform(embedding, e -> abs(CAST(COALESCE(e, 0) AS DOUBLE)))) AS scale
          |           FROM embeddings)
          |SELECT vec_id, scale, CAST(i - 1 AS INT) AS pos,
          |       CASE WHEN scale = 0 THEN CAST(0 AS TINYINT)
          |            ELSE CAST(round(CAST(COALESCE(embedding[i], 0) AS DOUBLE) * 127 / scale) AS TINYINT)
          |       END AS code
          |FROM q, UNNEST(generate_series(1, len(embedding))) AS g(i)
          |ORDER BY vec_id, pos""".stripMargin,
      "sample_per_key" ->
        """SELECT user_id, event_id FROM (
          |  SELECT user_id, event_id,
          |         row_number() OVER (PARTITION BY user_id
          |           ORDER BY CAST(('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 13)) AS BIGINT),
          |                    event_id) AS rn
          |  FROM events) WHERE rn <= 3
          |ORDER BY user_id, event_id""".stripMargin,
      "sample_split" ->
        s"""WITH s AS (
          |  SELECT doc_id,
          |         CASE WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 13)) AS BIGINT)
          |                   < ${(1L << 52) / 10 * 9} THEN 'train' ELSE 'holdout' END AS split
          |  FROM documents)
          |SELECT split, COUNT(*) AS n, MIN(doc_id) AS min_id, MAX(doc_id) AS max_id
          |FROM s GROUP BY split ORDER BY split""".stripMargin,
      // replays S12's fold law: 52-bit md5 prefix of "seed:id" mod k
      "sample_kfold" ->
        """WITH f AS (
          |  SELECT doc_id,
          |         CAST(('0x' || substr(md5('7:' || CAST(doc_id AS VARCHAR)), 1, 13)) AS BIGINT) % 5 AS fold
          |  FROM documents)
          |SELECT fold, COUNT(*) AS n, MIN(doc_id) AS min_id, MAX(doc_id) AS max_id
          |FROM f GROUP BY fold ORDER BY fold""".stripMargin,
      "sample_stratified" ->
        s"""SELECT event_id, event_type FROM events
          |WHERE CAST(('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 13)) AS BIGINT)
          |      < CASE event_type
          |          WHEN 'purchase' THEN ${1L << 52}
          |          WHEN 'click' THEN ${(1L << 52) / 10 * 1}
          |          WHEN 'view' THEN ${(1L << 52) / 10 * 3}
          |          ELSE ${(1L << 52) / 2 * 1} END
          |ORDER BY event_id""".stripMargin,
      // replays the window-df contract: md5 over space-joined 8-token
      // slices, cross-doc distinct df >= 2, covered = union of
      // duplicated windows, rebuild in position order
      "dedup_spans" ->
        """WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks FROM documents),
          |w AS (SELECT doc_id, p, md5(array_to_string(toks[p+1:p+8], ' ')) AS h
          |      FROM (SELECT doc_id, toks, unnest(range(0, greatest(len(toks)-8+1, 0))) AS p FROM t)),
          |dup AS (SELECT h FROM (SELECT h, COUNT(DISTINCT doc_id) AS df FROM w GROUP BY h) WHERE df >= 2),
          |starts AS (SELECT doc_id, p FROM w JOIN dup USING (h)),
          |cov AS (SELECT DISTINCT doc_id, p + unnest(range(0, 8)) AS pos FROM starts),
          |tok AS (SELECT doc_id, pos, toks[pos+1] AS tok
          |        FROM (SELECT doc_id, toks, unnest(range(0, len(toks))) AS pos FROM t)),
          |kept AS (SELECT k.doc_id, k.pos, k.tok FROM tok k
          |         LEFT JOIN cov c ON k.doc_id = c.doc_id AND k.pos = c.pos WHERE c.pos IS NULL),
          |agg AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS clean, COUNT(*) AS n_kept
          |        FROM kept GROUP BY doc_id),
          |tot AS (SELECT doc_id, len(toks) AS n FROM t)
          |SELECT tot.doc_id AS doc_id, COALESCE(agg.clean, '') AS clean_text,
          |       CAST(tot.n - COALESCE(agg.n_kept, 0) AS BIGINT) AS tokens_dropped
          |FROM tot LEFT JOIN agg ON tot.doc_id = agg.doc_id
          |ORDER BY doc_id""".stripMargin,
      // replays C14 end to end: bench = 12-token prefixes of every
      // 25th doc, bench window hashes, semi-join against corpus
      // windows, covered-union rebuild in position order
      "dedup_decontaminate" ->
        """WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks FROM documents),
          |b AS (SELECT toks[1:12] AS bt FROM t WHERE doc_id % 25 = 0 AND len(toks) >= 12),
          |bw AS (SELECT DISTINCT md5(array_to_string(bt[p+1:p+8], ' ')) AS h
          |       FROM (SELECT bt, unnest(range(0, len(bt)-8+1)) AS p FROM b)),
          |w AS (SELECT doc_id, p, md5(array_to_string(toks[p+1:p+8], ' ')) AS h
          |      FROM (SELECT doc_id, toks, unnest(range(0, greatest(len(toks)-8+1, 0))) AS p FROM t)),
          |starts AS (SELECT DISTINCT doc_id, p FROM w JOIN bw USING (h)),
          |cov AS (SELECT DISTINCT doc_id, p + unnest(range(0, 8)) AS pos FROM starts),
          |tok AS (SELECT doc_id, pos, toks[pos+1] AS tok
          |        FROM (SELECT doc_id, toks, unnest(range(0, len(toks))) AS pos FROM t)),
          |kept AS (SELECT k.doc_id, k.pos, k.tok FROM tok k
          |         LEFT JOIN cov c ON k.doc_id = c.doc_id AND k.pos = c.pos WHERE c.pos IS NULL),
          |agg AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS clean, COUNT(*) AS n_kept
          |        FROM kept GROUP BY doc_id),
          |tot AS (SELECT doc_id, len(toks) AS n FROM t)
          |SELECT tot.doc_id AS doc_id, COALESCE(agg.clean, '') AS clean_text,
          |       CAST(tot.n - COALESCE(agg.n_kept, 0) AS BIGINT) AS tokens_dropped
          |FROM tot LEFT JOIN agg ON tot.doc_id = agg.doc_id
          |ORDER BY doc_id""".stripMargin,
      // the indexed phrase route replays as the direct tokenize +
      // adjacency — index and scan must answer identically
      "sql_search_index" ->
        """WITH toks AS (
          |  SELECT doc_id, unnest(range(len(t))) AS pos, unnest(t) AS token
          |  FROM (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS t
          |        FROM documents)),
          |m AS (SELECT p0.doc_id, p0.pos
          |      FROM (SELECT doc_id, pos FROM toks WHERE token = 'slow') p0
          |      JOIN (SELECT doc_id, pos - 1 AS pos FROM toks WHERE token = 'fast') p1
          |        ON p0.doc_id = p1.doc_id AND p0.pos = p1.pos)
          |SELECT doc_id, COUNT(*) AS n_hits, MIN(pos) AS first_pos
          |FROM m GROUP BY doc_id ORDER BY doc_id""".stripMargin,
      // indexed all-terms containment ≡ tokenize + distinct-coverage
      "search_index_terms" ->
        """WITH toks AS (
          |  SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\s+')) AS token
          |  FROM documents),
          |hit AS (SELECT doc_id, COUNT(DISTINCT token) AS nt
          |        FROM toks WHERE token IN ('slow', 'fast', 'the') GROUP BY doc_id)
          |SELECT doc_id FROM hit WHERE nt = 3 ORDER BY doc_id""".stripMargin,
      // the LOG_ANALYZER replay: decorate, then split on
      // non-alphanumeric RUNS after lowercasing — '[Doc#12]' must
      // yield tokens (doc, 12)
      "search_index_log" ->
        """WITH dirty AS (
          |  SELECT doc_id,
          |         '[Doc#' || CAST(doc_id AS VARCHAR) || '] ' || replace(text, ' ', ', ') AS text
          |  FROM documents),
          |toks AS (
          |  SELECT doc_id, unnest(list_filter(
          |    string_split_regex(lower(text), '[^a-z0-9]+'), x -> len(x) > 0)) AS token
          |  FROM dirty),
          |hit AS (SELECT doc_id, COUNT(DISTINCT token) AS nt
          |        FROM toks WHERE token IN ('slow', 'fast', 'doc') GROUP BY doc_id)
          |SELECT doc_id FROM hit WHERE nt = 3 ORDER BY doc_id""".stripMargin,
      // the whole retrieval pipeline in one replay: embed (the
      // text_embed CTEs, densified to per-doc lists) then the D1
      // cosine ranking
      "search_text_embed" ->
        s"""WITH l AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS toks FROM documents),
          |g AS (SELECT doc_id, list_concat(toks,
          |        CASE WHEN len(toks) >= 2
          |          THEN [toks[i] || ' ' || toks[i+1] for i in range(1, len(toks))]
          |          ELSE []::VARCHAR[] END) AS grams FROM l),
          |h AS (SELECT doc_id, unnest(list_transform(grams, x ->
          |        CAST(('0x' || substr(md5(x), 1, 13)) AS BIGINT) % 64)) AS hv FROM g),
          |sc AS (SELECT doc_id, CAST(hv % 32 AS INT) AS pos,
          |              SUM(CASE WHEN hv < 32 THEN 1 ELSE -1 END) AS v
          |       FROM h GROUP BY 1, 2),
          |grid AS (SELECT doc_id, CAST(i AS INT) AS pos
          |         FROM documents, UNNEST(generate_series(0, 31)) AS u(i)),
          |dense AS (SELECT grid.doc_id AS doc_id,
          |                 list(CAST(coalesce(sc.v, 0) AS DOUBLE) ORDER BY grid.pos) AS emb
          |          FROM grid LEFT JOIN sc ON sc.doc_id = grid.doc_id AND sc.pos = grid.pos
          |          GROUP BY grid.doc_id),
          |q AS (SELECT doc_id AS qid, emb AS qvec FROM dense WHERE doc_id % 50 = 0),
          |scored AS (
          |  SELECT q.qid, d.doc_id AS vec_id,
          |         ${dot("q.qvec", "d.emb")} /
          |           (sqrt(${dot("q.qvec", "q.qvec")}) * sqrt(${dot("d.emb", "d.emb")})) AS cos
          |  FROM q JOIN dense d ON d.doc_id <> q.qid)
          |SELECT qid, vec_id, cos, rank FROM (
          |  SELECT qid, vec_id, cos,
          |         row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rank
          |  FROM scored)
          |WHERE rank <= 5 ORDER BY qid, rank""".stripMargin,
      // the embedder replays end to end: the DSIR gram stream, the
      // repo 52-bit md5 law into 2·dim buckets, the signed scatter as
      // a grouped integer sum, densified over the (doc × dim) grid
      "text_embed" ->
        """WITH l AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS toks FROM documents),
          |g AS (SELECT doc_id, list_concat(toks,
          |        CASE WHEN len(toks) >= 2
          |          THEN [toks[i] || ' ' || toks[i+1] for i in range(1, len(toks))]
          |          ELSE []::VARCHAR[] END) AS grams FROM l),
          |h AS (SELECT doc_id, unnest(list_transform(grams, x ->
          |        CAST(('0x' || substr(md5(x), 1, 13)) AS BIGINT) % 64)) AS hv FROM g),
          |sc AS (SELECT doc_id, CAST(hv % 32 AS INT) AS pos,
          |              SUM(CASE WHEN hv < 32 THEN 1 ELSE -1 END) AS v
          |       FROM h GROUP BY 1, 2),
          |grid AS (SELECT doc_id, CAST(i AS INT) AS pos
          |         FROM documents, UNNEST(generate_series(0, 31)) AS u(i))
          |SELECT grid.doc_id AS doc_id, grid.pos AS pos, CAST(coalesce(sc.v, 0) AS INT) AS v
          |FROM grid LEFT JOIN sc ON sc.doc_id = grid.doc_id AND sc.pos = grid.pos
          |ORDER BY grid.doc_id, grid.pos""".stripMargin,
      // replays S11 end to end: unigram+bigram stream, 52-bit
      // md5-prefix bucket, the md5-derived centi-nat weight per bucket
      // (same law the Scala fixture array is built from), integer sum,
      // and the (score DESC, doc_id) top-100 pick
      "sample_dsir" ->
        s"""WITH l AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS toks FROM documents),
           |g AS (SELECT doc_id, list_concat(toks,
           |        CASE WHEN len(toks) >= 2
           |          THEN [toks[i] || ' ' || toks[i+1] for i in range(1, len(toks))]
           |          ELSE []::VARCHAR[] END) AS grams FROM l),
           |s AS (SELECT doc_id,
           |  CAST(coalesce(list_sum(list_transform(grams, x ->
           |    (CAST(('0x' || substr(md5('w:' || CAST(CAST(('0x' || substr(md5(x), 1, 13)) AS BIGINT) % $dsirBuckets AS VARCHAR)), 1, 13)) AS BIGINT) % 2001) - 1000)), 0) AS BIGINT) AS dsir_score
           |  FROM g)
           |SELECT doc_id, dsir_score,
           |  CAST(row_number() OVER (ORDER BY dsir_score DESC, doc_id) AS INT) AS rank
           |FROM s QUALIFY rank <= 100 ORDER BY rank""".stripMargin,
      // replays the Gumbel-top-k draw: same score fold, then the
      // pinned noise key — u = (52-bit md5 prefix of '7:<id>' + 1) /
      // (2^52 + 1), key = score/1e5 − ln(−ln u) — and the (key DESC,
      // id) top-100; every emitted column is an integer, so libm ulp
      // drift in ln cannot reach the hash (it would need two keys
      // within ~1e-15 of each other, which md5-uniform noise excludes)
      "sample_dsir_gumbel" ->
        s"""WITH l AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS toks FROM documents),
           |g AS (SELECT doc_id, list_concat(toks,
           |        CASE WHEN len(toks) >= 2
           |          THEN [toks[i] || ' ' || toks[i+1] for i in range(1, len(toks))]
           |          ELSE []::VARCHAR[] END) AS grams FROM l),
           |s AS (SELECT doc_id,
           |  CAST(coalesce(list_sum(list_transform(grams, x ->
           |    (CAST(('0x' || substr(md5('w:' || CAST(CAST(('0x' || substr(md5(x), 1, 13)) AS BIGINT) % $dsirBuckets AS VARCHAR)), 1, 13)) AS BIGINT) % 2001) - 1000)), 0) AS BIGINT) AS dsir_score
           |  FROM g),
           |k AS (SELECT doc_id, dsir_score,
           |  CAST(dsir_score AS DOUBLE) / 100000.0 +
           |    (- ln(- ln((CAST(('0x' || substr(md5('7:' || CAST(doc_id AS VARCHAR)), 1, 13)) AS BIGINT) + 1.0) / 4503599627370497.0))) AS gkey
           |  FROM s)
           |SELECT doc_id, dsir_score,
           |  CAST(row_number() OVER (ORDER BY gkey DESC, doc_id) AS INT) AS rank
           |FROM k QUALIFY rank <= 100 ORDER BY rank""".stripMargin,
      "sample_top_fraction" ->
        """WITH sc AS (SELECT doc_id, source, CAST(length(text) AS DOUBLE) AS score FROM documents),
          |th AS (SELECT source, quantile_cont(score, 0.5) AS thr FROM sc GROUP BY source)
          |SELECT doc_id, sc.source AS source, score
          |FROM sc JOIN th ON sc.source = th.source
          |WHERE score >= thr ORDER BY doc_id""".stripMargin,
      // replays BOTH halves of S10: Hamilton allocation in exact
      // integer arithmetic (hugeint // and % on DuckDB's side, BigInt
      // on Spark's driver), then the per-source draw as the alloc_g
      // smallest-md5 rows — the same hash52 + id tie order as S1
      "sample_apportioned" ->
        """WITH cnt AS (SELECT source, COUNT(*) AS n FROM documents
          |             WHERE doc_id IS NOT NULL GROUP BY source),
          |wt AS (SELECT source, SUM(n_chars) AS w FROM documents GROUP BY source),
          |g AS (SELECT cnt.source AS source, n, w FROM cnt JOIN wt ON cnt.source = wt.source),
          |tot AS (SELECT SUM(w) AS tw FROM g),
          |a0 AS (SELECT source, n, (100 * w) // tw AS base, (100 * w) % tw AS rem FROM g, tot),
          |a1 AS (SELECT source, n, base,
          |              row_number() OVER (ORDER BY rem DESC, source) AS rr FROM a0),
          |lo AS (SELECT 100 - SUM(base) AS leftover FROM a0),
          |alloc AS (SELECT source,
          |                 LEAST(base + CASE WHEN rr <= (SELECT leftover FROM lo)
          |                              THEN 1 ELSE 0 END, n) AS kg FROM a1),
          |h AS (SELECT source, doc_id,
          |             row_number() OVER (PARTITION BY source
          |               ORDER BY CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 13)) AS BIGINT),
          |                        doc_id) AS rn
          |      FROM documents WHERE doc_id IS NOT NULL)
          |SELECT h.source AS source, h.doc_id AS doc_id
          |FROM h JOIN alloc ON h.source = alloc.source
          |WHERE rn <= kg ORDER BY source, doc_id""".stripMargin,
      // mirrors Mixing.temperatureMixBySqrt's threshold tree verbatim:
      // every float op (sqrt, *, /) is IEEE exactly-rounded over exact
      // integer-valued operands, left-associated — bit-identical across
      // engines; membership is then an integer hash comparison
      "corpus_mix" ->
        s"""WITH counts AS (
          |  SELECT source, COUNT(*) AS n FROM documents
          |  WHERE doc_id IS NOT NULL AND source IS NOT NULL GROUP BY source),
          |w AS (SELECT source, n,
          |        CAST(floor(sqrt(CAST(n AS DOUBLE)) * 1048576.0) AS BIGINT) AS w
          |      FROM counts),
          |tot AS (SELECT CAST(SUM(n) AS BIGINT) AS total, CAST(SUM(w) AS BIGINT) AS wsum FROM w),
          |thr AS (SELECT source,
          |          least(CAST(${1L << 52} AS BIGINT),
          |                CAST(floor(CAST((total * 1) // 2 AS DOUBLE) * w / wsum / n
          |                           * 4503599627370496.0) AS BIGINT)) AS h
          |        FROM w, tot)
          |SELECT d.doc_id, d.source FROM documents d JOIN thr USING (source)
          |WHERE CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 13)) AS BIGINT) < h
          |ORDER BY d.doc_id""".stripMargin,
      // budgeted-mix replay: budgets re-derive from ranked per-source
      // totals, full epochs via generate_series (empty when full=0 —
      // unnest drops the row), the partial epoch via the hash52 gate
      "corpus_mix_budget" ->
        s"""WITH tot AS (
          |  SELECT source, CAST(SUM(n_chars) AS BIGINT) AS t,
          |         CAST(row_number() OVER (ORDER BY source) - 1 AS BIGINT) AS rk
          |  FROM documents
          |  WHERE doc_id IS NOT NULL AND source IS NOT NULL AND n_chars IS NOT NULL
          |  GROUP BY source),
          |alloc AS (
          |  SELECT source, t,
          |         CASE rk % 4 WHEN 0 THEN 2*t + t // 3 WHEN 1 THEN t // 2
          |                     WHEN 2 THEN 3*t ELSE t + t // 4 END AS b
          |  FROM tot),
          |a2 AS (
          |  SELECT source, b // t AS full_e,
          |         CAST(floor(CAST(b % t AS DOUBLE) / CAST(t AS DOUBLE)
          |                    * 4503599627370496.0) AS BIGINT) AS thr
          |  FROM alloc),
          |reps AS (
          |  SELECT d.doc_id, d.source, d.n_chars,
          |         unnest(generate_series(0, a2.full_e - 1)) AS epoch
          |  FROM documents d JOIN a2 USING (source)
          |  UNION ALL
          |  SELECT d.doc_id, d.source, d.n_chars, a2.full_e AS epoch
          |  FROM documents d JOIN a2 USING (source)
          |  WHERE CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 13)) AS BIGINT) < a2.thr)
          |SELECT source, CAST(epoch AS BIGINT) AS epoch, COUNT(*) AS n,
          |       CAST(SUM(n_chars) AS BIGINT) AS size_sum,
          |       MIN(doc_id) AS min_id, MAX(doc_id) AS max_id
          |FROM reps GROUP BY source, epoch ORDER BY source, epoch""".stripMargin,
      // line df over distinct docs, then anti-join + ordered rebuild;
      // DuckDB groups raw lines where Spark groups md5(line) — equal
      // up to md5 collisions (the dedup_exact equivalence)
      "dedup_lines" ->
        """WITH lines AS (
          |  SELECT doc_id, ls[i] AS line, i AS pos
          |  FROM (SELECT doc_id, string_split(coalesce(text, ''), chr(10)) AS ls FROM documents) t,
          |       UNNEST(generate_series(1, len(ls))) AS u(i)),
          |dfc AS (
          |  SELECT line FROM (
          |    SELECT line, COUNT(*) AS df FROM (
          |      SELECT DISTINCT doc_id, line FROM lines WHERE line <> '') GROUP BY line)
          |  WHERE df >= 2),
          |kept AS (
          |  SELECT l.doc_id, l.line, l.pos FROM lines l
          |  LEFT JOIN dfc d ON l.line = d.line WHERE d.line IS NULL),
          |rebuilt AS (
          |  SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS clean_text,
          |         COUNT(*) AS n_kept
          |  FROM kept GROUP BY doc_id)
          |SELECT d.doc_id,
          |       coalesce(r.clean_text, '') AS clean_text,
          |       CAST(len(string_split(coalesce(d.text, ''), chr(10)))
          |            - coalesce(r.n_kept, 0) AS BIGINT) AS lines_dropped
          |FROM documents d LEFT JOIN rebuilt r USING (doc_id)
          |ORDER BY d.doc_id""".stripMargin,
      // replays Packing.packGreedy's law sequentially per bucket: all
      // quantities exact integers, same (hash, id) order — parity is
      // arithmetic-free; recursion depth = max docs per bucket
      "pack_sequences" ->
        """WITH RECURSIVE t AS (
          |  SELECT doc_id, n_chars AS cost,
          |         CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 13)) AS BIGINT) AS h
          |  FROM documents
          |  WHERE doc_id IS NOT NULL AND n_chars IS NOT NULL AND n_chars > 0),
          |o AS (
          |  SELECT doc_id, cost, h % 8 AS bucket,
          |         row_number() OVER (PARTITION BY h % 8 ORDER BY h, doc_id) AS rn
          |  FROM t),
          |packed AS (
          |  SELECT doc_id, cost, bucket, rn,
          |         CAST(0 AS BIGINT) AS seq, CAST(1 AS BIGINT) AS slot, cost AS fill
          |  FROM o WHERE rn = 1
          |  UNION ALL
          |  SELECT o.doc_id, o.cost, o.bucket, o.rn,
          |         CASE WHEN p.fill + o.cost <= 1000 THEN p.seq ELSE p.seq + 1 END,
          |         CASE WHEN p.fill + o.cost <= 1000 THEN p.slot + 1 ELSE CAST(1 AS BIGINT) END,
          |         CASE WHEN p.fill + o.cost <= 1000 THEN p.fill + o.cost ELSE o.cost END
          |  FROM o JOIN packed p ON o.bucket = p.bucket AND o.rn = p.rn + 1)
          |SELECT doc_id, bucket, seq, slot FROM packed ORDER BY doc_id""".stripMargin,
      // replays Url.normalize stage by stage over the identical
      // rendered messy URL (scheme/host case, default ports, fragment,
      // trailing slashes, byte-order param sort); %11 rows have no
      // scheme and must surface NULL
      "url_normalize" ->
        s"""WITH ${urlNormSql(s"u AS (SELECT doc_id, $messyUrlSql AS url FROM documents)")}
           |SELECT doc_id, url, url_norm FROM norm ORDER BY doc_id""".stripMargin,
      // normalization collapses the two messy spellings of each pair;
      // min-id witness + carrier count (the C1 rule on URL identity)
      "url_dedup" ->
        s"""WITH ${urlNormSql(s"u AS (SELECT doc_id, $dupUrlSql AS url FROM documents)")}
           |SELECT url_norm, MIN(doc_id) AS keep_id, COUNT(*) AS n_dups
           |FROM norm WHERE url_norm IS NOT NULL
           |GROUP BY url_norm ORDER BY keep_id""".stripMargin,
      // the S1 smallest-md5 law as a window: each domain's 10 lowest
      // (hash52(doc_id), doc_id) rows survive
      "url_domain_cap" ->
        s"""WITH ${urlNormSql(s"u AS (SELECT doc_id, $messyUrlSql AS url FROM documents)")},
           |dom AS (SELECT doc_id,
           |  CASE WHEN lower(regexp_extract(trim(url), '^[A-Za-z][A-Za-z0-9+.-]*://([^/:?#]*)', 1)) = ''
           |       THEN NULL
           |       ELSE lower(regexp_extract(trim(url), '^[A-Za-z][A-Za-z0-9+.-]*://([^/:?#]*)', 1)) END AS domain
           |  FROM u),
           |r AS (SELECT domain, doc_id,
           |  row_number() OVER (PARTITION BY domain
           |    ORDER BY CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 13)) AS BIGINT),
           |             doc_id) AS rn
           |  FROM dom WHERE domain IS NOT NULL AND doc_id IS NOT NULL)
           |SELECT domain, doc_id FROM r WHERE rn <= 10
           |ORDER BY domain, doc_id""".stripMargin,
      // the PSL resolution replayed as the expected CASE per rule
      // class; the invalid row gates the NULL contract
      "url_reg_domain" ->
        """WITH u AS (SELECT doc_id, CAST(doc_id % 8 AS INT) AS k,
          |                  CAST(doc_id % 5 AS VARCHAR) AS n FROM documents)
          |SELECT doc_id,
          |  CASE k WHEN 0 THEN 'www.site' || n || '.co.uk'
          |         WHEN 1 THEN 'a.b.site' || n || '.com'
          |         WHEN 2 THEN 'site' || n || '.github.io'
          |         WHEN 3 THEN 'deep.sub.site' || n || '.com.au'
          |         WHEN 4 THEN 'x.unknowntld'
          |         WHEN 5 THEN 'foo.www.ck'
          |         WHEN 6 THEN 'a.b.ck'
          |         ELSE 'not a url ' || CAST(doc_id AS VARCHAR) END AS host,
          |  CASE k WHEN 0 THEN 'co.uk' WHEN 1 THEN 'com' WHEN 2 THEN 'github.io'
          |         WHEN 3 THEN 'com.au' WHEN 4 THEN 'unknowntld' WHEN 5 THEN 'ck'
          |         WHEN 6 THEN 'b.ck' ELSE NULL END AS suffix,
          |  CASE k WHEN 0 THEN 'site' || n || '.co.uk'
          |         WHEN 1 THEN 'site' || n || '.com'
          |         WHEN 2 THEN 'site' || n || '.github.io'
          |         WHEN 3 THEN 'site' || n || '.com.au'
          |         WHEN 4 THEN 'x.unknowntld' WHEN 5 THEN 'www.ck'
          |         WHEN 6 THEN 'a.b.ck' ELSE NULL END AS reg_domain
          |FROM u ORDER BY doc_id""".stripMargin,
      // the Bloom anti-join result IS the plain anti join: survivors =
      // domains off the list, plus NULL-domain rows (nothing to block)
      "url_domain_blocklist" ->
        s"""WITH u AS (SELECT doc_id, $messyUrlSql AS url FROM documents),
           |dom AS (SELECT doc_id,
           |  CASE WHEN lower(regexp_extract(trim(url), '^[A-Za-z][A-Za-z0-9+.-]*://([^/:?#]*)', 1)) = ''
           |       THEN NULL
           |       ELSE lower(regexp_extract(trim(url), '^[A-Za-z][A-Za-z0-9+.-]*://([^/:?#]*)', 1)) END AS domain
           |  FROM u)
           |SELECT doc_id, domain FROM dom
           |WHERE domain IS NULL OR domain NOT IN ('ex0.org', 'ex3.org')
           |ORDER BY doc_id""".stripMargin,
      "dedup_exact" ->
        """SELECT md5(text) AS h, MIN(doc_id) AS keep_id, COUNT(*) AS n_dups
          |FROM documents GROUP BY md5(text) ORDER BY keep_id""".stripMargin,
      "dedup_text_droplist_exact" ->
        """WITH corpus AS (
          |  SELECT doc_id, text FROM documents
          |  UNION ALL
          |  SELECT doc_id + 100000, text FROM documents WHERE doc_id % 50 = 0),
          |rep AS (
          |  SELECT md5(text) AS h, MIN(doc_id) AS keep_id
          |  FROM corpus GROUP BY md5(text))
          |SELECT c.doc_id AS drop_id, r.keep_id,
          |       'exact' AS reason, CAST(1.0 AS DOUBLE) AS est_jaccard
          |FROM corpus c JOIN rep r ON md5(c.text) = r.h
          |WHERE c.doc_id <> r.keep_id
          |ORDER BY drop_id""".stripMargin,
      // list-arithmetic replay of the exact shingle Jaccard: same
      // tokenization (lower/trim/\s+), same distinct 3-token windows
      // (short docs -> one whole-doc shingle via the greatest/least
      // clamps), same inter/union division
      // full-pipeline replay of the pinned MinHash-LSH face: same
      // tokenization/shingles as the jaccard oracle, signature slot i =
      // min md5('i:' || shingle) (hex minima order identically in both
      // engines), band bucket = md5 of the '|'-joined 3-slot slice,
      // candidate pairs from the bucket self-join, estimate = matching
      // slots / 12
      "dedup_minhash_lsh_pinned" ->
        """WITH corpus AS (
          |  SELECT doc_id, text FROM documents
          |  UNION ALL
          |  SELECT doc_id + 100000, text FROM documents WHERE doc_id % 50 = 0),
          |t AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS toks
          |      FROM corpus),
          |sh AS (SELECT doc_id,
          |         list_distinct(list_transform(range(1, greatest(len(toks) - 2, 1) + 1),
          |           i -> array_to_string(list_slice(toks, i, least(i + 2, len(toks))), ' '))) AS s
          |       FROM t),
          |sig AS (SELECT doc_id,
          |          [list_min(list_transform(s, x -> md5(i::VARCHAR || ':' || x)))
          |           for i in range(0, 12)] AS sig
          |        FROM sh WHERE len(s) > 0),
          |band AS (SELECT doc_id,
          |           b, md5(array_to_string(sig[b*3+1 : b*3+3], '|')) AS bucket
          |         FROM sig, range(0, 4) AS r(b)),
          |c AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
          |      FROM band a JOIN band b
          |        ON a.b = b.b AND a.bucket = b.bucket AND a.doc_id < b.doc_id),
          |e AS (SELECT id_a, id_b,
          |        CAST(len([1 for i in range(1, 13) if sa.sig[i] = sb.sig[i]]) AS DOUBLE) / 12
          |          AS est_jaccard
          |      FROM c JOIN sig sa ON c.id_a = sa.doc_id
          |             JOIN sig sb ON c.id_b = sb.doc_id)
          |SELECT id_a, id_b, est_jaccard FROM e
          |WHERE est_jaccard >= 0.5 ORDER BY id_a, id_b""".stripMargin,
      // replays the pinned SimHash pipeline term-for-term: 52-bit
      // md5-prefix token hash, ±1 vote per bit with token MULTIPLICITY
      // (every occurrence votes), bit set iff the sum is strictly
      // positive, 4×13-bit banding, bit_count(xor) verify ≤ 4
      "dedup_simhash_pinned" ->
        """WITH corpus AS (
          |  SELECT doc_id, text FROM documents
          |  UNION ALL
          |  SELECT doc_id + 100000, text FROM documents WHERE doc_id % 50 = 0),
          |tok AS (SELECT doc_id,
          |          unnest(string_split_regex(lower(trim(text)), '\s+')) AS tok
          |        FROM corpus),
          |h AS (SELECT doc_id, CAST(('0x' || substr(md5(tok), 1, 13)) AS BIGINT) AS h FROM tok),
          |vote AS (SELECT doc_id, j,
          |           SUM(CASE WHEN (h >> j) & 1 = 1 THEN 1 ELSE -1 END) AS v
          |         FROM h, UNNEST(generate_series(0, 51)) AS g(j)
          |         GROUP BY doc_id, j),
          |sim AS (SELECT doc_id,
          |          CAST(SUM(CASE WHEN v > 0 THEN (CAST(1 AS BIGINT) << j) ELSE 0 END) AS BIGINT)
          |            AS sim
          |        FROM vote GROUP BY doc_id),
          |banded AS (SELECT doc_id, sim, band, (sim >> (band * 13)) & 8191 AS bucket
          |           FROM sim, UNNEST(generate_series(0, 3)) AS bb(band)),
          |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
          |                CAST(bit_count(xor(a.sim, b.sim)) AS INTEGER) AS hamming
          |         FROM banded a JOIN banded b
          |           ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id)
          |SELECT id_a, id_b, hamming FROM cand
          |WHERE hamming <= 4 ORDER BY id_a, id_b""".stripMargin,
      "dedup_ngram_jaccard_exact" ->
        """WITH t AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS toks
          |           FROM documents WHERE doc_id % 2 = 0 AND doc_id < 1000),
          |sh AS (SELECT doc_id,
          |         list_distinct(list_transform(range(1, greatest(len(toks) - 2, 1) + 1),
          |           i -> array_to_string(list_slice(toks, i, least(i + 2, len(toks))), ' '))) AS s
          |       FROM t),
          |p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
          |             len(list_intersect(a.s, b.s)) AS inter,
          |             len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)) AS un
          |      FROM sh a JOIN sh b ON a.doc_id < b.doc_id)
          |SELECT id_a, id_b,
          |       CASE WHEN un = 0 THEN 1.0 ELSE CAST(inter AS DOUBLE) / un END AS jaccard
          |FROM p
          |WHERE CASE WHEN un = 0 THEN 1.0 ELSE CAST(inter AS DOUBLE) / un END >= 0.5
          |ORDER BY id_a, id_b""".stripMargin,
      "dedup_embedding" ->
        s"""WITH p AS (
          |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
          |         ${dot("a.embedding", "b.embedding")} AS dp,
          |         sqrt(${dot("a.embedding", "a.embedding")}) AS na,
          |         sqrt(${dot("b.embedding", "b.embedding")}) AS nb
          |  FROM embeddings a JOIN embeddings b
          |    ON a.label = b.label AND a.vec_id < b.vec_id)
          |SELECT id_a, id_b, dp/(na*nb) AS cos FROM p
          |WHERE dp/(na*nb) >= 0.35 ORDER BY id_a, id_b""".stripMargin,
      "dedup_embedding_droplist_exact" ->
        """WITH corpus AS (
          |  SELECT vec_id, embedding FROM embeddings
          |  UNION ALL
          |  SELECT vec_id + 100000, embedding FROM embeddings WHERE vec_id % 50 = 0),
          |rep AS (
          |  SELECT embedding AS v, MIN(vec_id) AS keep_id
          |  FROM corpus GROUP BY embedding)
          |SELECT c.vec_id AS drop_id, r.keep_id,
          |       'exact' AS reason, CAST(1.0 AS DOUBLE) AS cos
          |FROM corpus c JOIN rep r ON c.embedding = r.v
          |WHERE c.vec_id <> r.keep_id
          |ORDER BY drop_id""".stripMargin,
      // same pair set as dedup_embedding; components via recursive-CTE
      // transitive closure (quadratic in cluster size — oracle-only;
      // the engine runs the O(log²)-round star algorithm)
      "dedup_clusters" ->
        s"""WITH RECURSIVE
          |p AS (
          |  SELECT a.vec_id AS id_a, b.vec_id AS id_b
          |  FROM embeddings a JOIN embeddings b
          |    ON a.label = b.label AND a.vec_id < b.vec_id
          |  WHERE ${dot("a.embedding", "b.embedding")} /
          |        (sqrt(${dot("a.embedding", "a.embedding")}) * sqrt(${dot("b.embedding", "b.embedding")})) >= 0.35),
          |e AS (SELECT id_a AS u, id_b AS v FROM p UNION SELECT id_b, id_a FROM p),
          |reach AS (
          |  SELECT u AS id, v AS r FROM e
          |  UNION
          |  SELECT e.u, reach.r FROM e JOIN reach ON e.v = reach.id),
          |root AS (SELECT id, LEAST(id, MIN(r)) AS root FROM reach GROUP BY id)
          |SELECT r.id, r.root, c.cluster_size
          |FROM root r JOIN (SELECT root, COUNT(*) AS cluster_size FROM root GROUP BY root) c USING (root)
          |ORDER BY id""".stripMargin,
      // the INDEPENDENT all-pairs verify: banding completeness means
      // the candidate route must reproduce the brute-force answer
      "dedup_fuzzy_pairs" ->
        """SELECT a.s_suppkey AS id_a, b.s_suppkey AS id_b,
          |       CAST(levenshtein(a.s_name, b.s_name) AS INTEGER) AS dist
          |FROM supplier a JOIN supplier b ON a.s_suppkey < b.s_suppkey
          |WHERE levenshtein(a.s_name, b.s_name) <= 1
          |ORDER BY id_a, id_b""".stripMargin,
      // the C9 components replay feeding the 2^52-div-size integer
      // threshold; singletons (no pair) coalesce to size 1
      "sample_soft_dedup" ->
        s"""WITH RECURSIVE
          |p AS (
          |  SELECT a.vec_id AS id_a, b.vec_id AS id_b
          |  FROM embeddings a JOIN embeddings b
          |    ON a.label = b.label AND a.vec_id < b.vec_id
          |  WHERE ${dot("a.embedding", "b.embedding")} /
          |        (sqrt(${dot("a.embedding", "a.embedding")}) * sqrt(${dot("b.embedding", "b.embedding")})) >= 0.35),
          |e AS (SELECT id_a AS u, id_b AS v FROM p UNION SELECT id_b, id_a FROM p),
          |reach AS (
          |  SELECT u AS id, v AS r FROM e
          |  UNION
          |  SELECT e.u, reach.r FROM e JOIN reach ON e.v = reach.id),
          |root AS (SELECT id, LEAST(id, MIN(r)) AS root FROM reach GROUP BY id),
          |cz AS (SELECT r.id, c.cluster_size
          |       FROM root r JOIN (SELECT root, COUNT(*) AS cluster_size FROM root GROUP BY root) c USING (root)),
          |k AS (SELECT vec_id, COALESCE(cz.cluster_size, 1) AS cluster_size,
          |             CAST(('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 13)) AS BIGINT)
          |               < (4503599627370496 // COALESCE(cz.cluster_size, 1)) AS kept
          |      FROM embeddings LEFT JOIN cz ON cz.id = embeddings.vec_id)
          |SELECT cluster_size, COUNT(*) AS n,
          |       CAST(SUM(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
          |       MIN(CASE WHEN kept THEN vec_id END) AS min_kept
          |FROM k GROUP BY cluster_size ORDER BY cluster_size""".stripMargin,
      // term-for-term SemDeDup replay: decorated corpus, pinned-cell
      // assignment (normalized-centroid dot, lowest cell on ties),
      // within-cell pairs at cos >= 0.98, recursive-CTE components
      // (min-root, the C9 contract), keep = per-root argmin of
      // (cos_to_centroid, id)
      "dedup_semantic" ->
        s"""WITH RECURSIVE
          |ed AS (
          |  SELECT vec_id, embedding FROM embeddings
          |  UNION ALL
          |  SELECT vec_id + 10000, list_transform(embedding, x -> CAST(x * 2 AS FLOAT))
          |  FROM embeddings WHERE vec_id % 20 = 0
          |  UNION ALL
          |  SELECT vec_id + 20000, embedding FROM embeddings WHERE vec_id % 40 = 0),
          |cent AS (
          |  SELECT vec_id AS cell, embedding AS c,
          |         sqrt(${dot("embedding", "embedding")}) AS nrm
          |  FROM embeddings WHERE vec_id % 128 = 3),
          |cn AS (
          |  SELECT cell, c, nrm,
          |         list_transform(c, x -> CASE WHEN nrm = 0 THEN CAST(x AS DOUBLE)
          |                                     ELSE CAST(x AS DOUBLE) / nrm END) AS cnorm
          |  FROM cent),
          |assign AS (
          |  SELECT e.vec_id, cn.cell,
          |         row_number() OVER (PARTITION BY e.vec_id
          |           ORDER BY ${dot("e.embedding", "cn.cnorm")} DESC, cn.cell ASC) AS rn
          |  FROM ed e CROSS JOIN cn),
          |a AS (SELECT vec_id, cell FROM assign WHERE rn = 1),
          |cc AS (
          |  SELECT a.vec_id, a.cell, ${cosSql("e.embedding", "cn.c")} AS ccos
          |  FROM a JOIN ed e USING (vec_id) JOIN cn ON cn.cell = a.cell),
          |p AS (
          |  SELECT ax.vec_id AS id_a, ay.vec_id AS id_b
          |  FROM a ax JOIN a ay ON ax.cell = ay.cell AND ax.vec_id < ay.vec_id
          |       JOIN ed ex ON ex.vec_id = ax.vec_id
          |       JOIN ed ey ON ey.vec_id = ay.vec_id
          |  WHERE ${cosSql("ex.embedding", "ey.embedding")} >= 0.98),
          |e2 AS (SELECT id_a AS u, id_b AS v FROM p UNION SELECT id_b, id_a FROM p),
          |reach AS (
          |  SELECT u AS id, v AS r FROM e2
          |  UNION
          |  SELECT e2.u, reach.r FROM e2 JOIN reach ON e2.v = reach.id),
          |rt AS (SELECT id, LEAST(id, MIN(r)) AS root FROM reach GROUP BY id),
          |kp AS (
          |  SELECT root, id AS keep_id FROM (
          |    SELECT rt.root, rt.id,
          |           row_number() OVER (PARTITION BY rt.root ORDER BY cc.ccos ASC, rt.id ASC) AS krn
          |    FROM rt JOIN cc ON cc.vec_id = rt.id) t
          |  WHERE krn = 1)
          |SELECT cc.vec_id, cc.cell, COALESCE(rt.root, cc.vec_id) AS component,
          |       cc.ccos AS cos_centroid,
          |       (rt.id IS NULL OR cc.vec_id = kp.keep_id) AS keep
          |FROM cc LEFT JOIN rt ON rt.id = cc.vec_id
          |        LEFT JOIN kp ON kp.root = rt.root
          |ORDER BY vec_id""".stripMargin,
      // the full published SemDeDup pipeline in one replay: the
      // kmeans training CTEs feed the cent table (double centroids
      // cast REAL — the cell-frame storage type), then the
      // dedup_semantic structure verbatim over the decorated corpus
      "dedup_semantic_kmeans" ->
        s"""WITH RECURSIVE
          |qz AS (SELECT vec_id, embedding,
          |         list_max(list_transform(embedding, y -> abs(CAST(y AS DOUBLE)))) AS s
          |       FROM embeddings),
          |km_codes AS (SELECT vec_id,
          |               list_transform(embedding, e -> CAST(round(CAST(e AS DOUBLE) * 127 / s) AS BIGINT)) AS v
          |             FROM qz),
          |km_seeds AS (SELECT vec_id FROM km_codes ORDER BY vec_id LIMIT 8),
          |kc0 AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS cluster,
          |               list_transform(v, x -> CAST(x AS DOUBLE)) AS c
          |        FROM km_codes WHERE vec_id IN (SELECT vec_id FROM km_seeds)),
          |${kmIter(1)}
          |${kmIter(2)}
          |ed AS (
          |  SELECT vec_id, embedding FROM embeddings
          |  UNION ALL
          |  SELECT vec_id + 10000, list_transform(embedding, x -> CAST(x * 2 AS FLOAT))
          |  FROM embeddings WHERE vec_id % 20 = 0
          |  UNION ALL
          |  SELECT vec_id + 20000, embedding FROM embeddings WHERE vec_id % 40 = 0),
          |cent AS (
          |  SELECT cluster AS cell, list_transform(c, x -> CAST(x AS REAL)) AS c
          |  FROM kc2),
          |cent2 AS (SELECT cell, c, sqrt(${dot("c", "c")}) AS nrm FROM cent),
          |cn AS (
          |  SELECT cell, c, nrm,
          |         list_transform(c, x -> CASE WHEN nrm = 0 THEN CAST(x AS DOUBLE)
          |                                     ELSE CAST(x AS DOUBLE) / nrm END) AS cnorm
          |  FROM cent2),
          |assign AS (
          |  SELECT e.vec_id, cn.cell,
          |         row_number() OVER (PARTITION BY e.vec_id
          |           ORDER BY ${dot("e.embedding", "cn.cnorm")} DESC, cn.cell ASC) AS rn
          |  FROM ed e CROSS JOIN cn),
          |a AS (SELECT vec_id, cell FROM assign WHERE rn = 1),
          |cc AS (
          |  SELECT a.vec_id, a.cell, ${cosSql("e.embedding", "cn.c")} AS ccos
          |  FROM a JOIN ed e USING (vec_id) JOIN cn ON cn.cell = a.cell),
          |p AS (
          |  SELECT ax.vec_id AS id_a, ay.vec_id AS id_b
          |  FROM a ax JOIN a ay ON ax.cell = ay.cell AND ax.vec_id < ay.vec_id
          |       JOIN ed ex ON ex.vec_id = ax.vec_id
          |       JOIN ed ey ON ey.vec_id = ay.vec_id
          |  WHERE ${cosSql("ex.embedding", "ey.embedding")} >= 0.98),
          |e2 AS (SELECT id_a AS u, id_b AS v FROM p UNION SELECT id_b, id_a FROM p),
          |reach AS (
          |  SELECT u AS id, v AS r FROM e2
          |  UNION
          |  SELECT e2.u, reach.r FROM e2 JOIN reach ON e2.v = reach.id),
          |rt AS (SELECT id, LEAST(id, MIN(r)) AS root FROM reach GROUP BY id),
          |kp AS (
          |  SELECT root, id AS keep_id FROM (
          |    SELECT rt.root, rt.id,
          |           row_number() OVER (PARTITION BY rt.root ORDER BY cc.ccos ASC, rt.id ASC) AS krn
          |    FROM rt JOIN cc ON cc.vec_id = rt.id) t
          |  WHERE krn = 1)
          |SELECT cc.vec_id, cc.cell, COALESCE(rt.root, cc.vec_id) AS component,
          |       cc.ccos AS cos_centroid,
          |       (rt.id IS NULL OR cc.vec_id = kp.keep_id) AS keep
          |FROM cc LEFT JOIN rt ON rt.id = cc.vec_id
          |        LEFT JOIN kp ON kp.root = rt.root
          |ORDER BY vec_id""".stripMargin,
      "pack_shuffle" ->
        """WITH h AS (
          |  SELECT doc_id,
          |         CAST(('0x' || substr(md5('7:' || CAST(doc_id AS VARCHAR)), 1, 13)) AS BIGINT) AS hv
          |  FROM documents)
          |SELECT doc_id, hv % 8 AS shard,
          |       row_number() OVER (PARTITION BY hv % 8 ORDER BY hv, doc_id) AS pos
          |FROM h ORDER BY shard, pos""".stripMargin,
      // legs replay exactly: integer Σtf + row_number for the lexical
      // ranks, the D1 cosine formula for the vector ranks, bit-exact
      // double division for RRF; CAST(1 AS DOUBLE) keeps DuckDB off
      // its decimal-division path
      "search_hybrid" ->
        s"""WITH q AS (
          |  SELECT d.doc_id AS qid, d.text AS qtext, e.embedding AS qvec
          |  FROM documents d JOIN embeddings e ON e.vec_id = d.doc_id
          |  WHERE d.doc_id % 50 = 0),
          |tf AS (
          |  SELECT doc_id, token, COUNT(*) AS tf FROM (
          |    SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\\s+')) AS token
          |    FROM documents) GROUP BY doc_id, token),
          |qt AS (
          |  SELECT qid, unnest(list_distinct(string_split_regex(lower(trim(qtext)), '\\s+'))) AS token
          |  FROM q),
          |-- stopword guard: query tokens in > 10% of docs carry no
          |-- ranking signal and only fan out the join (same cap as the
          |-- Spark side; df computed over query-matching tokens)
          |rare AS (
          |  SELECT token FROM (
          |    SELECT token, COUNT(*) AS df FROM tf
          |    WHERE token IN (SELECT DISTINCT token FROM qt) GROUP BY token)
          |  WHERE CAST(df AS DOUBLE) <= (SELECT COUNT(*) FROM documents) * CAST(0.1 AS DOUBLE)),
          |lex AS (
          |  SELECT qid, doc_id, SUM(tf) AS s FROM qt
          |  JOIN rare USING (token) JOIN tf USING (token) GROUP BY qid, doc_id),
          |lexn AS (
          |  SELECT qid, doc_id, lex_rank FROM (
          |    SELECT qid, doc_id,
          |           row_number() OVER (PARTITION BY qid ORDER BY s DESC, doc_id) AS lex_rank
          |    FROM lex) WHERE lex_rank <= 20),
          |cos AS (
          |  SELECT q.qid, e.vec_id AS doc_id,
          |         ${dot("q.qvec", "e.embedding")} /
          |           (sqrt(${dot("q.qvec", "q.qvec")}) * sqrt(${dot("e.embedding", "e.embedding")})) AS c
          |  FROM q JOIN embeddings e ON TRUE),
          |cosn AS (
          |  SELECT qid, doc_id, vec_rank FROM (
          |    SELECT qid, doc_id,
          |           row_number() OVER (PARTITION BY qid ORDER BY c DESC, doc_id) AS vec_rank
          |    FROM cos) WHERE vec_rank <= 20),
          |fused AS (
          |  SELECT COALESCE(l.qid, v.qid) AS qid, COALESCE(l.doc_id, v.doc_id) AS doc_id,
          |         COALESCE(CAST(1 AS DOUBLE)/(l.lex_rank + 60), CAST(0 AS DOUBLE)) +
          |           COALESCE(CAST(1 AS DOUBLE)/(v.vec_rank + 60), CAST(0 AS DOUBLE)) AS rrf,
          |         COALESCE(l.lex_rank, 0) AS lex_rank,
          |         COALESCE(v.vec_rank, 0) AS vec_rank
          |  FROM lexn l FULL OUTER JOIN cosn v ON l.qid = v.qid AND l.doc_id = v.doc_id)
          |SELECT qid, doc_id, rrf, lex_rank, vec_rank FROM (
          |  SELECT qid, doc_id, rrf, lex_rank, vec_rank,
          |         row_number() OVER (PARTITION BY qid ORDER BY rrf DESC, doc_id) AS rn
          |  FROM fused) WHERE rn <= 10
          |ORDER BY qid, doc_id""".stripMargin,
      // the state fold at (event_type, user_id) granularity reproduces
      // the whole-history distinct count exactly — COUNT(DISTINCT) is
      // the oracle; per-type n re-sums the per-user counts
      "fx_incremental_users_exact" ->
        """SELECT event_type, COUNT(DISTINCT user_id) AS exact_users, COUNT(*) AS n
          |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
      // exact-regime HLL: below the coupon-promotion threshold the
      // Datasketches estimate IS the distinct count (LIST/SET mode
      // stores hashes exactly; merge is coupon union) — COUNT(DISTINCT)
      // replays it
      "fx_incremental_users" ->
        """SELECT event_type, COUNT(DISTINCT user_id) AS approx_users, COUNT(*) AS n
          |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
      // term-for-term replay of the pinned-centroid IVF routing:
      // NearestCell normalizes each centroid component first (x/nrm,
      // double), then dots the raw float vector against it — the CASE
      // keeps a zero-norm centroid unnormalized, as compute() does.
      // Probe ranking and the in-cell top-k use the CosineSim formula
      // (dot / (sqrt(qq) * sqrt(cc))); all ties break on the lower id,
      // matching the aggregates' (score desc, id asc) contract.
      // replays the pinned hyperplane-LSH routing: dense plane
      // positions by pid rank, bit = (dot > 0) — sign-identical to the
      // Spark side's cosine > 0 (positive norms never flip a sign, and
      // a zero dot is not-positive through both spellings) — bucket =
      // Σ bit·2^(pos mod bandBits) per band, candidate join on
      // (band, bucket), exact-cosine top-10 by (cos DESC, vec_id)
      "ann_lsh_topk_pinned" ->
        s"""WITH pl0 AS (
          |  SELECT vec_id AS pid, embedding AS pvec FROM embeddings
          |  WHERE vec_id % 64 = 2 ORDER BY vec_id LIMIT 16),
          |nb AS (SELECT CAST(count(*) // 4 AS INT) AS bits FROM pl0),
          |pl AS (
          |  SELECT pvec,
          |         CAST((rn - 1) // bits AS INT) AS band,
          |         CAST(CAST(1 AS BIGINT) << ((rn - 1) % bits) AS BIGINT) AS w
          |  FROM (SELECT pvec, row_number() OVER (ORDER BY pid) AS rn FROM pl0), nb),
          |csig AS (
          |  SELECT e.vec_id, pl.band,
          |         SUM(CASE WHEN ${dot("e.embedding", "pl.pvec")} > 0 THEN pl.w ELSE 0 END) AS bucket
          |  FROM embeddings e CROSS JOIN pl GROUP BY e.vec_id, pl.band),
          |q AS (SELECT vec_id AS qid, embedding AS qvec FROM embeddings WHERE vec_id < 5),
          |qsig AS (
          |  SELECT q.qid, pl.band,
          |         SUM(CASE WHEN ${dot("q.qvec", "pl.pvec")} > 0 THEN pl.w ELSE 0 END) AS bucket
          |  FROM q CROSS JOIN pl GROUP BY q.qid, pl.band),
          |cand AS (
          |  SELECT DISTINCT qsig.qid, csig.vec_id
          |  FROM csig JOIN qsig ON csig.band = qsig.band AND csig.bucket = qsig.bucket
          |  WHERE qsig.qid <> csig.vec_id),
          |scored AS (
          |  SELECT c.qid, c.vec_id,
          |         ${dot("q.qvec", "e.embedding")} /
          |           (sqrt(${dot("q.qvec", "q.qvec")}) * sqrt(${dot("e.embedding", "e.embedding")})) AS cos
          |  FROM cand c JOIN q ON q.qid = c.qid
          |         JOIN embeddings e ON e.vec_id = c.vec_id)
          |SELECT qid, vec_id, cos, rank FROM (
          |  SELECT qid, vec_id, cos,
          |         row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rank
          |  FROM scored)
          |WHERE rank <= 10 ORDER BY qid, rank""".stripMargin,
      "ann_ivf_topk_pinned" ->
        s"""WITH cent AS (
          |  SELECT vec_id AS cell, embedding AS c,
          |         sqrt(${dot("embedding", "embedding")}) AS nrm
          |  FROM embeddings WHERE vec_id % 128 = 3),
          |cn AS (
          |  SELECT cell, c, nrm,
          |         list_transform(c, x -> CASE WHEN nrm = 0 THEN CAST(x AS DOUBLE)
          |                                     ELSE CAST(x AS DOUBLE) / nrm END) AS cnorm
          |  FROM cent),
          |assign AS (
          |  SELECT e.vec_id, cn.cell,
          |         row_number() OVER (PARTITION BY e.vec_id
          |           ORDER BY ${dot("e.embedding", "cn.cnorm")} DESC, cn.cell ASC) AS rn
          |  FROM embeddings e CROSS JOIN cn),
          |a AS (SELECT vec_id, cell FROM assign WHERE rn = 1),
          |q AS (SELECT vec_id AS qid, embedding AS qvec FROM embeddings WHERE vec_id < 5),
          |probe AS (
          |  SELECT q.qid, cn.cell,
          |         row_number() OVER (PARTITION BY q.qid
          |           ORDER BY ${dot("q.qvec", "cn.c")} /
          |             (sqrt(${dot("q.qvec", "q.qvec")}) * cn.nrm) DESC, cn.cell ASC) AS prn
          |  FROM q CROSS JOIN cn),
          |p AS (SELECT qid, cell FROM probe WHERE prn <= 5),
          |scored AS (
          |  SELECT q.qid, e.vec_id,
          |         ${dot("q.qvec", "e.embedding")} /
          |           (sqrt(${dot("q.qvec", "q.qvec")}) * sqrt(${dot("e.embedding", "e.embedding")})) AS cos
          |  FROM q JOIN p ON p.qid = q.qid
          |         JOIN a ON a.cell = p.cell
          |         JOIN embeddings e ON e.vec_id = a.vec_id AND e.vec_id <> q.qid)
          |SELECT qid, vec_id, cos, rank FROM (
          |  SELECT qid, vec_id, cos,
          |         row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rank
          |  FROM scored)
          |WHERE rank <= 10 ORDER BY qid, rank""".stripMargin,
      // replays the COMPOSED IVF-PQ (D12) end to end: the D3b pinned
      // assignment/probe block routes each query to its 5 cells, the
      // D8b pinned encode/LUT/ADC block scores ONLY vectors in those
      // cells, rerank-64 cut by (adc DESC, vec_id), final top-10 by
      // exact cosine — every stage deterministic double arithmetic
      "ann_ivfpq_topk" ->
        s"""WITH cent AS (
          |  SELECT vec_id AS cell, embedding AS c,
          |         sqrt(${dot("embedding", "embedding")}) AS nrm
          |  FROM embeddings WHERE vec_id % 128 = 3),
          |cn AS (
          |  SELECT cell, c, nrm,
          |         list_transform(c, x -> CASE WHEN nrm = 0 THEN CAST(x AS DOUBLE)
          |                                     ELSE CAST(x AS DOUBLE) / nrm END) AS cnorm
          |  FROM cent),
          |assign AS (
          |  SELECT e.vec_id, cn.cell,
          |         row_number() OVER (PARTITION BY e.vec_id
          |           ORDER BY ${dot("e.embedding", "cn.cnorm")} DESC, cn.cell ASC) AS rn
          |  FROM embeddings e CROSS JOIN cn),
          |a AS (SELECT vec_id, cell FROM assign WHERE rn = 1),
          |q AS (SELECT vec_id AS qid, embedding AS qvec FROM embeddings WHERE vec_id < 5),
          |probe AS (
          |  SELECT q.qid, cn.cell,
          |         row_number() OVER (PARTITION BY q.qid
          |           ORDER BY ${dot("q.qvec", "cn.c")} /
          |             (sqrt(${dot("q.qvec", "q.qvec")}) * cn.nrm) DESC, cn.cell ASC) AS prn
          |  FROM q CROSS JOIN cn),
          |p AS (SELECT qid, cell FROM probe WHERE prn <= 5),
          |anch AS (
          |  SELECT (vec_id - 1) // 32 AS j, embedding AS a
          |  FROM embeddings WHERE vec_id % 32 = 1
          |  ORDER BY vec_id LIMIT 256),
          |sub AS (
          |  SELECT sq.s, anch.j, list_slice(anch.a, sq.s*8 + 1, sq.s*8 + 8) AS c
          |  FROM anch CROSS JOIN (SELECT unnest(range(0, 8)) AS s) sq),
          |nv AS (
          |  SELECT vec_id, sqrt(${dot("embedding", "embedding")}) AS nrm, embedding
          |  FROM embeddings),
          |nvn AS (
          |  SELECT vec_id,
          |         CASE WHEN nrm > 0 THEN list_transform(embedding, x -> CAST(x AS DOUBLE) / nrm)
          |              ELSE list_transform(embedding, x -> CAST(x AS DOUBLE)) END AS v
          |  FROM nv),
          |enc AS (
          |  SELECT nvn.vec_id, sub.s, sub.j,
          |         row_number() OVER (PARTITION BY nvn.vec_id, sub.s ORDER BY
          |           list_aggregate(list_transform(list_zip(list_slice(nvn.v, sub.s*8 + 1, sub.s*8 + 8), sub.c),
          |             x -> (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE)) * (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE))), 'sum') ASC,
          |           sub.j ASC) AS rn
          |  FROM nvn CROSS JOIN sub),
          |codes AS (SELECT vec_id, s, j FROM enc WHERE rn = 1),
          |lut AS (
          |  SELECT q.qid, sub.s, sub.j,
          |         ${dot("list_slice(q.qvec, sub.s*8 + 1, sub.s*8 + 8)", "sub.c")} AS pdot
          |  FROM q CROSS JOIN sub),
          |adc AS (
          |  SELECT l.qid, c.vec_id,
          |         list_aggregate(list(l.pdot ORDER BY l.s), 'sum') AS adc
          |  FROM codes c
          |  JOIN a ON a.vec_id = c.vec_id
          |  JOIN p ON p.cell = a.cell
          |  JOIN lut l ON l.qid = p.qid AND l.s = c.s AND l.j = c.j
          |  WHERE c.vec_id <> l.qid
          |  GROUP BY l.qid, c.vec_id),
          |cand AS (
          |  SELECT qid, vec_id FROM (
          |    SELECT qid, vec_id,
          |           row_number() OVER (PARTITION BY qid ORDER BY adc DESC, vec_id) AS rn
          |    FROM adc) WHERE rn <= 64),
          |scored AS (
          |  SELECT cand.qid, cand.vec_id,
          |         ${dot("q.qvec", "e.embedding")} /
          |           (sqrt(${dot("q.qvec", "q.qvec")}) * sqrt(${dot("e.embedding", "e.embedding")})) AS cos
          |  FROM cand JOIN q ON q.qid = cand.qid
          |            JOIN embeddings e ON e.vec_id = cand.vec_id)
          |SELECT qid, vec_id, cos, rank FROM (
          |  SELECT qid, vec_id, cos,
          |         row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rank
          |  FROM scored)
          |WHERE rank <= 10 ORDER BY qid, rank""".stripMargin,
      // term-for-term replay of the pinned-codebook PQ routing: encode
      // = argmin squared L2 of each NORMALIZED subvector over the 16
      // anchor slices (lowest code on ties); lut = RAW query subvector
      // dotted with each anchor slice; adc sums the m lut hits in
      // subquantizer order (list(... ORDER BY s) keeps the IEEE
      // accumulation order of the native expression); rerank-64 cut by
      // (adc DESC, vec_id), final top-10 by exact cosine
      "ann_pq_topk_pinned" ->
        s"""WITH anch AS (
          |  SELECT (vec_id - 1) // 32 AS j, embedding AS a
          |  FROM embeddings WHERE vec_id % 32 = 1
          |  ORDER BY vec_id LIMIT 256),
          |sub AS (
          |  SELECT sq.s, anch.j, list_slice(anch.a, sq.s*8 + 1, sq.s*8 + 8) AS c
          |  FROM anch CROSS JOIN (SELECT unnest(range(0, 8)) AS s) sq),
          |nv AS (
          |  SELECT vec_id, sqrt(${dot("embedding", "embedding")}) AS nrm, embedding
          |  FROM embeddings),
          |nvn AS (
          |  SELECT vec_id,
          |         CASE WHEN nrm > 0 THEN list_transform(embedding, x -> CAST(x AS DOUBLE) / nrm)
          |              ELSE list_transform(embedding, x -> CAST(x AS DOUBLE)) END AS v
          |  FROM nv),
          |enc AS (
          |  SELECT nvn.vec_id, sub.s, sub.j,
          |         row_number() OVER (PARTITION BY nvn.vec_id, sub.s ORDER BY
          |           list_aggregate(list_transform(list_zip(list_slice(nvn.v, sub.s*8 + 1, sub.s*8 + 8), sub.c),
          |             x -> (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE)) * (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE))), 'sum') ASC,
          |           sub.j ASC) AS rn
          |  FROM nvn CROSS JOIN sub),
          |codes AS (SELECT vec_id, s, j FROM enc WHERE rn = 1),
          |q AS (SELECT vec_id AS qid, embedding AS qvec FROM embeddings WHERE vec_id < 5),
          |lut AS (
          |  SELECT q.qid, sub.s, sub.j,
          |         ${dot("list_slice(q.qvec, sub.s*8 + 1, sub.s*8 + 8)", "sub.c")} AS pdot
          |  FROM q CROSS JOIN sub),
          |adc AS (
          |  SELECT l.qid, c.vec_id,
          |         list_aggregate(list(l.pdot ORDER BY l.s), 'sum') AS adc
          |  FROM codes c JOIN lut l ON l.s = c.s AND l.j = c.j
          |  WHERE c.vec_id <> l.qid
          |  GROUP BY l.qid, c.vec_id),
          |cand AS (
          |  SELECT qid, vec_id FROM (
          |    SELECT qid, vec_id,
          |           row_number() OVER (PARTITION BY qid ORDER BY adc DESC, vec_id) AS rn
          |    FROM adc) WHERE rn <= 64),
          |scored AS (
          |  SELECT cand.qid, cand.vec_id,
          |         ${dot("q.qvec", "e.embedding")} /
          |           (sqrt(${dot("q.qvec", "q.qvec")}) * sqrt(${dot("e.embedding", "e.embedding")})) AS cos
          |  FROM cand JOIN q ON q.qid = cand.qid
          |            JOIN embeddings e ON e.vec_id = cand.vec_id)
          |SELECT qid, vec_id, cos, rank FROM (
          |  SELECT qid, vec_id, cos,
          |         row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rank
          |  FROM scored)
          |WHERE rank <= 10 ORDER BY qid, rank""".stripMargin,
      "ann_bruteforce_topk" ->
        s"""WITH q AS (SELECT vec_id AS qid, embedding AS qvec FROM embeddings WHERE vec_id < 5),
          |scored AS (
          |  SELECT q.qid, e.vec_id,
          |         ${dot("q.qvec", "e.embedding")} /
          |           (sqrt(${dot("q.qvec", "q.qvec")}) * sqrt(${dot("e.embedding", "e.embedding")})) AS cos
          |  FROM q JOIN embeddings e ON e.vec_id <> q.qid)
          |SELECT qid, vec_id, cos, rank FROM (
          |  SELECT qid, vec_id, cos,
          |         row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rank
          |  FROM scored)
          |WHERE rank <= 10 ORDER BY qid, rank""".stripMargin,
      // binary-quantization replay: 32-bit sign words as list sums,
      // hamming via bit_count(xor) over the two words, the stage-1
      // cut as a (ham ASC, id ASC) window, exact re-rank on top
      "ann_binary_topk" ->
        s"""WITH q AS (SELECT vec_id AS qid, embedding AS qvec FROM embeddings WHERE vec_id < 5),
          |qb AS (SELECT qid, qvec,
          |         [CAST(list_sum([CASE WHEN qvec[32*w + i + 1] > 0 THEN (CAST(1 AS BIGINT) << i)
          |                         ELSE CAST(0 AS BIGINT) END for i in range(0, 32)]) AS BIGINT)
          |          for w in range(0, 2)] AS bits
          |       FROM q),
          |cb AS (SELECT vec_id,
          |         [CAST(list_sum([CASE WHEN embedding[32*w + i + 1] > 0 THEN (CAST(1 AS BIGINT) << i)
          |                         ELSE CAST(0 AS BIGINT) END for i in range(0, 32)]) AS BIGINT)
          |          for w in range(0, 2)] AS bits
          |       FROM embeddings),
          |s1 AS (SELECT qb.qid, cb.vec_id,
          |         bit_count(xor(qb.bits[1], cb.bits[1])) + bit_count(xor(qb.bits[2], cb.bits[2])) AS ham
          |       FROM qb JOIN cb ON cb.vec_id <> qb.qid),
          |cand AS (SELECT qid, vec_id FROM (
          |    SELECT qid, vec_id, row_number() OVER (PARTITION BY qid ORDER BY ham, vec_id) AS rn
          |    FROM s1) WHERE rn <= 32),
          |scored AS (
          |  SELECT c.qid, c.vec_id, ${cosSql("q.qvec", "e.embedding")} AS cos
          |  FROM cand c JOIN embeddings e USING (vec_id) JOIN q USING (qid))
          |SELECT qid, vec_id, cos, rank FROM (
          |  SELECT qid, vec_id, cos,
          |         row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rank
          |  FROM scored)
          |WHERE rank <= 10 ORDER BY qid, rank""".stripMargin,
      // matryoshka replay: prefix slices via list slicing, the
      // stage-1 top-32 cut as a window (same (score DESC, id) law as
      // the bounded aggregate), exact re-rank over the candidates
      "ann_matryoshka_topk" ->
        s"""WITH q AS (SELECT vec_id AS qid, embedding AS qvec FROM embeddings WHERE vec_id < 5),
          |s1 AS (
          |  SELECT q.qid, e.vec_id,
          |         ${cosSql("q.qvec[1:16]", "e.embedding[1:16]")} AS pcos
          |  FROM q JOIN embeddings e ON e.vec_id <> q.qid),
          |cand AS (
          |  SELECT qid, vec_id FROM (
          |    SELECT qid, vec_id,
          |           row_number() OVER (PARTITION BY qid ORDER BY pcos DESC, vec_id) AS rn
          |    FROM s1)
          |  WHERE rn <= 32),
          |scored AS (
          |  SELECT c.qid, c.vec_id,
          |         ${cosSql("q.qvec", "e.embedding")} AS cos
          |  FROM cand c JOIN embeddings e USING (vec_id) JOIN q USING (qid))
          |SELECT qid, vec_id, cos, rank FROM (
          |  SELECT qid, vec_id, cos,
          |         row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rank
          |  FROM scored)
          |WHERE rank <= 10 ORDER BY qid, rank""".stripMargin,
      // VECTOR_SEARCH replay: same q×base scoring as ann_bruteforce,
      // but BigQuery semantics — self-match INCLUDED, distance =
      // 1−cos / L2 (index-ordered list folds), smallest first
      "sql_vector_search" ->
        s"""WITH q AS (SELECT vec_id AS qid, embedding AS qvec FROM embeddings WHERE vec_id < 5),
          |cos_d AS (
          |  SELECT q.qid, e.vec_id,
          |         1.0 - (${dot("q.qvec", "e.embedding")} /
          |           (sqrt(${dot("q.qvec", "q.qvec")}) * sqrt(${dot("e.embedding", "e.embedding")}))) AS distance
          |  FROM q JOIN embeddings e ON TRUE),
          |l2_d AS (
          |  SELECT q.qid, e.vec_id,
          |         sqrt(list_aggregate(list_transform(list_zip(q.qvec, e.embedding),
          |              x -> (CAST(x[1] AS DOUBLE)-CAST(x[2] AS DOUBLE))*(CAST(x[1] AS DOUBLE)-CAST(x[2] AS DOUBLE))),
          |              'sum')) AS distance
          |  FROM q JOIN embeddings e ON TRUE),
          |both_f AS (
          |  SELECT 'cos' AS face, qid, vec_id, distance,
          |         row_number() OVER (PARTITION BY qid ORDER BY distance, vec_id) AS rn
          |  FROM cos_d
          |  UNION ALL
          |  SELECT 'l2' AS face, qid, vec_id, distance,
          |         row_number() OVER (PARTITION BY qid ORDER BY distance, vec_id) AS rn
          |  FROM l2_d)
          |SELECT face, qid, vec_id, distance FROM both_f
          |WHERE rn <= 10 ORDER BY face, qid, distance, vec_id""".stripMargin,
      // the IVF-indexed route with fraction_lists_to_search = 1.0
      // probes every cell, so the independent replay is exactly the
      // brute-force cosine top-10
      "sql_vector_search_ivf" ->
        s"""WITH q AS (SELECT vec_id AS qid, embedding AS qvec FROM embeddings WHERE vec_id < 5),
          |cos_d AS (
          |  SELECT q.qid, e.vec_id,
          |         1.0 - (${dot("q.qvec", "e.embedding")} /
          |           (sqrt(${dot("q.qvec", "q.qvec")}) * sqrt(${dot("e.embedding", "e.embedding")}))) AS distance
          |  FROM q JOIN embeddings e ON TRUE),
          |r AS (SELECT qid, vec_id, distance,
          |        row_number() OVER (PARTITION BY qid ORDER BY distance, vec_id) AS rn
          |      FROM cos_d)
          |SELECT qid, vec_id, distance FROM r WHERE rn <= 10
          |ORDER BY qid, distance, vec_id""".stripMargin,
      // replays D13: brute-force cosine minus the (qid, qid+1/qid+2)
      // positive pairs, top-10 of the remaining negatives — equal to
      // Spark's fetch-then-anti because fetch >= k + |positives|
      "ann_hard_negatives" ->
        s"""WITH q AS (SELECT vec_id AS qid, embedding AS qvec FROM embeddings WHERE vec_id < 5),
          |pos AS (SELECT qid, qid + o AS vec_id
          |        FROM (SELECT vec_id AS qid FROM embeddings WHERE vec_id < 5),
          |             (SELECT unnest([1, 2]) AS o)),
          |scored AS (
          |  SELECT q.qid, e.vec_id,
          |         ${dot("q.qvec", "e.embedding")} /
          |           (sqrt(${dot("q.qvec", "q.qvec")}) * sqrt(${dot("e.embedding", "e.embedding")})) AS cos
          |  FROM q JOIN embeddings e ON e.vec_id <> q.qid),
          |neg AS (SELECT s.* FROM scored s
          |        LEFT JOIN pos p ON s.qid = p.qid AND s.vec_id = p.vec_id
          |        WHERE p.qid IS NULL)
          |SELECT qid, vec_id, cos, rank FROM (
          |  SELECT qid, vec_id, cos,
          |         row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rank
          |  FROM neg)
          |WHERE rank <= 10 ORDER BY qid, rank""".stripMargin,
      // the scalar distance spellings replay with the same ordered
      // folds the native expression documents
      "q_vector_distance" ->
        s"""SELECT a.vec_id AS id_a, b.vec_id AS id_b,
          |       1.0 - ${cosSql("a.embedding", "b.embedding")} AS cos_d,
          |       sqrt(${kmDist("a.embedding", "b.embedding")}) AS l2_d
          |FROM embeddings a JOIN embeddings b
          |  ON a.vec_id < 5 AND b.vec_id > a.vec_id AND b.vec_id <= a.vec_id + 20
          |ORDER BY id_a, id_b""".stripMargin,
      // the whole k-means training loop replayed: same quantization as
      // the int8 faces, seeds = 8 lowest ids (cluster id = rank), two
      // unrolled Lloyd iterations with exact integer centroid sums,
      // final strict fold-order assignment
      "cluster_kmeans" ->
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
          |fin AS (SELECT cd.vec_id, cc.cluster, ${kmDist("cd.v", "cc.c")} AS dist
          |        FROM km_codes cd CROSS JOIN kc2 cc)
          |SELECT vec_id, cluster, dist FROM (
          |  SELECT vec_id, cluster, dist,
          |         row_number() OVER (PARTITION BY vec_id ORDER BY dist, cluster) AS rn
          |  FROM fin) WHERE rn = 1 ORDER BY vec_id""".stripMargin,
      // the statement route: same replay, BigQuery's 1-based centroid_id
      // the model-state dump: kc2 (the trained centroids) unnested to
      // 1-based (centroid_id, feature) positions
      "sql_ml_centroids" ->
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
          |FROM pos ORDER BY centroid_id, feature""".stripMargin,
      "sql_ml_kmeans" ->
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
          |fin AS (SELECT cd.vec_id, cc.cluster, ${kmDist("cd.v", "cc.c")} AS dist
          |        FROM km_codes cd CROSS JOIN kc2 cc)
          |SELECT vec_id, cluster + 1 AS centroid_id, dist AS centroid_distance FROM (
          |  SELECT vec_id, cluster, dist,
          |         row_number() OVER (PARTITION BY vec_id ORDER BY dist, cluster) AS rn
          |  FROM fin) WHERE rn = 1 ORDER BY vec_id""".stripMargin,
      "ann_bruteforce_int8" ->
        s"""WITH qz AS (SELECT vec_id, embedding,
          |              list_max(list_transform(embedding, y -> abs(CAST(y AS DOUBLE)))) AS s
          |            FROM embeddings),
          |codes AS (SELECT vec_id,
          |            list_transform(embedding, e -> round(CAST(e AS DOUBLE) * 127 / s)) AS c
          |          FROM qz),
          |q AS (SELECT vec_id AS qid, embedding AS qvec FROM embeddings WHERE vec_id < 5),
          |scored AS (
          |  SELECT q.qid, c.vec_id,
          |         ${dot("q.qvec", "c.c")} /
          |           (sqrt(${dot("q.qvec", "q.qvec")}) * sqrt(${dot("c.c", "c.c")})) AS cos
          |  FROM q JOIN codes c ON c.vec_id <> q.qid)
          |SELECT qid, vec_id, cos, rank FROM (
          |  SELECT qid, vec_id, cos,
          |         row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rank
          |  FROM scored)
          |WHERE rank <= 10 ORDER BY qid, rank""".stripMargin,
      // staged CTEs replay redact's sequential-count contract exactly:
      // pattern i counts on the text with patterns < i already applied
      "text_redact" ->
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
          |FROM s4 ORDER BY doc_id""".stripMargin,
      "text_strip_markup" ->
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
          |FROM e ORDER BY doc_id""".stripMargin,
      // PR-curve replay: per-score confusion counts + cumulative
      // window, ratios as exactly-rounded integer divisions
      // bin edges replay as the identical IEEE fold: lo + least(
      // floor((s - lo) / width), bins-1) * width with width = (hi-lo)/12
      "eval_calibration" ->
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
          |FROM k GROUP BY bin_lo ORDER BY bin_lo""".stripMargin,
      // the rank fold replays term-for-term: 2R1 = sum p(2cum + c + 1)
      // over distinct scores, 2U1 = 2R1 - n1(n1+1), one double division
      "eval_roc_auc" ->
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
          |FROM agg""".stripMargin,
      "eval_pr_curve" ->
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
          |FROM c ORDER BY threshold DESC""".stripMargin,
      // SEARCH replay: the same ASCII analyzer as list arithmetic —
      // list_has_all(data tokens, query tokens); empty token sets
      // match vacuously
      "q_search_fn" ->
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
          |SELECT q, n FROM m ORDER BY q""".stripMargin,
      // normalization replay: the suffix rebuilds from chr() codepoints
      // (combining acute 769, ring 778, diaeresis 776, grave 768,
      // composed ñ 241), then nfc_normalize/strip_accents — the same
      // UAX #15 tables java.text.Normalizer implements
      "text_normalize" ->
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
          |FROM n ORDER BY doc_id""".stripMargin,
      // per-row quality replays bit-exactly (the text_quality row), so
      // the bucket counts and min/max fold to identical values
      "corpus_report" ->
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
          |FROM d GROUP BY source, lang ORDER BY source, lang""".stripMargin,
      "text_quality" ->
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
          |FROM documents ORDER BY doc_id""".stripMargin,
      // replays the hashed linear model term-for-term: unigram+bigram
      // features, 52-bit md5 hash → bucket, the demo model's weight
      // FORMULA inlined where Spark reads the literal array
      // (hashedWeights(4096): ((b·2654435761) mod 1001) − 500), exact
      // integer vote sum, one exactly-rounded final division
      "text_classifier_score" ->
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
          |FROM s ORDER BY doc_id""".stripMargin,
      // replays BOTH perceptron epochs: w1 = Σy over every feature
      // occurrence (zero weights misclassify everything), r1 = per-doc
      // raw under w1, m1 = still-missed docs, w2 = w1 + their update
      "text_classifier_train" ->
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
          |SELECT bucket, CAST(w AS BIGINT) AS w FROM w2 WHERE w != 0 ORDER BY bucket""".stripMargin,
      // replays the FULL K-class one-vs-rest trajectory (2 epochs) +
      // argmax inference with the class axis as data: fxk = feature
      // occurrences x classes with y=+1/-1 per head; w1 = epoch-1
      // update (zero weights miss every doc for every head); m1 =
      // still-missed (doc, head) pairs under w1; w2 = final weights;
      // r2 = per-(doc, head) raw; argmax ties -> lowest class index
      // ML.WEIGHTS replay: re-train through w2, read the nonzero rows
      "sql_ml_weights" ->
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
          |ORDER BY class_label, bucket""".stripMargin,
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
      "sql_ml_feature_info" ->
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
          |FROM a""".stripMargin,
      // the TRANSFORM expressions replay textually on the raw table —
      // fully independent of the model machinery
      "sql_ml_transform" ->
        """WITH t AS (
          |  SELECT l_orderkey * 10 + l_linenumber AS rid,
          |         CAST(l_quantity AS BIGINT) + l_linenumber AS qsum,
          |         CAST(CAST(l_extendedprice AS DECIMAL(14,2)) * 100 AS BIGINT) AS label
          |  FROM lineitem)
          |SELECT CAST(rid % 7 AS BIGINT) AS rb, COUNT(*) AS n,
          |       CAST(SUM(qsum) AS BIGINT) AS qsum_sum,
          |       CAST(SUM(label) AS BIGINT) AS label_sum,
          |       CAST(MIN(rid) AS BIGINT) AS rid_min, CAST(MAX(rid) AS BIGINT) AS rid_max
          |FROM t GROUP BY rb ORDER BY rb""".stripMargin,
      "sql_ml_linear" ->
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
          |ORDER BY l_orderkey, l_linenumber""".stripMargin,
      // A49b: ML.WEIGHTS + ML.EVALUATE replay — the SSE fold is the
      // stated algebraic identity, term-for-term in the engine's
      // left-to-right order
      "sql_ml_linear_eval" ->
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
          |ORDER BY w.processed_input""".stripMargin,
      "sql_ml_logistic" ->
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
          |ORDER BY cm.lang, cm.predicted_label""".stripMargin,
      "text_lang_id_trained" ->
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
          |ORDER BY d.doc_id""".stripMargin,
      // replays BPE encoding: each word becomes a '~~'-separated
      // character string, each pinned merge one boundary-anchored
      // left-to-right replace (sequential per rank ≡ ApplyBpe's
      // min-rank loop for well-formed tables); token count = '~'
      // count / 2 - 1, encoded text = separators to spaces
      // E9's merge table under a FULL TRAINING replay (round 12):
      // DuckDB re-trains vanilla sequential BPE from scratch — see
      // bpeTrainOracleSql's scaladoc for why batched ≡ sequential
      "text_bpe_vocab" -> bpeTrainOracleSql(10),
      "text_bpe_bytes" -> bpeTrainOracleSql(10, byteLevel = true),
      // byte-level encode: the char replay with hex(encode(word)) as
      // the round-0 symbol string and the hex-renamed merge chain
      "text_bpe_bytes_encode" ->
        s"""WITH t AS (SELECT doc_id, list_filter(
          |             string_split_regex(lower(trim(text)), '\\s+'), x -> len(x) > 0) AS toks
          |           FROM documents),
          |w AS (SELECT doc_id, i AS pos, toks[i] AS word
          |      FROM (SELECT doc_id, toks, unnest(range(1, len(toks)+1)) AS i FROM t)),
          |s0 AS (SELECT doc_id, pos,
          |         '~~' || regexp_replace(hex(encode(word)), '(..)', '\\1~~', 'g') AS s FROM w),
          |sk AS (SELECT doc_id, pos, ${bpeOracleChainOf("s", bpeByteFixtureMerges)} AS s FROM s0),
          |agg AS (SELECT doc_id, COUNT(*) AS n_words,
          |               SUM((length(s) - length(replace(s, '~', ''))) // 2 - 1) AS n_bpe_tokens,
          |               string_agg(trim(replace(s, '~~', ' ')), ' ' ORDER BY pos) AS enc
          |        FROM sk GROUP BY doc_id)
          |SELECT d.doc_id, CAST(COALESCE(n_words, 0) AS BIGINT) AS n_words,
          |       CAST(COALESCE(n_bpe_tokens, 0) AS BIGINT) AS n_bpe_tokens,
          |       COALESCE(enc, '') AS enc
          |FROM documents d LEFT JOIN agg ON d.doc_id = agg.doc_id
          |ORDER BY d.doc_id""".stripMargin,
      // E25's hash half: the unigram seed table is a pure substring
      // stream over the word-frequency dict — DuckDB replays it with
      // two range unnests; integer weights, total (weight, piece)
      // order, so the hash gates tokenize, weighting and the top-N cut
      "text_unigram_seed" ->
        """WITH t AS (SELECT list_filter(
          |             string_split_regex(lower(trim(text)), '\s+'), x -> len(x) > 0) AS toks
          |           FROM documents),
          |w0 AS (SELECT unnest(toks) AS w FROM t),
          |words AS (SELECT w, COUNT(*) AS n FROM w0 GROUP BY w),
          |ls AS (SELECT w, n, unnest(range(1, least(4, len(w)) + 1)) AS l FROM words),
          |subs AS (SELECT substring(w, CAST(i AS INT), CAST(l AS INT)) AS piece, n
          |         FROM (SELECT w, n, l, unnest(range(1, len(w) - l + 2)) AS i FROM ls))
          |SELECT piece, CAST(SUM(n) AS BIGINT) AS weight
          |FROM subs GROUP BY piece
          |ORDER BY weight DESC, piece LIMIT 50""".stripMargin,
      "text_bpe_encode" ->
        s"""WITH t AS (SELECT doc_id, list_filter(
          |             string_split_regex(lower(trim(text)), '\\s+'), x -> len(x) > 0) AS toks
          |           FROM documents),
          |w AS (SELECT doc_id, i AS pos, toks[i] AS word
          |      FROM (SELECT doc_id, toks, unnest(range(1, len(toks)+1)) AS i FROM t)),
          |s0 AS (SELECT doc_id, pos, '~~' || regexp_replace(word, '(.)', '\\1~~', 'g') AS s FROM w),
          |sk AS (SELECT doc_id, pos, ${bpeOracleChain("s")} AS s FROM s0),
          |agg AS (SELECT doc_id, COUNT(*) AS n_words,
          |               SUM((length(s) - length(replace(s, '~', ''))) // 2 - 1) AS n_bpe_tokens,
          |               string_agg(trim(replace(s, '~~', ' ')), ' ' ORDER BY pos) AS enc
          |        FROM sk GROUP BY doc_id)
          |SELECT d.doc_id, CAST(COALESCE(n_words, 0) AS BIGINT) AS n_words,
          |       CAST(COALESCE(n_bpe_tokens, 0) AS BIGINT) AS n_bpe_tokens,
          |       COALESCE(enc, '') AS enc
          |FROM documents d LEFT JOIN agg ON d.doc_id = agg.doc_id
          |ORDER BY d.doc_id""".stripMargin,
      // replays E15b's integer face term-for-term: position stream
      // with (up to 2) context words, count tables from the even-id
      // half, three left joins, longest-available-context level rule
      "text_backoff_hits" ->
        """WITH d AS (SELECT doc_id, CASE WHEN doc_id % 2 = 1
          |                 THEN text || ' zq' || CAST(doc_id AS VARCHAR)
          |                 ELSE text END AS text FROM documents),
          |t AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS toks FROM d),
          |pos AS (SELECT doc_id, toks[i] AS w,
          |               CASE WHEN i >= 2 THEN toks[i-1] END AS p1,
          |               CASE WHEN i >= 3 THEN toks[i-2] END AS p2
          |        FROM (SELECT doc_id, toks, unnest(range(1, len(toks)+1)) AS i FROM t)),
          |tr AS (SELECT * FROM pos WHERE doc_id % 2 = 0),
          |uni AS (SELECT w, COUNT(*) AS c1 FROM tr GROUP BY w),
          |bi AS (SELECT p1, w, COUNT(*) AS c2 FROM tr WHERE p1 IS NOT NULL GROUP BY p1, w),
          |tri AS (SELECT p2, p1, w, COUNT(*) AS c3 FROM tr WHERE p2 IS NOT NULL GROUP BY p2, p1, w),
          |lv AS (SELECT pos.doc_id,
          |         CASE WHEN pos.p2 IS NOT NULL AND tri.c3 IS NOT NULL THEN 3
          |              WHEN pos.p1 IS NOT NULL AND bi.c2 IS NOT NULL THEN 2
          |              WHEN uni.c1 IS NOT NULL THEN 1 ELSE 0 END AS lvl
          |       FROM pos
          |       LEFT JOIN tri ON pos.p2 = tri.p2 AND pos.p1 = tri.p1 AND pos.w = tri.w
          |       LEFT JOIN bi ON pos.p1 = bi.p1 AND pos.w = bi.w
          |       LEFT JOIN uni ON pos.w = uni.w)
          |SELECT doc_id, COUNT(*) AS n_tokens,
          |       CAST(SUM(CASE WHEN lvl = 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_tri,
          |       CAST(SUM(CASE WHEN lvl = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_bi,
          |       CAST(SUM(CASE WHEN lvl = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_uni,
          |       CAST(SUM(CASE WHEN lvl = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_unseen
          |FROM lv GROUP BY doc_id ORDER BY doc_id""".stripMargin,
      // replays interpolated KN's integer face: even-doc training
      // bigram counts, continuation counts derived from the SAME
      // table, then the three-way mass classification per scored
      // position; <2-token docs would surface 0s via the join-back
      // BM25's integer half: the same tokenize → semi-join → tf/df/dl
      // pipeline as the scorer, counts only — every column replays
      "search_bm25_hits" ->
        """WITH t AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS toks
          |           FROM documents),
          |tok AS (SELECT doc_id, len(toks) AS dl, unnest(toks) AS token FROM t),
          |q AS (SELECT doc_id AS qid, unnest(list_distinct(toks)) AS token FROM t
          |      WHERE doc_id % 250 = 0),
          |tf AS (SELECT tok.doc_id, tok.token, COUNT(*) AS tf, MIN(tok.dl) AS dl
          |       FROM tok WHERE tok.token IN (SELECT DISTINCT token FROM q)
          |       GROUP BY tok.doc_id, tok.token),
          |df AS (SELECT token, COUNT(*) AS df FROM tf GROUP BY token)
          |SELECT q.qid, tf.doc_id,
          |       CAST(COUNT(*) AS BIGINT) AS n_terms,
          |       CAST(SUM(tf.tf) AS BIGINT) AS tf_sum,
          |       CAST(SUM(df.df) AS BIGINT) AS df_sum,
          |       CAST(MIN(tf.dl) AS BIGINT) AS dl
          |FROM q JOIN tf ON q.token = tf.token JOIN df ON q.token = df.token
          |GROUP BY q.qid, tf.doc_id ORDER BY q.qid, tf.doc_id""".stripMargin,
      // replays E15's integer face: even-doc unigram/bigram count
      // tables, the two left joins, the three-way Laplace class
      // routing AND the count sums the estimate reads
      "text_bigram_hits" ->
        """WITH d AS (SELECT doc_id, CASE WHEN doc_id % 2 = 1
          |                 THEN text || ' zq' || CAST(doc_id AS VARCHAR)
          |                 ELSE text END AS text FROM documents),
          |t AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS toks FROM d),
          |pos AS (SELECT doc_id, toks[i-1] AS w1, toks[i] AS w2
          |        FROM (SELECT doc_id, toks, unnest(range(2, len(toks)+1)) AS i FROM t)),
          |big AS (SELECT w1, w2, COUNT(*) AS c12 FROM pos WHERE doc_id % 2 = 0 GROUP BY w1, w2),
          |uni AS (SELECT w1, COUNT(*) AS c1 FROM (
          |          SELECT unnest(toks) AS w1 FROM t WHERE doc_id % 2 = 0) GROUP BY w1),
          |lv AS (SELECT pos.doc_id, big.c12, uni.c1
          |       FROM pos
          |       LEFT JOIN big ON pos.w1 = big.w1 AND pos.w2 = big.w2
          |       LEFT JOIN uni ON pos.w1 = uni.w1),
          |agg AS (SELECT doc_id, COUNT(*) AS n_bigrams,
          |         CAST(SUM(CASE WHEN c12 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_seen,
          |         CAST(SUM(CASE WHEN c12 IS NULL AND c1 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_ctx,
          |         CAST(SUM(CASE WHEN c1 IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_unseen,
          |         CAST(SUM(COALESCE(c12, 0)) AS BIGINT) AS c12_sum,
          |         CAST(SUM(COALESCE(c1, 0)) AS BIGINT) AS c1_sum
          |       FROM lv GROUP BY doc_id)
          |SELECT d.doc_id,
          |       coalesce(n_bigrams, 0) AS n_bigrams, coalesce(n_seen, 0) AS n_seen,
          |       coalesce(n_ctx, 0) AS n_ctx, coalesce(n_unseen, 0) AS n_unseen,
          |       coalesce(c12_sum, 0) AS c12_sum, coalesce(c1_sum, 0) AS c1_sum
          |FROM d LEFT JOIN agg ON d.doc_id = agg.doc_id
          |ORDER BY d.doc_id""".stripMargin,
      "text_kn_hits" ->
        """WITH d AS (SELECT doc_id, CASE WHEN doc_id % 2 = 1
          |                 THEN text || ' zq' || CAST(doc_id AS VARCHAR)
          |                 ELSE text END AS text FROM documents),
          |t AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS toks FROM d),
          |pos AS (SELECT doc_id, toks[i-1] AS w1, toks[i] AS w2
          |        FROM (SELECT doc_id, toks, unnest(range(2, len(toks)+1)) AS i FROM t)),
          |tr AS (SELECT * FROM pos WHERE doc_id % 2 = 0),
          |big AS (SELECT w1, w2, COUNT(*) AS c12 FROM tr GROUP BY w1, w2),
          |cont AS (SELECT w2, COUNT(*) AS cont2 FROM big GROUP BY w2),
          |lv AS (SELECT pos.doc_id,
          |         CASE WHEN big.c12 IS NOT NULL THEN 2
          |              WHEN cont.cont2 IS NOT NULL THEN 1 ELSE 0 END AS lvl
          |       FROM pos
          |       LEFT JOIN big ON pos.w1 = big.w1 AND pos.w2 = big.w2
          |       LEFT JOIN cont ON pos.w2 = cont.w2),
          |agg AS (SELECT doc_id, COUNT(*) AS n_bigrams,
          |         CAST(SUM(CASE WHEN lvl = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_big,
          |         CAST(SUM(CASE WHEN lvl = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_cont,
          |         CAST(SUM(CASE WHEN lvl = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_unseen
          |       FROM lv GROUP BY doc_id)
          |SELECT d.doc_id,
          |       coalesce(n_bigrams, 0) AS n_bigrams, coalesce(n_big, 0) AS n_big,
          |       coalesce(n_cont, 0) AS n_cont, coalesce(n_unseen, 0) AS n_unseen
          |FROM d LEFT JOIN agg ON d.doc_id = agg.doc_id
          |ORDER BY d.doc_id""".stripMargin,
      // trigram-KN mass classes: trigram types, (w2,w3) continuation
      // types, bigram-derived unigram continuations — the deepest
      // table that knows the position classifies it
      "text_kn3_hits" ->
        """WITH d AS (SELECT doc_id, CASE WHEN doc_id % 2 = 1
          |                 THEN text || ' zq' || CAST(doc_id AS VARCHAR)
          |                 ELSE text END AS text FROM documents),
          |t AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS toks FROM d),
          |pos AS (SELECT doc_id, toks[i-2] AS w1, toks[i-1] AS w2, toks[i] AS w3
          |        FROM (SELECT doc_id, toks, unnest(range(3, len(toks)+1)) AS i FROM t)),
          |trp AS (SELECT * FROM pos WHERE doc_id % 2 = 0),
          |tri AS (SELECT w1, w2, w3, COUNT(*) AS c123 FROM trp GROUP BY 1, 2, 3),
          |n23 AS (SELECT w2, w3, COUNT(*) AS n23 FROM tri GROUP BY 1, 2),
          |bpos AS (SELECT toks[i-1] AS wa, toks[i] AS wb
          |         FROM (SELECT doc_id, toks, unnest(range(2, len(toks)+1)) AS i FROM t)
          |         WHERE doc_id % 2 = 0),
          |big AS (SELECT wa, wb, COUNT(*) AS cab FROM bpos GROUP BY 1, 2),
          |cont1 AS (SELECT wb AS w3, COUNT(*) AS cont1 FROM big GROUP BY wb),
          |lv AS (SELECT pos.doc_id,
          |         CASE WHEN tri.c123 IS NOT NULL THEN 3
          |              WHEN n23.n23 IS NOT NULL THEN 2
          |              WHEN cont1.cont1 IS NOT NULL THEN 1 ELSE 0 END AS lvl
          |       FROM pos
          |       LEFT JOIN tri ON pos.w1 = tri.w1 AND pos.w2 = tri.w2 AND pos.w3 = tri.w3
          |       LEFT JOIN n23 ON pos.w2 = n23.w2 AND pos.w3 = n23.w3
          |       LEFT JOIN cont1 ON pos.w3 = cont1.w3),
          |agg AS (SELECT doc_id, COUNT(*) AS n_trigrams,
          |         CAST(SUM(CASE WHEN lvl = 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_tri,
          |         CAST(SUM(CASE WHEN lvl = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_cont2,
          |         CAST(SUM(CASE WHEN lvl = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_cont1,
          |         CAST(SUM(CASE WHEN lvl = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_unseen
          |       FROM lv GROUP BY doc_id)
          |SELECT d.doc_id,
          |       coalesce(n_trigrams, 0) AS n_trigrams, coalesce(n_tri, 0) AS n_tri,
          |       coalesce(n_cont2, 0) AS n_cont2, coalesce(n_cont1, 0) AS n_cont1,
          |       coalesce(n_unseen, 0) AS n_unseen
          |FROM d LEFT JOIN agg ON d.doc_id = agg.doc_id
          |ORDER BY d.doc_id""".stripMargin,
      "text_lang_id" ->
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
          |FROM s ORDER BY doc_id""".stripMargin,
      // chunk=64 overlap=16 step=48; n_chunks = 1 for n<=64 else
      // 1 + ceil((n-64)/48); DuckDB list slicing is 1-based inclusive
      // and clamps at the end, same as Spark's slice
      "text_chunk" ->
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
          |FROM e ORDER BY doc_id, chunk_id""".stripMargin,
      // replays the Gopher gate end-to-end: the doc_id-keyed
      // decoration, every measure (integer counts, replace-shrinkage
      // symbol counting, exact IEEE divisions) and every pass flag
      "text_gopher_rules" ->
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
          |FROM g ORDER BY doc_id""".stripMargin,
      // replays the repetition rules: dup-line fractions in list
      // arithmetic, top n-gram via unnest + count + (count desc, gram
      // asc) pick — the same tie rule the in-row sorted fold applies
      "text_gopher_repetition" ->
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
          |FROM f ORDER BY doc_id""".stripMargin,
      // replays the duplicated-n-gram tail per n: gram lists, the
      // dup dictionary (GROUP BY ... HAVING count >= 2), per-position
      // flags, and the windowed-exists covered-char fold — all list
      // arithmetic, joined across the six n values
      "text_gopher_dup_ngrams" -> {
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
      },
      // replays the C4 gate: rendered page, line predicates (terminal
      // punctuation / word floor / javascript), page kills
      "text_c4_filters" ->
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
          |FROM k ORDER BY doc_id""".stripMargin,
      // replays the greedy line-fold with a recursive CTE over the
      // same rendered pages: cid/acc advance one line per iteration
      "text_chunk_lines" ->
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
          |FROM f GROUP BY doc_id, cid ORDER BY doc_id, chunk_id""".stripMargin,
      "text_tokens" ->
        """SELECT doc_id,
          |  len(string_split_regex(lower(trim(text)), '\s+')) AS ws_tokens,
          |  len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS bpeish_tokens,
          |  LENGTH(text) AS n_chars_text
          |FROM documents ORDER BY doc_id""".stripMargin,
      "text_fingerprint" ->
        """SELECT doc_id,
          |  md5(array_to_string(list_sort(list_distinct(string_split_regex(lower(trim(text)), '\s+'))), ' ')) AS fp,
          |  len(list_distinct(string_split_regex(lower(trim(text)), '\s+'))) AS n_distinct_tokens
          |FROM documents ORDER BY doc_id""".stripMargin,
      // byte-level semantics on BOTH sides: encode() is DuckDB's UTF-8
      // encoder (CAST(text AS BLOB) rejects non-ASCII), hex-prefix is
      // the first byte — matches stubDecode's payload(0)&0xff / -1,
      // including non-ASCII heads and empty docs
      "mm_meta_extract" ->
        """SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS byte_len,
          |       CASE WHEN octet_length(encode(text)) = 0 THEN -1
          |            ELSE CAST(('0x' || substr(hex(encode(text)), 1, 2)) AS INT) END AS head_byte,
          |       source
          |FROM documents ORDER BY doc_id""".stripMargin,
      // replays F4 end to end: strided thumbnail byte sample (the
      // StridedBytes index law (i*n)//m), floor-mean threshold bits,
      // little-endian 60-bit pack, 4x15 banding, bit_count(xor) verify
      "mm_phash_pairs" ->
        """WITH d AS (SELECT doc_id, text FROM documents
          |           UNION ALL
          |           SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id % 50 = 0),
          |p AS (SELECT doc_id, hex(encode(text)) AS hx, octet_length(encode(text)) AS n FROM d),
          |b0 AS (SELECT doc_id, least(60, n) AS m,
          |              [CAST(('0x' || substr(hx, 2*((i*n)//least(60,n))+1, 2)) AS BIGINT) for i in range(0, least(60,n))] AS bytes
          |       FROM p WHERE n > 0),
          |mn AS (SELECT doc_id, bytes, m, list_sum(bytes) // m AS mean FROM b0),
          |h AS (SELECT doc_id,
          |        CAST(coalesce(list_sum([CASE WHEN bytes[j+1] > mean THEN (CAST(1 AS BIGINT) << j) ELSE CAST(0 AS BIGINT) END for j in range(0, m)]), 0) AS BIGINT) AS phash
          |      FROM mn),
          |bd AS (SELECT doc_id, phash, band, (phash >> (15*band)) & 32767 AS bucket
          |       FROM h, (SELECT unnest(range(0, 4)) AS band)),
          |pr AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
          |              CAST(bit_count(xor(a.phash, b.phash)) AS BIGINT) AS hamming
          |       FROM bd a JOIN bd b ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id)
          |SELECT id_a, id_b, hamming FROM pr WHERE hamming <= 4 ORDER BY id_a, id_b""".stripMargin,
      // per-frame aHash replay: frames are 32-byte hex slices (≤ 60,
      // so the thumbnail law is the identity), mean-threshold bits,
      // distinct sets per payload, pair counts = set intersections
      "mm_frame_phash" ->
        """WITH d AS (
          |  SELECT doc_id, text FROM documents
          |  UNION ALL
          |  SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id % 50 = 0
          |  UNION ALL
          |  SELECT doc_id + 2000000 AS doc_id,
          |         substr(text, 1, CAST(length(text) AS INT) // 2) AS text
          |  FROM documents WHERE doc_id % 30 = 0),
          |p AS (SELECT doc_id, hex(encode(text)) AS hx,
          |             octet_length(encode(text)) AS n
          |      FROM d WHERE octet_length(encode(text)) > 0),
          |fi AS (SELECT doc_id, hx,
          |              unnest(range(0, CAST(ceil(CAST(n AS DOUBLE)/32.0) AS BIGINT), 2)) AS f
          |       FROM p),
          |fr AS (SELECT doc_id, substr(hx, 2*(f*32) + 1, 64) AS fhx FROM fi),
          |fb AS (SELECT doc_id, length(fhx)//2 AS m,
          |         [CAST(('0x' || substr(fhx, 2*j+1, 2)) AS BIGINT)
          |          for j in range(0, CAST(length(fhx)//2 AS INT))] AS bytes
          |       FROM fr),
          |mn AS (SELECT doc_id, bytes, m, list_sum(bytes) // m AS mean FROM fb),
          |hz AS (SELECT doc_id,
          |         CAST(coalesce(list_sum([CASE WHEN bytes[j+1] > mean
          |           THEN (CAST(1 AS BIGINT) << j) ELSE CAST(0 AS BIGINT) END
          |           for j in range(0, CAST(m AS INT))]), 0) AS BIGINT) AS fhash
          |       FROM mn),
          |sets AS (SELECT DISTINCT doc_id, fhash FROM hz)
          |SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_shared
          |FROM sets a JOIN sets b ON a.fhash = b.fhash AND a.doc_id < b.doc_id
          |GROUP BY 1, 2 HAVING COUNT(*) >= 2 ORDER BY id_a, id_b""".stripMargin
    )
    // round-16 streaming parity gates whose oracles ARE the batch
    // faces' oracles (stateless map parity / trained-in-batch assign):
    // reuse the strings so the two can never drift
    base ++ Map(
      "stream_cluster_assign" -> base("cluster_kmeans"),
      "stream_embed" -> base("text_embed"),
      // G15: last-merge-wins over per-week-latest slices = global
      // latest per key; AS OF commit 1 = distinct keys of weeks 0-1
      "stream_versioned_merge" ->
        """WITH r AS (SELECT user_id, event_type, event_id, value,
          |         row_number() OVER (PARTITION BY user_id, event_type
          |                            ORDER BY CAST(ts AS TIMESTAMP) DESC, event_id DESC) AS rn
          |           FROM events),
          |a AS (SELECT user_id, event_type,
          |        row_number() OVER (PARTITION BY user_id, event_type
          |                           ORDER BY CAST(ts AS TIMESTAMP) DESC, event_id DESC) AS rn
          |      FROM events
          |      WHERE epoch_us(CAST(ts AS TIMESTAMP)) < 1704067200000000 + 16 * 86400000000)
          |SELECT user_id, event_type, event_id, value,
          |       CAST(4 AS BIGINT) AS commits,
          |       (SELECT COUNT(*) FROM a WHERE rn = 1) AS asof1_n
          |FROM r WHERE rn = 1 ORDER BY user_id, event_type""".stripMargin,
      // G6: the stream-stream interval join emits exactly the batch
      // interval join's pairs
      "stream_join" ->
        """WITH p AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS p_ts,
          |                  value AS amount
          |           FROM events WHERE event_type = 'purchase' AND user_id % 4 = 0),
          |     g AS (SELECT user_id AS s_user, CAST(ts AS TIMESTAMP) AS s_ts,
          |                  value AS rate
          |           FROM events WHERE event_type = 'signup' AND user_id % 4 = 0)
          |SELECT event_id, user_id, epoch_us(p_ts) AS p_us, amount,
          |       epoch_us(s_ts) AS s_us, rate
          |FROM p JOIN g ON user_id = s_user AND s_ts <= p_ts
          |              AND s_ts >= p_ts - INTERVAL 1 HOUR
          |ORDER BY event_id, s_us, rate""".stripMargin,
      // G1: day windows finalize strictly before the data's last day
      "stream_windowed_report" ->
        """WITH src AS (SELECT * FROM events WHERE event_id % 4 = 0),
          |mx AS (SELECT date_trunc('day', MAX(CAST(ts AS TIMESTAMP))) AS m FROM src)
          |SELECT CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS TIMESTAMP) AS window_start,
          |       event_type, COUNT(*) AS n
          |FROM src
          |WHERE date_trunc('day', CAST(ts AS TIMESTAMP)) < (SELECT m FROM mx)
          |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
      // G20: interval merge as gaps-and-islands — a new island starts
      // where the range start exceeds every previous end (MEETS:
      // adjacency merges, so strict > starts the island)
      "stream_range_sessionize" ->
        """WITH r AS (SELECT user_id,
          |                  CAST(date_trunc('day', ts) AS DATE) AS rs,
          |                  CAST(date_trunc('day', ts) AS DATE) + CAST(user_id % 5 + 1 AS INT) AS re
          |           FROM events),
          |d AS (SELECT DISTINCT user_id, rs, re FROM r),
          |o AS (SELECT user_id, rs, re,
          |             MAX(re) OVER (PARTITION BY user_id ORDER BY rs, re
          |                           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm
          |      FROM d),
          |i AS (SELECT *, SUM(CASE WHEN pm IS NULL OR rs > pm THEN 1 ELSE 0 END)
          |               OVER (PARTITION BY user_id ORDER BY rs, re) AS island
          |      FROM o)
          |SELECT user_id, MIN(rs) AS ss, MAX(re) AS se
          |FROM i GROUP BY user_id, island ORDER BY user_id, ss""".stripMargin,
      // G11: the broadcast enrich equals the plain left join
      "stream_enrich_dim" ->
        """SELECT event_type,
          |       CAST(CASE event_type WHEN 'click' THEN 1 WHEN 'view' THEN 2
          |                            WHEN 'purchase' THEN 3 END AS BIGINT) AS type_rank,
          |       COUNT(*) AS n
          |FROM events GROUP BY 1, 2 ORDER BY 1""".stripMargin,
      // G10: the gate partition + per-row blame + the week batch id
      "stream_constraints_gate" ->
        """WITH e AS (SELECT event_type, user_id, value,
          |             GREATEST(0, LEAST(3, CAST(FLOOR(
          |               (epoch_us(CAST(ts AS TIMESTAMP)) - 1704067200000000)
          |               / (8 * 86400000000)) AS BIGINT))) AS batch_id,
          |             (NOT COALESCE(value < 40, FALSE)) AS v1,
          |             (NOT COALESCE(user_id % 2 = 0, FALSE)) AS v2
          |           FROM events)
          |SELECT * FROM (
          |  SELECT 'ok' AS kind, event_type, CAST(-1 AS BIGINT) AS batch_id,
          |         '' AS violated, COUNT(*) AS n
          |  FROM e WHERE NOT v1 AND NOT v2 GROUP BY event_type
          |  UNION ALL
          |  SELECT 'dead', event_type, batch_id,
          |         CASE WHEN v1 AND v2 THEN 'satisfies(value_small),satisfies(user_even)'
          |              WHEN v1 THEN 'satisfies(value_small)' ELSE 'satisfies(user_even)' END,
          |         COUNT(*)
          |  FROM e WHERE v1 OR v2 GROUP BY 1, 2, 3, 4)
          |ORDER BY kind, event_type, batch_id, violated""".stripMargin,
      // G4: gap-rule sessions at millisecond precision; a user's last
      // session survives only if timed out by the final watermark
      "stream_sessionize" ->
        """WITH e AS (SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) // 1000 AS tms
          |           FROM events WHERE user_id % 4 = 0),
          |mx AS (SELECT MAX(tms) AS m FROM e),
          |o AS (SELECT user_id, tms,
          |             lag(tms) OVER (PARTITION BY user_id ORDER BY tms) AS pt FROM e),
          |i AS (SELECT user_id, tms,
          |             SUM(CASE WHEN pt IS NULL OR tms - pt > 1800000 THEN 1 ELSE 0 END)
          |               OVER (PARTITION BY user_id ORDER BY tms) AS island FROM o),
          |sess AS (SELECT user_id, island, MIN(tms) AS sms, MAX(tms) AS ems,
          |                COUNT(*) AS n_events
          |         FROM i GROUP BY user_id, island),
          |rk AS (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY sms DESC) AS r
          |       FROM sess)
          |SELECT user_id, sms * 1000 AS start_us, ems * 1000 AS end_us, n_events
          |FROM rk WHERE r > 1 OR ems + 1800000 < (SELECT m FROM mx)
          |ORDER BY user_id, start_us""".stripMargin,
      // G18/G19: sink→source avro round-trip is the identity
      "stream_avro_roundtrip" ->
        """SELECT event_id, event_type, user_id, value
          |FROM events ORDER BY event_id""".stripMargin,
      // G12: gopher DEFAULT thresholds ∧ quality floor ∧ the hashed
      // classifier score — all three signal replays composed
      "stream_corpus_filter" ->
        """WITH m AS (
          |  SELECT doc_id, text, string_split_regex(lower(trim(text)), '\s+') AS toks,
          |    string_split(text, chr(10)) AS ls,
          |    CAST(length(text) - length(replace(text, '#', '')) AS BIGINT) AS hash_cnt,
          |    CAST((length(text) - length(replace(text, '...', ''))) // 3 AS BIGINT) AS ell_cnt
          |  FROM documents),
          |g AS (SELECT doc_id, toks,
          |    CAST(len(toks) AS BIGINT) AS n_words,
          |    CAST(list_sum(list_transform(toks, x -> length(x))) AS DOUBLE) / len(toks) AS mwl,
          |    CAST(hash_cnt + ell_cnt AS DOUBLE) / len(toks) AS swr,
          |    CAST(len(list_filter(ls, l -> starts_with(ltrim(l), '•') OR starts_with(ltrim(l), '-')
          |                                OR starts_with(ltrim(l), '*'))) AS DOUBLE) / len(ls) AS blf,
          |    CAST(len(list_filter(ls, l -> ends_with(rtrim(l), '...') OR ends_with(rtrim(l), '…'))) AS DOUBLE)
          |      / len(ls) AS elf,
          |    CAST(len(list_filter(toks, t -> regexp_matches(t, '[a-z]'))) AS DOUBLE) / len(toks) AS awf,
          |    CAST(len(list_intersect(list_distinct(toks),
          |         ['the','a','and','of','to'])) AS BIGINT) AS nsd,
          |    (LEAST(CAST(LENGTH(text) AS DOUBLE) / 500.0, 1.0) * 0.3)
          |     + ((CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks)) * 0.4)
          |     + ((1.0 - ABS((CAST(len(list_filter(toks,
          |          t -> t IN ('the','a','an','of','to','and','in','is','on','for','with','at','by'))) AS DOUBLE)
          |         / len(toks)) - 0.3)) * 0.3) AS quality
          |  FROM m),
          |p AS (SELECT doc_id, toks FROM g
          |      WHERE n_words >= 40 AND n_words <= 100000 AND mwl >= 3.0 AND mwl <= 6.0
          |        AND swr <= 0.1 AND blf <= 0.9 AND elf <= 0.3 AND awf >= 0.8 AND nsd >= 2
          |        AND quality >= 0.6),
          |f AS (SELECT doc_id, list_concat(toks,
          |        CASE WHEN len(toks) >= 2
          |             THEN [toks[i] || '_' || toks[i+1] for i in range(1, len(toks))]
          |             ELSE []::VARCHAR[] END) AS feats FROM p),
          |sc AS (SELECT doc_id, len(feats) AS n,
          |        list_sum(list_transform(feats, x ->
          |          (((CAST(('0x' || substr(md5(x), 1, 13)) AS BIGINT) % 4096)
          |            * 2654435761) % 1001) - 500)) AS raw
          |       FROM f)
          |SELECT doc_id, CAST(raw AS DOUBLE) / (CAST(n AS DOUBLE) * 1000.0) AS clf_score
          |FROM sc ORDER BY doc_id""".stripMargin,
      // G2: the state-store dedup emits each id exactly once
      "stream_dedup_state" ->
        """SELECT event_type, COUNT(*) AS n,
          |       COUNT(DISTINCT event_id) AS n_ids
          |FROM events WHERE event_id % 4 = 0
          |GROUP BY event_type ORDER BY event_type""".stripMargin)
  }
}
