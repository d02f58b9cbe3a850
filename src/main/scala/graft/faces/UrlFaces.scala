package graft
package faces

import org.apache.spark.sql.{DataFrame, functions => F}
import graft.sources.Tables
import Kit._

/** Driver faces of section U, URL and domain curation. */
private[graft] object UrlFaces {

  val all: Seq[Face] = Seq(
    // the crawl pipeline's stage zero (C4 blocklist, RefinedWeb URL
    // dedup + per-domain caps): documents gain deterministic messy
    // URLs (the E7 decoration recipe) and every stage — RFC 3986
    // normalization, URL-exact dedup, per-domain cap, Bloom blocklist
    // — replays in DuckDB over the identical rendered strings
    Face("url_normalize", (s, d) => {
      Tables.documents(s, d)
        .select(F.col("doc_id"), messyUrl.as("url"),
          graft.operators.Url.normalize(messyUrl).as("url_norm"))
        .orderBy("doc_id")
    }, Oracle(
      // replays Url.normalize stage by stage over the identical
      // rendered messy URL (scheme/host case, default ports, fragment,
      // trailing slashes, byte-order param sort); %11 rows have no
      // scheme and must surface NULL
        s"""WITH ${urlNormSql(s"u AS (SELECT doc_id, $messyUrlSql AS url FROM documents)")}
           |SELECT doc_id, url, url_norm FROM norm ORDER BY doc_id""".stripMargin)),
    // URL-exact dedup over normalized URLs: consecutive-id pairs spell
    // the same resource two messy ways; normalization collapses them,
    // min-id witness per group (the C1 rule)
    Face("url_dedup", (s, d) => {
      graft.operators.Url.dedupByUrl(
          Tables.documents(s, d, fanOut = true).withColumn("url", dupUrl), "doc_id", "url")
        .orderBy("keep_id")
    }, Oracle(
      // normalization collapses the two messy spellings of each pair;
      // min-id witness + carrier count (the C1 rule on URL identity)
        s"""WITH ${urlNormSql(s"u AS (SELECT doc_id, $dupUrlSql AS url FROM documents)")}
           |SELECT url_norm, MIN(doc_id) AS keep_id, COUNT(*) AS n_dups
           |FROM norm WHERE url_norm IS NOT NULL
           |GROUP BY url_norm ORDER BY keep_id""".stripMargin)),
    // per-domain cap (the RefinedWeb anti-mirror rule): each host
    // keeps its 10 smallest-md5 docs through the bounded TopK
    // aggregate — the S1 law, replayed as a DuckDB window
    Face("url_domain_cap", (s, d) => {
      graft.operators.Url.capPerDomain(
          Tables.documents(s, d).withColumn("url", messyUrl), "doc_id", "url", cap = 10)
        .orderBy("domain", "doc_id")
    }, Oracle(
      // the S1 smallest-md5 law as a window: each domain's 10 lowest
      // (hash52(doc_id), doc_id) rows survive
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
           |ORDER BY domain, doc_id""".stripMargin)),
    // U5 (r10): NET.PUBLIC_SUFFIX / NET.REG_DOMAIN through the SQL
    // dialect layer — the embedded PSL snapshot resolving a crafted
    // host mix that exercises every rule class (multi-label ccSLD,
    // default rule, private-section suffix, wildcard *.ck, the
    // !www.ck exception, an invalid host → NULLs). The oracle replays
    // the expected resolution as a CASE, so the hash gates the host
    // extraction, the PSL algorithm and the NULL contract
    Face("url_reg_domain", (s, d) => {
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
    }, Oracle(
      // the PSL resolution replayed as the expected CASE per rule
      // class; the invalid row gates the NULL contract
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
          |FROM u ORDER BY doc_id""".stripMargin)),
    // domain blocklist via the A24 Bloom anti-join — definite misses
    // pass map-only, hits resolve exactly, so the result IS the plain
    // anti join (the oracle's spelling); NULL-domain rows pass (no
    // host to block on)
    Face("url_domain_blocklist", (s, d) => {
      import s.implicits._
      val blocked = Seq("ex0.org", "ex3.org").toDF("domain")
      graft.operators.Url.dropBlockedDomains(
          Tables.documents(s, d).withColumn("url", messyUrl), "url", blocked,
          expectedItems = 16)
        .select("doc_id", "domain")
        .orderBy("doc_id")
    }, Oracle(
      // the Bloom anti-join result IS the plain anti join: survivors =
      // domains off the list, plus NULL-domain rows (nothing to block)
        s"""WITH u AS (SELECT doc_id, $messyUrlSql AS url FROM documents),
           |dom AS (SELECT doc_id,
           |  CASE WHEN lower(regexp_extract(trim(url), '^[A-Za-z][A-Za-z0-9+.-]*://([^/:?#]*)', 1)) = ''
           |       THEN NULL
           |       ELSE lower(regexp_extract(trim(url), '^[A-Za-z][A-Za-z0-9+.-]*://([^/:?#]*)', 1)) END AS domain
           |  FROM u)
           |SELECT doc_id, domain FROM dom
           |WHERE domain IS NULL OR domain NOT IN ('ex0.org', 'ex3.org')
           |ORDER BY doc_id""".stripMargin)),
  )
}
