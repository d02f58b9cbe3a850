package graft
package faces

import org.apache.spark.sql.{Column, DataFrame, functions => F}
import org.apache.spark.sql.expressions.Window
import graft.sources.Tables
import graft.operators.{Profile, Similarity}
import graft.functions.{text => T}
import Kit._

/** Driver faces of section B, the SQL analytics surface. */
private[graft] object SqlFaces {

      // the embedder replays end to end: the DSIR gram stream, the
      // repo 52-bit md5 law into 2·dim buckets, the signed scatter as
      // a grouped integer sum, densified over the (doc × dim) grid
  private[faces] val textEmbedOracleSql: String =
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
          |ORDER BY grid.doc_id, grid.pos""".stripMargin

  val all: Seq[Face] = Seq(
    Face("q1_agg", (s, d) => {
      Tables.lineitem(s, d, fanOut = true)
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
    }, Oracle(
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
          |GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus""".stripMargin)),
    // B1 respelled through BigQuery PIPE SYNTAX (round 12) — the same
    // decimal-cast aggregate, driven through the sql.Pipes rewrite
    // (FROM |> WHERE |> AGGREGATE..GROUP BY |> ORDER BY); shares
    // q1_agg's oracle text, so the hash proves pipe ≡ standard
    Face("sql_pipe_syntax", (s, d) => {
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
    }, Oracle(
      // pipe face: the standard-SQL replay of the piped aggregate
        """SELECT l_returnflag, l_linestatus,
          |  CAST(SUM(CAST(l_quantity AS DECIMAL(30,2))) AS DOUBLE) AS sum_qty,
          |  CAST(SUM(CAST(ROUND(l_extendedprice*(1-l_discount), 4) AS DECIMAL(30,4))) AS DOUBLE) AS sum_disc_price,
          |  CAST(SUM(CAST(l_quantity AS DECIMAL(30,2))) AS DOUBLE) / COUNT(*) AS avg_qty,
          |  COUNT(*) AS count_order
          |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-01 00:00:00'
          |GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus""".stripMargin)),
    Face("q3_join_topn", (s, d) => {
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
    }, Oracle(
        """SELECT l_orderkey, CAST(o_orderdate AS DATE) AS orderdate,
          |       CAST(SUM(CAST(ROUND(l_extendedprice*(1-l_discount), 4) AS DECIMAL(30,4))) AS DOUBLE) AS revenue
          |FROM customer JOIN orders ON o_custkey = c_custkey
          |              JOIN lineitem ON l_orderkey = o_orderkey
          |WHERE c_mktsegment = 'BUILDING'
          |  AND o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
          |  AND l_shipdate  > TIMESTAMP '1998-03-15 00:00:00'
          |GROUP BY l_orderkey, o_orderdate
          |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin)),
    Face("q5_multijoin", (s, d) => {
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
    }, Oracle(
        """SELECT n_name,
          |       CAST(SUM(CAST(ROUND(l_extendedprice*(1-l_discount), 4) AS DECIMAL(30,4))) AS DOUBLE) AS revenue
          |FROM customer, orders, lineitem, supplier, nation, region
          |WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey AND l_suppkey = s_suppkey
          |  AND c_nationkey = s_nationkey AND s_nationkey = n_nationkey
          |  AND n_regionkey = r_regionkey AND r_name = 'ASIA'
          |GROUP BY n_name ORDER BY revenue DESC, n_name""".stripMargin)),
    Face("q14_promo", (s, d) => {
      val l = Tables.lineitem(s, d)
        .filter(F.col("l_shipdate") >= F.lit(java.sql.Timestamp.valueOf("1997-01-01 00:00:00")) &&
          F.col("l_shipdate") < F.lit(java.sql.Timestamp.valueOf("1997-04-01 00:00:00")))
      l.join(F.broadcast(Tables.part(s, d)), F.col("l_partkey") === F.col("p_partkey"))
        .agg((F.lit(100.0) *
          dsum4(F.when(F.col("p_type") === "PROMO",
            F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))).otherwise(0.0)) /
          dsum4(F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))))
          .as("promo_revenue"))
    }, Oracle(
        """SELECT 100.0 *
          |  CAST(SUM(CAST(ROUND(CASE WHEN p_type = 'PROMO' THEN l_extendedprice*(1-l_discount) ELSE 0.0 END, 4) AS DECIMAL(30,4))) AS DOUBLE) /
          |  CAST(SUM(CAST(ROUND(l_extendedprice*(1-l_discount), 4) AS DECIMAL(30,4))) AS DOUBLE) AS promo_revenue
          |FROM lineitem JOIN part ON l_partkey = p_partkey
          |WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
          |  AND l_shipdate <  TIMESTAMP '1997-04-01 00:00:00'""".stripMargin)),
    Face("q_window_rank", (s, d) => {
      val w = Window.partitionBy("o_custkey").orderBy(F.col("o_totalprice").desc, F.col("o_orderkey"))
      Tables.orders(s, d)
        .select(F.col("o_custkey"), F.col("o_orderkey"), F.col("o_totalprice"),
          F.row_number().over(w).as("rnk"),
          F.lag("o_totalprice", 1).over(w).as("prev_price"))
        .filter(F.col("rnk") <= 3)
        .orderBy("o_custkey", "rnk")
    }, Oracle(
        """SELECT o_custkey, o_orderkey, o_totalprice, rnk, prev_price FROM (
          |  SELECT o_custkey, o_orderkey, o_totalprice,
          |         row_number() OVER w AS rnk,
          |         lag(o_totalprice, 1) OVER w AS prev_price
          |  FROM orders
          |  WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey))
          |WHERE rnk <= 3 ORDER BY o_custkey, rnk""".stripMargin)),
    Face("q_semi_anti", (s, d) => {
      val c = Tables.customer(s, d)
      val o = Tables.orders(s, d)
      val hasO = c.join(o, F.col("c_custkey") === F.col("o_custkey"), "left_semi")
        .select(F.col("c_custkey"), F.lit("has_orders").as("tag"))
      val noO = c.join(o, F.col("c_custkey") === F.col("o_custkey"), "left_anti")
        .select(F.col("c_custkey"), F.lit("no_orders").as("tag"))
      hasO.unionByName(noO).orderBy("c_custkey")
    }, Oracle(
        """SELECT c_custkey, 'has_orders' AS tag FROM customer
          |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
          |UNION ALL
          |SELECT c_custkey, 'no_orders' AS tag FROM customer
          |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
          |ORDER BY c_custkey""".stripMargin)),
    // B32: the GROUPING()/GROUPING_ID() companion of q_rollup — the
    // functions that tell a rollup row WHICH level produced it (a
    // COALESCE('ALL') sentinel breaks when the data itself contains
    // the sentinel; GROUPING is BigQuery's, and every engine's,
    // correct answer). Coalesced keys keep the sort
    // NULL-convention-free across engines; grouping flags are
    // integers — hash-exact
    Face("q_grouping_fn", (s, d) => {
      Tables.orders(s, d).createOrReplaceTempView("grp_orders")
      graft.GraftSql.load(s,
        """SELECT COALESCE(o_orderpriority, '?') AS pri, COALESCE(o_orderstatus, '?') AS st,
          |       CAST(GROUPING(o_orderpriority) AS BIGINT) AS g_pri,
          |       CAST(GROUPING(o_orderstatus) AS BIGINT) AS g_st,
          |       COUNT(*) AS n,
          |       CAST(SUM(CAST(o_totalprice AS DECIMAL(30,2))) AS DOUBLE) AS price_sum
          |FROM grp_orders GROUP BY ROLLUP(o_orderpriority, o_orderstatus)
          |ORDER BY g_pri, g_st, pri, st""".stripMargin)
    }, Oracle(
      // GROUPING() replay is the identical statement — both engines
      // implement the SQL-standard grouping flag
        """SELECT COALESCE(o_orderpriority, '?') AS pri, COALESCE(o_orderstatus, '?') AS st,
          |       CAST(GROUPING(o_orderpriority) AS BIGINT) AS g_pri,
          |       CAST(GROUPING(o_orderstatus) AS BIGINT) AS g_st,
          |       COUNT(*) AS n,
          |       CAST(SUM(CAST(o_totalprice AS DECIMAL(30,2))) AS DOUBLE) AS price_sum
          |FROM orders GROUP BY ROLLUP(o_orderpriority, o_orderstatus)
          |ORDER BY g_pri, g_st, pri, st""".stripMargin)),
    Face("q_rollup", (s, d) => {
      Tables.customer(s, d).as("c")
        .join(F.broadcast(Tables.nation(s, d).as("n")), F.col("c.c_nationkey") === F.col("n.n_nationkey"))
        .join(F.broadcast(Tables.region(s, d).as("r")), F.col("n.n_regionkey") === F.col("r.r_regionkey"))
        .rollup(F.col("r.r_name").as("r_name"), F.col("n.n_name").as("n_name"))
        .agg(F.count(F.lit(1)).as("n_cust"), dsum(F.col("c_acctbal")).as("total_bal"))
        .select(F.coalesce(F.col("r_name"), F.lit("ALL")).as("region_name"),
          F.coalesce(F.col("n_name"), F.lit("ALL")).as("nation_name"),
          F.col("n_cust"), F.col("total_bal"))
        .orderBy("region_name", "nation_name")
    }, Oracle(
        """SELECT COALESCE(r_name, 'ALL') AS region_name, COALESCE(n_name, 'ALL') AS nation_name,
          |       COUNT(*) AS n_cust,
          |       CAST(SUM(CAST(c_acctbal AS DECIMAL(30,2))) AS DOUBLE) AS total_bal
          |FROM customer JOIN nation ON c_nationkey = n_nationkey
          |              JOIN region ON n_regionkey = r_regionkey
          |GROUP BY ROLLUP(r_name, n_name) ORDER BY region_name, nation_name""".stripMargin)),
    Face("q_distinct_agg", (s, d) => {
      Tables.orders(s, d)
        .groupBy("o_orderstatus")
        .agg(
          F.countDistinct(F.col("o_custkey")).as("n_cust"),
          F.count(F.lit(1)).as("n_orders"),
          dsum(F.when(F.col("o_totalprice") > 100000.0, F.col("o_totalprice")).otherwise(0.0)).as("big_rev"))
        .orderBy("o_orderstatus")
    }, Oracle(
        """SELECT o_orderstatus, COUNT(DISTINCT o_custkey) AS n_cust, COUNT(*) AS n_orders,
          |  CAST(SUM(CAST(CASE WHEN o_totalprice > 100000.0 THEN o_totalprice ELSE 0.0 END AS DECIMAL(30,2))) AS DOUBLE) AS big_rev
          |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)),
    Face("q_topk_orders", (s, d) => {
      Tables.orders(s, d)
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy(F.col("o_totalprice").desc, F.col("o_orderkey"))
        .limit(20)
    }, Oracle(
        """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
          |ORDER BY o_totalprice DESC, o_orderkey LIMIT 20""".stripMargin)),
    Face("q_running_sum", (s, d) => {
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
    }, Oracle(
        """SELECT day, CAST(daily_dec AS DOUBLE) AS daily,
          |       CAST(SUM(daily_dec) OVER (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running
          |FROM (SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
          |             SUM(CAST(value AS DECIMAL(30,2))) AS daily_dec
          |      FROM events GROUP BY 1)
          |ORDER BY day""".stripMargin)),

    Face("q_setops", (s, d) => {
      val c = Tables.customer(s, d).select(F.col("c_custkey").as("k"))
      val o = Tables.orders(s, d).select(F.col("o_custkey").as("k"))
      val noOrders = c.exceptAll(o.distinct()).withColumn("src", F.lit("customers_without_orders"))
      val both = c.intersect(o).withColumn("src", F.lit("customers_with_orders"))
      noOrders.unionByName(both).orderBy("src", "k")
    }, Oracle(
        """SELECT k, 'customers_without_orders' AS src FROM (
          |  SELECT c_custkey AS k FROM customer
          |  EXCEPT ALL
          |  SELECT DISTINCT o_custkey AS k FROM orders)
          |UNION ALL
          |SELECT k, 'customers_with_orders' AS src FROM (
          |  SELECT c_custkey AS k FROM customer
          |  INTERSECT
          |  SELECT o_custkey AS k FROM orders)
          |ORDER BY src, k""".stripMargin)),
    // declarative load-gate constraints (BigQuery ASSERT / dbt-test
    // shape): row-local rules share ONE scan; unique adds a keyed
    // aggregate, referential integrity one anti-join
    Face("q_constraints", (s, d) => {
      import graft.operators.Constraints._
      graft.operators.Constraints.check(Tables.orders(s, d), Seq(
        NotNull("o_custkey"),
        InRange("o_totalprice", 1000.0, 300000.0),
        Unique(Seq("o_orderkey")),
        RefIntegrity(Seq("o_custkey"), Tables.customer(s, d), Seq("c_custkey"))))
    }, Oracle(
      // rule labels must match Constraints.Rule.name exactly (the
      // report is (rule, violations) rows, hash-compared)
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
          |) ORDER BY rule""".stripMargin)),

    // BigQuery REGEXP_* scalar surface; every pattern sits in the
    // Java-regex ∩ RE2 shared dialect so DuckDB replays it verbatim
    Face("q_regexp_ops", (s, d) => {
      val t = F.col("text")
      Tables.documents(s, d).select(
        F.col("doc_id"),
        t.rlike("https?://").as("has_url"),
        F.regexp_extract(t, "[0-9]+", 0).as("first_num"),
        F.size(F.regexp_extract_all(t, F.lit("[A-Z][a-z]+"), F.lit(0))).as("n_cap_words"),
        F.length(F.regexp_replace(t, "[aeiou]", "")).as("n_vowelless_chars"))
        .orderBy("doc_id")
    }, Oracle(
        """SELECT doc_id,
          |  regexp_matches(text, 'https?://') AS has_url,
          |  regexp_extract(text, '[0-9]+') AS first_num,
          |  len(regexp_extract_all(text, '[A-Z][a-z]+')) AS n_cap_words,
          |  length(regexp_replace(text, '[aeiou]', '', 'g')) AS n_vowelless_chars
          |FROM documents ORDER BY doc_id""".stripMargin)),

    Face("q_string_ops", (s, d) => {
      Tables.part(s, d).select(
          F.col("p_partkey"),
          F.upper(F.col("p_name")).as("name_upper"),
          F.substring(F.col("p_type"), 1, 3).as("type_prefix"),
          F.col("p_brand").like("Brand#1%").as("is_brand1x"),
          F.concat_ws("/", F.col("p_brand"), F.col("p_type")).as("brand_type"),
          F.length(F.col("p_name")).as("name_len"))
        .orderBy("p_partkey")
    }, Oracle(
        """SELECT p_partkey,
          |  upper(p_name) AS name_upper,
          |  substr(p_type, 1, 3) AS type_prefix,
          |  p_brand LIKE 'Brand#1%' AS is_brand1x,
          |  concat_ws('/', p_brand, p_type) AS brand_type,
          |  LENGTH(p_name) AS name_len
          |FROM part ORDER BY p_partkey""".stripMargin)),
    // BigQuery PIVOT surface: wide per-status columns from long rows.
    // Pivot values are pinned (F/O/P) so the output schema is static;
    // empty count cells coalesce to 0 to match SQL FILTER semantics.
    Face("q_pivot", (s, d) => {
      val wide = Tables.orders(s, d)
        .groupBy("o_orderpriority")
        .pivot("o_orderstatus", Seq("F", "O", "P"))
        .agg(F.count(F.lit(1)).as("n"), dsum(F.col("o_totalprice")).as("rev"))
      val cols = F.col("o_orderpriority") +: Seq("F", "O", "P").flatMap(st => Seq(
        F.coalesce(F.col(s"${st}_n"), F.lit(0L)).as(s"${st}_n"),
        F.col(s"${st}_rev").as(s"${st}_rev")))
      wide.select(cols: _*).orderBy("o_orderpriority")
    }, Oracle(
        """SELECT o_orderpriority,
          |  COUNT(*) FILTER (o_orderstatus = 'F') AS "F_n",
          |  CAST(SUM(CAST(o_totalprice AS DECIMAL(30,2))) FILTER (o_orderstatus = 'F') AS DOUBLE) AS "F_rev",
          |  COUNT(*) FILTER (o_orderstatus = 'O') AS "O_n",
          |  CAST(SUM(CAST(o_totalprice AS DECIMAL(30,2))) FILTER (o_orderstatus = 'O') AS DOUBLE) AS "O_rev",
          |  COUNT(*) FILTER (o_orderstatus = 'P') AS "P_n",
          |  CAST(SUM(CAST(o_totalprice AS DECIMAL(30,2))) FILTER (o_orderstatus = 'P') AS DOUBLE) AS "P_rev"
          |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)),
    // BigQuery UNPIVOT surface: two measure columns melted to
    // (key, measure, value) long rows.
    Face("q_unpivot", (s, d) => {
      Tables.part(s, d)
        .select(F.col("p_partkey"), F.col("p_size").cast("double").as("size"),
          F.col("p_retailprice").as("retailprice"))
        .unpivot(Array(F.col("p_partkey")), Array(F.col("size"), F.col("retailprice")),
          "measure", "value")
        .orderBy("p_partkey", "measure")
    }, Oracle(
        """SELECT p_partkey, 'size' AS measure, CAST(p_size AS DOUBLE) AS value FROM part
          |UNION ALL
          |SELECT p_partkey, 'retailprice', p_retailprice FROM part
          |ORDER BY p_partkey, measure""".stripMargin)),
    Face("q_grouping_sets", (s, d) => {
      graft.sources.Typed.registerAllViews(s, d)
      s.sql("""SELECT COALESCE(o_orderstatus, 'ALL') AS status,
              |       COALESCE(o_orderpriority, 'ALL') AS prio,
              |       COUNT(*) AS n,
              |       CAST(SUM(CAST(o_totalprice AS DECIMAL(30,2))) AS DOUBLE) AS total
              |FROM orders
              |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
              |ORDER BY status, prio""".stripMargin)
    }, Oracle(
        """SELECT COALESCE(o_orderstatus, 'ALL') AS status,
          |       COALESCE(o_orderpriority, 'ALL') AS prio,
          |       COUNT(*) AS n,
          |       CAST(SUM(CAST(o_totalprice AS DECIMAL(30,2))) AS DOUBLE) AS total
          |FROM orders
          |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
          |ORDER BY status, prio""".stripMargin)),
    Face("q_profile", (s, d) => {
      // int/string columns only: double/timestamp min/max stringification
      // is engine-specific and would break hash parity
      Profile.columnsExact(Tables.orders(s, d, fanOut = true)
          .select("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority"))
        .orderBy("column")
    }, Oracle(
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
          |ORDER BY "column" """.stripMargin)),
    // the 100 TB routing of B15: single algebraic pass with HLL
    // distincts (no countDistinct Expand). HLL estimates are
    // engine-specific -> rows-only; accuracy pinned in ProfileSpec
    Face("q_profile_approx", (s, d) => {
      Profile.columns(Tables.orders(s, d)
          .select("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority"))
        .orderBy("column")
    }, RowsOnly("HLL distinct-count estimates are engine-specific; accuracy is pinned in ProfileSpec")),
    // exact interpolated percentiles (BigQuery PERCENTILE_CONT). ORACLE-/
    // BOUNDED-GROUP-ONLY: Spark's exact `percentile` buffers every value
    // of a group in one aggregation buffer — at 100 TB a hot group is an
    // OOM, not a slow query. The 100 TB routing is q_percentile_approx.
    Face("q_percentile", (s, d) => {
      Tables.events(s, d).groupBy("event_type")
        .agg(
          F.expr("percentile(value, 0.25)").as("p25"),
          F.expr("percentile(value, 0.5)").as("p50"),
          F.expr("percentile(value, 0.9)").as("p90"),
          F.count(F.lit(1)).as("n"))
        .orderBy("event_type")
    }, Oracle(
        """SELECT event_type,
          |  quantile_cont(value, 0.25) AS p25,
          |  quantile_cont(value, 0.5) AS p50,
          |  quantile_cont(value, 0.9) AS p90,
          |  COUNT(*) AS n
          |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)),
    // the 100 TB routing of B11: approx_percentile keeps a bounded
    // KLL-style sketch per group (mergeable partials, map-side combine)
    // instead of buffering every value. Sketch estimates are
    // engine-specific -> rows-only; accuracy pinned vs exact in
    // ProfileSpec (matches BigQuery's own APPROX_QUANTILES surface).
    Face("q_percentile_approx", (s, d) => {
      Tables.events(s, d).groupBy("event_type")
        .agg(
          F.expr("approx_percentile(value, 0.25, 10000)").as("p25"),
          F.expr("approx_percentile(value, 0.5, 10000)").as("p50"),
          F.expr("approx_percentile(value, 0.9, 10000)").as("p90"),
          F.count(F.lit(1)).as("n"))
        .orderBy("event_type")
    }, RowsOnly("approx_percentile sketch estimates are engine-specific; accuracy against exact is pinned in ProfileSpec and the exact half is hash-gated by q_percentile_approx_exact")),
    // B11b: the EXACT-REGIME face of approx_percentile (the B24
    // recipe — drive the sketch where its answer is provably exact
    // and the hash oracle applies): Spark's GK sketch at accuracy ≥
    // group size returns the true rank-selected ELEMENT, which is
    // exactly DuckDB's quantile_disc — so the SAME routing that runs
    // approximate at 100 TB is hash-gated here, leaving only the
    // genuinely approximate regime rows-only
    Face("q_percentile_approx_exact", (s, d) => {
      Tables.events(s, d).groupBy("event_type")
        .agg(
          F.expr("approx_percentile(value, 0.25, 10000000)").as("p25"),
          F.expr("approx_percentile(value, 0.5, 10000000)").as("p50"),
          F.expr("approx_percentile(value, 0.9, 10000000)").as("p90"),
          F.count(F.lit(1)).as("n"))
        .orderBy("event_type")
    }, Oracle(
      // exact-regime GK = rank-selected element = quantile_disc
        """SELECT event_type,
          |       quantile_disc(value, 0.25) AS p25,
          |       quantile_disc(value, 0.5) AS p50,
          |       quantile_disc(value, 0.9) AS p90,
          |       COUNT(*) AS n
          |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)),
    // BigQuery APPROX_TOP_COUNT: bounded mergeable sketch, map-side
    // partials, no per-item shuffle. maxItemsTracked covers the
    // distinct count here, so counts are exact and the oracle hash
    // applies; the sub-capacity estimation regime + sketch-merge
    // (accumulate/combine/estimate) are pinned in HeavyHittersSpec.
    // Re-sorted on (count, item) because sketch tie order is unspecified.
    Face("q_approx_topk", (s, d) => {
      graft.operators.HeavyHitters.topCount(
          Tables.events(s, d), "event_type", k = 3, maxItemsTracked = 16)
        .select("item", "count_est")
        .orderBy(F.col("count_est").desc, F.col("item"))
    }, Oracle(
        """SELECT item, count_est FROM (
          |  SELECT event_type AS item, COUNT(*) AS count_est
          |  FROM events GROUP BY event_type
          |  ORDER BY count_est DESC, item LIMIT 3)
          |ORDER BY count_est DESC, item""".stripMargin)),

    // BigQuery ARRAY surface: ARRAY_AGG(... ORDER BY ... LIMIT 3) +
    // UNNEST WITH OFFSET — per-customer top-3 orders as an ordered
    // array, exploded back to scalar rows (arrays in the output frame
    // are hash-fragile; scalar rows are the proven compare shape).
    // The bounded top_k_payload aggregate is the point: ARRAY_AGG with
    // LIMIT k must hold O(k) state per key, not collect_list's whole
    // group (PlanSpec asserts no collect_list survives in this plan).
    // ORDER BY price DESC, key DESC ⇒ tieId = -key (asc on the
    // negation); the payload struct carries the output columns.
    Face("q_array_ops", (s, d) => {
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
    }, Oracle(
      // list(... ORDER BY price DESC, key DESC)[1:3] ≡ Spark's
      // slice(reverse(array_sort(struct(price, key))), 1, 3); both
      // sides explode to (custkey, pos, orderkey, price) scalar rows
        """WITH top3 AS (
          |  SELECT o_custkey,
          |         (list({'orderkey': o_orderkey, 'price': o_totalprice}
          |                ORDER BY o_totalprice DESC, o_orderkey DESC))[1:3] AS arr
          |  FROM orders GROUP BY o_custkey)
          |SELECT o_custkey, CAST(i - 1 AS INT) AS pos,
          |       arr[i].orderkey AS orderkey, arr[i].price AS price
          |FROM top3, UNNEST(generate_series(1, len(arr))) AS u(i)
          |ORDER BY o_custkey, pos""".stripMargin)),
    // BigQuery conditional scalar surface: COUNTIF, SAFE_DIVIDE
    // (= nullif-guarded ANSI division), IFNULL, ANY_VALUE (sound for
    // the oracle because c_name is functionally dependent on the
    // grouping key after the join — any value IS the min)
    Face("q_cond_ops", (s, d) => {
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
    }, Oracle(
        """SELECT o_custkey, min(c_name) AS name,
          |       count(*) FILTER (WHERE o_orderstatus = 'F') AS n_f,
          |       count(*) FILTER (WHERE o_orderstatus = 'O') AS n_o,
          |       coalesce(CAST(count(*) FILTER (WHERE o_orderstatus = 'F') AS DOUBLE)
          |                / CAST(nullif(count(*) FILTER (WHERE o_orderstatus = 'O'), 0) AS DOUBLE),
          |                CAST(-1 AS DOUBLE)) AS f_over_o
          |FROM orders JOIN customer ON o_custkey = c_custkey
          |GROUP BY o_custkey ORDER BY o_custkey""".stripMargin)),
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
    Face("q_qualify", (s, d) => {
      Tables.orders(s, d).createOrReplaceTempView("orders")
      graft.GraftSql.load(s,
        """SELECT o_custkey, o_orderkey, o_orderdate, o_orderstatus
          |FROM orders
          |QUALIFY row_number() OVER (PARTITION BY o_custkey
          |        ORDER BY o_orderdate DESC, o_orderkey) = 1
          |ORDER BY o_custkey""".stripMargin)
    }, Oracle(
        """SELECT o_custkey, o_orderkey, o_orderdate, o_orderstatus
          |FROM orders
          |QUALIFY row_number() OVER (PARTITION BY o_custkey
          |        ORDER BY o_orderdate DESC, o_orderkey) = 1
          |ORDER BY o_custkey""".stripMargin)),

    // distribution-window surface: NTILE / PERCENT_RANK / CUME_DIST
    // per priority — one Window over one partition shuffle; unique
    // (totalprice, orderkey) ordering makes every rank deterministic,
    // and the rank ratios are exact small-integer divisions, so the
    // doubles hash-match across engines
    Face("q_ntile", (s, d) => {
      val w = Window.partitionBy("o_orderpriority")
        .orderBy(F.col("o_totalprice"), F.col("o_orderkey"))
      Tables.orders(s, d).select(
          F.col("o_orderkey"), F.col("o_orderpriority"),
          F.ntile(4).over(w).as("quartile"),
          F.percent_rank().over(w).as("pct_rank"),
          F.cume_dist().over(w).as("cume"))
        .orderBy("o_orderkey")
    }, Oracle(
        """SELECT o_orderkey, o_orderpriority,
          |       ntile(4)       OVER w AS quartile,
          |       percent_rank() OVER w AS pct_rank,
          |       cume_dist()    OVER w AS cume
          |FROM orders
          |WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey)
          |ORDER BY o_orderkey""".stripMargin)),

    // BigQuery correlated-scalar-subquery surface, through spark.sql
    // (planned as outer joins by both engines; integer/decimal outputs
    // keep hash parity trivially)
    Face("q_corr_subquery", (s, d) => {
      graft.sources.Typed.registerAllViews(s, d)
      s.sql("""SELECT c_custkey,
              |  (SELECT COUNT(*) FROM orders WHERE o_custkey = c_custkey) AS n_orders,
              |  (SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(30,2))) AS DOUBLE)
              |     FROM orders WHERE o_custkey = c_custkey) AS total
              |FROM customer ORDER BY c_custkey""".stripMargin)
    }, Oracle(
        """SELECT c_custkey,
          |  (SELECT COUNT(*) FROM orders WHERE o_custkey = c_custkey) AS n_orders,
          |  (SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(30,2))) AS DOUBLE)
          |     FROM orders WHERE o_custkey = c_custkey) AS total
          |FROM customer ORDER BY c_custkey""".stripMargin)),
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
    Face("q_recursive_cte", (s, d) => {
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
    }, Oracle(
      // same recursive walk in DuckDB's WITH RECURSIVE; // is DuckDB's
      // integer division (Spark spells it DIV)
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
          |ORDER BY root, depth""".stripMargin)),
    // BigQuery RANGE window: trailing 7-day sum over the daily series
    // (RANGE frame with an interval bound, not a row count)
    // B19 (+B48 refinement, r10): the trailing-7-day RANGE window,
    // spelled as a named-WINDOW REFINEMENT CHAIN (partition → +order →
    // +frame) through the dialect merge — the hash gates that the
    // merged spec IS the full inline spec
    Face("q_range_window", (s, d) => {
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
    }, Oracle(
        """WITH daily AS (
          |  SELECT CAST(date_trunc('day', ts) AS DATE) AS day, event_type,
          |         SUM(CAST(value AS DECIMAL(30,2))) AS daily_dec
          |  FROM events GROUP BY 1, 2)
          |SELECT day, event_type, CAST(daily_dec AS DOUBLE) AS daily,
          |       CAST(SUM(daily_dec) OVER (PARTITION BY event_type ORDER BY day
          |            RANGE BETWEEN INTERVAL 6 DAY PRECEDING AND CURRENT ROW) AS DOUBLE)
          |         AS trailing_7d
          |FROM daily ORDER BY event_type, day""".stripMargin)),
    // batch sessionization: gap>30min starts a new session; epoch-micros
    // arithmetic on both sides dodges engine interval-comparison corners
    Face("q_sessionize", (s, d) => {
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
    }, Oracle(
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
          |FROM s GROUP BY user_id, session_id ORDER BY user_id, session_id""".stripMargin)),
    // contamination check: corpus docs (id>=25) sharing >=5 distinct
    // 3-gram shingles with any "benchmark" doc (id<25) — the pre-train
    // eval-set overlap sweep; fires on the corpus's replicated docs
    Face("text_contamination", (s, d) => {
      val docs = Tables.documents(s, d)
      graft.operators.InvertedIndex.contaminationPairs(
          docs.filter(F.col("doc_id") >= 25), docs.filter(F.col("doc_id") < 25),
          "doc_id", "text", minShared = 5)
        .orderBy("corpus_id", "bench_id")
    }, Oracle(
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
          |ORDER BY corpus_id, bench_id""".stripMargin)),
    // A44: the search-index lifecycle as STATEMENTS — the index IS the
    // materialized positional postings view, so the phrase query joins
    // posting lists (never re-tokenizes the corpus); DuckDB replays
    // tokenize + adjacency directly, gating that the indexed route
    // returns exactly the direct-scan answer
    Face("sql_search_index", (s, d) => {
      Tables.documents(s, d).createOrReplaceTempView("si_docs")
      graft.GraftSql.load(s, "DROP SEARCH INDEX IF EXISTS si_docs_idx")
      graft.GraftSql.load(s, "CREATE SEARCH INDEX si_docs_idx ON si_docs (doc_id, text)")
      graft.GraftSql.load(s,
        """SELECT p0.doc_id AS doc_id, COUNT(*) AS n_hits, MIN(p0.pos) AS first_pos
          |FROM si_docs_idx p0 JOIN si_docs_idx p1
          |  ON p1.doc_id = p0.doc_id AND p1.pos = p0.pos + 1 AND p1.token = 'fast'
          |WHERE p0.token = 'slow'
          |GROUP BY p0.doc_id ORDER BY doc_id""".stripMargin)
    }, Oracle(
      // the indexed phrase route replays as the direct tokenize +
      // adjacency — index and scan must answer identically
        """WITH toks AS (
          |  SELECT doc_id, unnest(range(len(t))) AS pos, unnest(t) AS token
          |  FROM (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS t
          |        FROM documents)),
          |m AS (SELECT p0.doc_id, p0.pos
          |      FROM (SELECT doc_id, pos FROM toks WHERE token = 'slow') p0
          |      JOIN (SELECT doc_id, pos - 1 AS pos FROM toks WHERE token = 'fast') p1
          |        ON p0.doc_id = p1.doc_id AND p0.pos = p1.pos)
          |SELECT doc_id, COUNT(*) AS n_hits, MIN(pos) AS first_pos
          |FROM m GROUP BY doc_id ORDER BY doc_id""".stripMargin)),
    // A44b: SEARCH-style ALL-terms containment answered from the
    // postings alone (searchFromPostings — one Σdf-row pass, one
    // exchange, corpus untouched); DuckDB replays tokenize +
    // distinct-term coverage directly
    Face("search_index_terms", (s, d) => {
      val postings = graft.operators.InvertedIndex.positionalPostings(
        Tables.documents(s, d), "doc_id", "text")
      graft.operators.InvertedIndex.searchFromPostings(
          postings, Seq("slow", "fast", "the"))
        .orderBy("doc_id")
    }, Oracle(
      // indexed all-terms containment ≡ tokenize + distinct-coverage
        """WITH toks AS (
          |  SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\s+')) AS token
          |  FROM documents),
          |hit AS (SELECT doc_id, COUNT(DISTINCT token) AS nt
          |        FROM toks WHERE token IN ('slow', 'fast', 'the') GROUP BY doc_id)
          |SELECT doc_id FROM hit WHERE nt = 3 ORDER BY doc_id""".stripMargin)),

    // A44c (round 12): the ANALYZER-MATCHED index route — a
    // punctuation-decorated corpus indexed through the statement's
    // LOG_ANALYZER option (non-alphanumeric-run tokens, the B31
    // SEARCH() analyzer), then all-terms containment answered from
    // the postings; 'doc' only exists as a token if '[Doc#' split and
    // case-folded correctly. Closes the stated A44-vs-B31 divergence.
    Face("search_index_log", (s, d) => {
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
    }, Oracle(
      // the LOG_ANALYZER replay: decorate, then split on
      // non-alphanumeric RUNS after lowercasing — '[Doc#12]' must
      // yield tokens (doc, 12)
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
          |SELECT doc_id FROM hit WHERE nt = 3 ORDER BY doc_id""".stripMargin)),

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
    Face("text_embed", (s, d) => {
      val emb = graft.operators.Staging.stageLazy(
        graft.operators.Embedding.hashEmbedding(
          Tables.documents(s, d, fanOut = true), "doc_id", "text", dim = 32))
      emb.select(F.col("doc_id"), F.posexplode(F.col("embedding")).as(Seq("pos", "v")))
        .orderBy("doc_id", "pos")
    }, Oracle(textEmbedOracleSql)),

    // E24b: END-TO-END text retrieval with NO external vectors —
    // documents → hashed embeddings (E24) → cosine top-k (D1), all
    // in-engine. Cosine is scale-invariant, so the integer embeddings
    // score directly (cast to float — components are small exact
    // ints); both sides staged (the §4 join-predicate discipline).
    // The oracle replays embed + ranking as one statement
    Face("search_text_embed", (s, d) => {
      val emb = graft.operators.Staging.stageLazy(
        graft.operators.Embedding.hashEmbedding(
            Tables.documents(s, d, fanOut = true), "doc_id", "text", dim = 32)
          .select(F.col("doc_id"), F.col("embedding").cast("array<float>").as("embedding")))
      val q = emb.filter(F.col("doc_id") % 50 === 0)
        .select(F.col("doc_id").as("qid"), F.col("embedding").as("qvec"))
      Similarity.bruteForceTopK(emb.withColumnRenamed("doc_id", "vec_id"), q, 5)
        .orderBy("qid", "rank")
    }, Oracle(
      // the whole retrieval pipeline in one replay: embed (the
      // text_embed CTEs, densified to per-doc lists) then the D1
      // cosine ranking
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
          |WHERE rank <= 5 ORDER BY qid, rank""".stripMargin)),

    // posting-list stats: the distributed heart of TF-IDF over the corpus
    Face("text_tf_df", (s, d) => {
      graft.operators.InvertedIndex.termStats(Tables.documents(s, d), "doc_id", "text")
        .orderBy("token")
    }, Oracle(
        """WITH t AS (SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\s+')) AS token
          |           FROM documents),
          |tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM t GROUP BY 1, 2)
          |SELECT token, COUNT(*) AS df, CAST(SUM(tf) AS BIGINT) AS tf_total
          |FROM tf GROUP BY token ORDER BY token""".stripMargin)),
    // E22: exact phrase matching over the positional token stream —
    // adjacency, not bag-of-words; a two-term and a three-term phrase
    // under one gate. The stream filters to the phrases' own terms
    // before any shuffle, the adjacency is df-sized equi-joins on the
    // normalized start position; overlapping hits count separately
    Face("search_phrase", (s, d) => {
      val docs = Tables.documents(s, d)
      val p1 = graft.operators.InvertedIndex
        .phraseOccurrences(docs, "doc_id", "text", Seq("table", "value"))
        .withColumn("phrase", F.lit("table value"))
      val p2 = graft.operators.InvertedIndex
        .phraseOccurrences(docs, "doc_id", "text", Seq("a", "row", "fast"))
        .withColumn("phrase", F.lit("a row fast"))
      p1.unionByName(p2).orderBy("phrase", "doc_id")
    }, Oracle(
      // phrase adjacency replays relationally: positions of each term,
      // successive terms joined at (doc, start + i)
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
          |ORDER BY phrase, doc_id""".stripMargin)),
    // Corpus-relative rare-token signal: per doc, how many of its
    // distinct tokens appear in <= dfMax documents corpus-wide —
    // high counts flag OCR noise / gibberish / boilerplate IDs (the
    // CCNet-family vocabulary filter). Integer counts only, so the
    // oracle is hash-exact. Scale shape: tf collapses the exploded
    // stream to one row per (doc, token) BEFORE the df join, and the
    // join is a plain shuffle hash join on token (the vocabulary at
    // 100 TB is far past broadcast size).
    Face("text_rare_tokens", (s, d) => {
      val tf = graft.operators.InvertedIndex
        .termFrequencies(Tables.documents(s, d), "doc_id", "text")
      val df = tf.groupBy("token").agg(F.count(F.lit(1)).as("__df"))
      tf.join(df, "token")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).as("n_distinct"),
          F.sum(F.when(F.col("__df") <= 2, 1L).otherwise(0L)).as("n_rare"))
        .orderBy("doc_id")
    }, Oracle(
        """WITH t AS (SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\s+')) AS token
          |           FROM documents),
          |tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM t GROUP BY 1, 2),
          |dfx AS (SELECT token, COUNT(*) AS df FROM tf GROUP BY 1)
          |SELECT doc_id, COUNT(*) AS n_distinct,
          |       CAST(SUM(CASE WHEN df <= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_rare
          |FROM tf JOIN dfx USING (token)
          |GROUP BY doc_id ORDER BY doc_id""".stripMargin)),
    // BPE vocabulary induction over the corpus's word-frequency dict:
    // the merge table is fully deterministic (weight desc, pair asc
    // ties) but SQL-inexpressible — rows-only; BpeSpec pins the whole
    // table against an independent driver-side reference BPE
    // E9 (gate-green round 12): the trained merge table hashes against
    // a full INDEPENDENT DuckDB re-training (sequential vanilla
    // rounds, unrolled CTEs — bpeTrainOracleSql); the batched trainer
    // equals that schedule by the bestPairs disjoint-prefix theorem
    Face("text_bpe_vocab", (s, d) => {
      graft.operators.Bpe.mergeTable(Tables.documents(s, d), "text", rounds = 10)
        .orderBy("rank")
    },
      // replays BPE encoding: each word becomes a '~~'-separated
      // character string, each pinned merge one boundary-anchored
      // left-to-right replace (sequential per rank ≡ ApplyBpe's
      // min-rank loop for well-formed tables); token count = '~'
      // count / 2 - 1, encoded text = separators to spaces
      // E9's merge table under a FULL TRAINING replay (round 12):
      // DuckDB re-trains vanilla sequential BPE from scratch — see
      // bpeTrainOracleSql's scaladoc for why batched ≡ sequential
      Oracle(bpeTrainOracleSql(10))),
    // E9b (round 15): BYTE-level BPE training — the GPT-2-family
    // production regime (UTF-8 bytes as fixed-width hex tokens, byte
    // fallback by construction). Same batched trainer, same oracle
    // replay with hex(encode(w)) as the round-0 symbol string
    Face("text_bpe_bytes", (s, d) => {
      graft.operators.Bpe.mergeTable(Tables.documents(s, d), "text", rounds = 10,
        byteLevel = true).orderBy("rank")
    }, Oracle(bpeTrainOracleSql(10, byteLevel = true))),
    // E25 (round 11): unigram-LM tokenizer, the SentencePiece
    // algorithm beside E9's BPE. The SEED half is pure relational
    // (substring stream weighted by word freq — integer-exact) and
    // carries the hash; training's hard-EM is deterministic but
    // SQL-inexpressible (Viterbi) and its ln p is libm → the vocab
    // face is rows-only with UnigramSpec pinning the whole table
    // against an independent driver-side reference
    Face("text_unigram_seed", (s, d) => {
      graft.operators.Unigram.seedPieces(Tables.documents(s, d), "text",
        maxPieceLen = 4, seedSize = 50)
    }, Oracle(
      // E25's hash half: the unigram seed table is a pure substring
      // stream over the word-frequency dict — DuckDB replays it with
      // two range unnests; integer weights, total (weight, piece)
      // order, so the hash gates tokenize, weighting and the top-N cut
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
          |ORDER BY weight DESC, piece LIMIT 50""".stripMargin)),
    Face("text_unigram_tokens", (s, d) => {
      val docs = Tables.documents(s, d)
      val pieces = graft.operators.Unigram.train(docs, "text",
        vocabSize = 200, rounds = 3, maxPieceLen = 4, seedSize = 400)
      graft.operators.Unigram.tokenCount(docs, "doc_id", "text", pieces)
        .orderBy("doc_id")
    }, RowsOnly("Viterbi segmentation under libm ln piece scores is not SQL-expressible; UnigramSpec pins it against a driver-side reference")),
    // subword regularization (Kudo 2018's augmentation half): sampled
    // segmentation counts, RNG-free (md5(word ‖ doc-salt)) so the face
    // is deterministic run-to-run yet varies across docs — rows-only
    // (libm exp/ln in the draw), UnigramSpec pins validity, salt
    // determinism, k=1 ≡ Viterbi, and alpha concentration
    Face("text_unigram_sample", (s, d) => {
      val docs = Tables.documents(s, d)
      val pieces = graft.operators.Unigram.train(docs, "text",
        vocabSize = 200, rounds = 2, maxPieceLen = 4, seedSize = 400)
      graft.operators.Unigram.sampledTokenCount(docs, "doc_id", "text", pieces,
        k = 8, alpha = 0.2, salt = "r11")
        .orderBy("doc_id")
    }, RowsOnly("sampled segmentation draws through libm exp and ln; UnigramSpec pins validity, salt determinism and the k=1 Viterbi reduction")),
    // E19: BPE ENCODING under a pinned well-formed merge table — the
    // apply half of the tokenizer (E9 trains; this runs the trained
    // artifact at corpus scale, the per-doc true-token-count signal).
    // Map-only: explode words, one codegen'd ApplyBpe per word, then a
    // per-doc bounded fold (positions are row-bounded, the B25 rule).
    // Every output is an integer or a deterministic string, so the
    // DuckDB oracle replays the merge loop as chained boundary-
    // anchored replaces over separator-joined characters
    Face("text_bpe_encode", (s, d) => {
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
    }, Oracle(
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
          |ORDER BY d.doc_id""".stripMargin)),
    // E19b (round 15): BYTE-level BPE ENCODING under the hex-renamed
    // pinned table — the apply half of text_bpe_bytes, same map-only
    // shape as text_bpe_encode (explode words, one codegen'd ApplyBpe
    // over the byte tokens, per-doc bounded fold); the oracle replays
    // the chained boundary-anchored replaces over hex(encode(word))
    Face("text_bpe_bytes_encode", (s, d) => {
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
    }, Oracle(
      // byte-level encode: the char replay with hex(encode(word)) as
      // the round-0 symbol string and the hex-renamed merge chain
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
          |ORDER BY d.doc_id""".stripMargin)),

    // unigram cross-entropy under the corpus's own unigram LM — the
    // CCNet-family perplexity quality signal (high = rare-token-heavy
    // doc). ln() lands in doubles whose bit pattern is libm-dependent,
    // so rows-only; InvertedIndexSpec pins values against a driver-
    // side recompute. Same scale shape as text_rare_tokens: (doc,
    // token) collapse, token-keyed shuffle join, broadcast 1-row total
    Face("text_surprisal", (s, d) => {
      val tf = graft.operators.InvertedIndex
        .termFrequencies(Tables.documents(s, d, fanOut = true), "doc_id", "text")
      val stats = tf.groupBy("token").agg(F.sum("tf").as("__ct"))
      val total = tf.agg(F.sum("tf").cast("double").as("__N"))
      tf.join(stats, "token")
        .crossJoin(F.broadcast(total))
        .groupBy("doc_id")
        .agg(
          // an exact decimal sum: a double sum would take its last bits
          // from the shuffle's partitioning
          (F.sum((F.col("tf") * -F.log(F.col("__ct") / F.col("__N"))).cast("decimal(38,18)"))
            .cast("double") / F.sum("tf")).as("avg_surprisal"),
          F.sum("tf").cast("long").as("n_tokens"))
        .orderBy("doc_id")
    }, RowsOnly("the per-doc mean of libm ln lands in engine-specific double bits; values are pinned against a driver-side recompute in InvertedIndexSpec")),
    // E15: bigram LM surprisal (the CCNet recipe one order up from
    // text_surprisal): Laplace-smoothed P(w2|w1), per-doc mean over
    // bigram occurrences; libm ln => rows-only like E10, independent
    // recompute pinned in LanguageModelSpec
    Face("text_bigram_surprisal", (s, d) => {
      graft.operators.LanguageModel
        .bigramSurprisal(Tables.documents(s, d), "doc_id", "text")
        .orderBy("doc_id")
    }, RowsOnly("libm ln of Laplace-smoothed bigram probabilities; an independent recompute is pinned in LanguageModelSpec and the routing is hash-gated by text_bigram_hits")),
    // E15's INTEGER face (the E15b/c/d `_hits` discipline backported):
    // model trained on the EVEN doc_ids, every doc scored, odd docs
    // decorated with a never-seen token so all three Laplace classes
    // fire — the count tables, both joins, the routing AND the count
    // sums the estimate reads all replay in DuckDB; the libm ln stays
    // on the rows-only sibling above
    Face("text_bigram_hits", (s, d) => {
      val docs = backoffFixture(Tables.documents(s, d))
      val even = docs.filter(F.col("doc_id") % 2 === 0)
      val model = (graft.operators.LanguageModel.unigramCounts(even, "text"),
        graft.operators.LanguageModel.bigramCounts(even, "text"))
      graft.operators.LanguageModel.bigramHits(docs, "doc_id", "text", Some(model))
        .orderBy("doc_id")
    }, Oracle(
      // replays E15's integer face: even-doc unigram/bigram count
      // tables, the two left joins, the three-way Laplace class
      // routing AND the count sums the estimate reads
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
          |ORDER BY d.doc_id""".stripMargin)),
    // E15b: Stupid Backoff trigram LM (Brants et al. 2007) — model
    // trained on the EVEN doc_ids; every doc scored, odd docs
    // decorated with a doc_id-derived never-seen token so all FOUR
    // backoff levels fire (the C2b decoration discipline). The integer
    // face: per-position n-gram order actually used (3/2/1/0) —
    // count tables, three joins, and the longest-available-context
    // rule all replay in DuckDB
    Face("text_backoff_hits", (s, d) => {
      val docs = backoffFixture(Tables.documents(s, d))
      val model = graft.operators.LanguageModel.trainStupidBackoff(
        docs.filter(F.col("doc_id") % 2 === 0), "text")
      graft.operators.LanguageModel.stupidBackoff(docs, "doc_id", "text", Some(model))
        .select("doc_id", "n_tokens", "n_tri", "n_bi", "n_uni", "n_unseen")
        .orderBy("doc_id")
    }, Oracle(
      // replays E15b's integer face term-for-term: position stream
      // with (up to 2) context words, count tables from the even-id
      // half, three left joins, longest-available-context level rule
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
          |FROM lv GROUP BY doc_id ORDER BY doc_id""".stripMargin)),
    // E15c: interpolated Kneser-Ney bigram LM (the normalized
    // smoothing beside Stupid Backoff) — same E15b fixture recipe:
    // trained on the even doc_ids, odd docs carry a never-seen token
    // so all three probability-mass classes fire (observed bigram /
    // continuation-only / unseen-floor). The integer face: count
    // tables, continuation counts, and the mass-class routing all
    // replay in DuckDB
    Face("text_kn_hits", (s, d) => {
      val docs = backoffFixture(Tables.documents(s, d))
      val model = graft.operators.LanguageModel.trainKneserNey(
        docs.filter(F.col("doc_id") % 2 === 0), "text")
      graft.operators.LanguageModel.kneserNey(docs, "doc_id", "text", Some(model))
        .select("doc_id", "n_bigrams", "n_big", "n_cont", "n_unseen")
        .orderBy("doc_id")
    }, Oracle(
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
          |ORDER BY d.doc_id""".stripMargin)),
    // E15d: the TRIGRAM interpolated-KN integer face — same fixture
    // recipe; the four probability-mass classes (observed trigram /
    // trigram-level continuation / unigram continuation / floor) and
    // every count table replay in DuckDB
    Face("text_kn3_hits", (s, d) => {
      val docs = backoffFixture(Tables.documents(s, d))
      val model = graft.operators.LanguageModel.trainKneserNey3(
        docs.filter(F.col("doc_id") % 2 === 0), "text")
      graft.operators.LanguageModel.kneserNey3(docs, "doc_id", "text", Some(model))
        .select("doc_id", "n_trigrams", "n_tri", "n_cont2", "n_cont1", "n_unseen")
        .orderBy("doc_id")
    }, Oracle(
      // trigram-KN mass classes: trigram types, (w2,w3) continuation
      // types, bigram-derived unigram continuations — the deepest
      // table that knows the position classifies it
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
          |ORDER BY d.doc_id""".stripMargin)),
    // the libm face of E15d (rows-only; routing hash-gated above,
    // 1e-9-pinned + proper-distribution property in the spec)
    Face("text_kn3_surprisal", (s, d) => {
      val docs = backoffFixture(Tables.documents(s, d))
      val model = graft.operators.LanguageModel.trainKneserNey3(
        docs.filter(F.col("doc_id") % 2 === 0), "text")
      graft.operators.LanguageModel.kneserNey3(docs, "doc_id", "text", Some(model))
        .select("doc_id", "n_trigrams", "kn3_surprisal")
        .orderBy("doc_id")
    }, RowsOnly("libm ln of trigram Kneser-Ney probabilities; the value is pinned to 1e-9 in LanguageModelSpec and the routing is hash-gated by text_kn3_hits")),
    // the libm face of E15c: mean -ln P under interpolated KN
    // (rows-only; the routing is hash-gated by text_kn_hits, the
    // value 1e-9-pinned in LanguageModelSpec)
    Face("text_kn_surprisal", (s, d) => {
      val docs = backoffFixture(Tables.documents(s, d))
      val model = graft.operators.LanguageModel.trainKneserNey(
        docs.filter(F.col("doc_id") % 2 === 0), "text")
      graft.operators.LanguageModel.kneserNey(docs, "doc_id", "text", Some(model))
        .select("doc_id", "n_bigrams", "kn_surprisal")
        .orderBy("doc_id")
    }, RowsOnly("libm ln of interpolated Kneser-Ney probabilities; the value is pinned to 1e-9 in LanguageModelSpec and the routing is hash-gated by text_kn_hits")),
    // the libm face of E15b: mean -ln S per doc (rows-only, like E15;
    // the routing logic is hash-gated by text_backoff_hits)
    Face("text_backoff_surprisal", (s, d) => {
      val docs = backoffFixture(Tables.documents(s, d))
      val model = graft.operators.LanguageModel.trainStupidBackoff(
        docs.filter(F.col("doc_id") % 2 === 0), "text")
      graft.operators.LanguageModel.stupidBackoff(docs, "doc_id", "text", Some(model))
        .select("doc_id", "n_tokens", "sb_surprisal")
        .orderBy("doc_id")
    }, RowsOnly("libm ln of stupid-backoff scores; the value is pinned in LanguageModelSpec and the routing is hash-gated by text_backoff_hits")),
    // Gopher/C4-style repetition quality signal: fraction of a doc's
    // 3-gram positions occupied by repeated shingles. Map-only (tokens
    // -> shingle set are staged native projections); the int/int double
    // division is IEEE-deterministic so it hashes bit-equal to DuckDB
    Face("text_repetition", (s, d) => {
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
    }, Oracle(
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
          |FROM base b JOIN dist d USING (doc_id) ORDER BY doc_id""".stripMargin)),

    // BigQuery JSON surface (JSON_VALUE / JSON_EXTRACT over a string
    // payload column): ONE from_json projection under an explicit
    // schema — never schema inference — then plain aggregation
    Face("q_json_extract", (s, d) => {
      import org.apache.spark.sql.types._
      val k = F.from_json(F.col("props"), StructType(Seq(StructField("k", LongType))))
        .getField("k")
      Tables.events(s, d)
        .select(F.col("event_type"), k.as("k"))
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).as("n"), F.count(F.col("k")).as("n_with_k"),
          F.sum("k").as("k_sum"), F.min("k").as("k_min"), F.max("k").as("k_max"))
        .orderBy("event_type")
    }, Oracle(
        """WITH e AS (SELECT event_type,
          |             CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
          |           FROM events)
          |SELECT event_type, COUNT(*) AS n, COUNT(k) AS n_with_k,
          |       CAST(SUM(k) AS BIGINT) AS k_sum, MIN(k) AS k_min, MAX(k) AS k_max
          |FROM e GROUP BY event_type ORDER BY event_type""".stripMargin)),

    // LAX_* JSON scalar accessors (round 11): six payload variants
    // per event — numeric text, quoted numeric, fractional, bool,
    // object, JSON null — pushed through all four accessors; the
    // DuckDB oracle spells the pinned coercion table inline, so the
    // hash gates the macro expansion and every coercion row. Double
    // sums ride DECIMAL (the float-parity discipline)
    Face("q_json_lax", (s, d) => {
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
    }, Oracle(
      // the LAX face replays the pinned coercion table INLINE (DuckDB
      // has no LAX_*): same guard, same unwrap, same bool/round rules
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
          |FROM x""".stripMargin)),

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
    Face("q_json_keys", (s, d) => {
      Tables.events(s, d, fanOut = true).createOrReplaceTempView("jkeys_events")
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
    }, Oracle(
      // JSON_KEYS expectations are LITERALS per constant payload shape
      // (hand-derived from the documented enumeration rule — strict
      // recurses objects only, lax unwraps one array level, lax
      // recursive any, non-identifier keys double-quote, paths sort);
      // accessor semantics replay as plain casts on the pinned variants
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
          |FROM p""".stripMargin)),

    // ML.NGRAMS (round 11): per-doc bigram+trigram generation as a
    // per-row HOF pipeline (tokens staged as a COLUMN — referenced
    // twice, so CollapseProject leaves the projection standing); the
    // DuckDB oracle replays with list comprehensions in the same
    // n-order, so the hash gates gram text, order and counts
    Face("q_ml_ngrams", (s, d) => {
      Tables.documents(s, d, fanOut = true).createOrReplaceTempView("ngram_docs")
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
    }, Oracle(
      // n-grams replay as DuckDB list comprehensions in the same
      // n-order (bigrams then trigrams); inclusive 1-based slices
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
          |FROM g ORDER BY doc_id""".stripMargin)),

    // APPROX_TOP_SUM (round 11): the EXACT-REGIME face carries the
    // hash (capacity ≥ distinct users → zero evictions → the result
    // IS the group-sum top-k, order-free; DuckDB replays it as plain
    // SQL — the B11/KLL exact-sibling discipline) ...
    Face("q_top_sum_exact", (s, d) => {
      Tables.events(s, d).createOrReplaceTempView("tsum_events")
      graft.GraftSql.load(s,
        """WITH tk AS (
          |  SELECT APPROX_TOP_SUM(user_id, CAST(event_id % 97 AS BIGINT), 20) AS a
          |  FROM tsum_events)
          |SELECT pos + 1 AS rank, e.value AS user_id, e.sum AS w_sum
          |FROM tk LATERAL VIEW posexplode(a) AS pos, e
          |ORDER BY rank""".stripMargin)
    }, Oracle(
      // the exact-regime top-sum IS the group-sum top-k, rank included
        """WITH s AS (
          |  SELECT CAST(user_id AS VARCHAR) AS user_id,
          |         CAST(SUM(CAST(event_id % 97 AS BIGINT)) AS BIGINT) AS w_sum
          |  FROM events GROUP BY 1)
          |SELECT CAST(row_number() OVER (ORDER BY w_sum DESC, user_id) AS INT) AS rank,
          |       user_id, w_sum
          |FROM s ORDER BY w_sum DESC, user_id LIMIT 20""".stripMargin)),
    // ... and the EVICTION-REGIME face (capacity 32, gate-green round
    // 12): raw estimates depend on stream order, so the face puts the
    // sketch's THEOREMS under the hash instead — guarantee-as-data.
    // Three users are inflated to provable heavy hitters (true sum
    // ~7× the survival threshold ΣW/capacity, so presence, est-bounds
    // est−err ≤ true ≤ est, and top-3 membership are deterministic
    // TRUE for ANY partitioning / merge order); DuckDB replays the
    // exact true sums and the literal TRUEs. TopSumSpec still pins
    // the bound proofs on adversarial streams.
    Face("q_approx_top_sum", (s, d) => {
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
    }, Oracle(
      // eviction-regime guarantee-as-data: the oracle recomputes the
      // heavy hitters' exact sums and expects the sketch theorems
      // (presence / est-bounds / top-3) as literal TRUE
        """WITH src AS (
          |  SELECT CAST(user_id AS VARCHAR) AS u,
          |         CASE WHEN user_id IN (1, 2, 3) THEN 5000
          |              ELSE event_id % 97 END AS w
          |  FROM events)
          |SELECT u AS user_id, CAST(SUM(w) AS BIGINT) AS true_sum,
          |       TRUE AS in_sketch, TRUE AS bounds_ok, TRUE AS in_top3
          |FROM src WHERE u IN ('1', '2', '3')
          |GROUP BY u ORDER BY u""".stripMargin)),

    // FARM_FINGERPRINT (round 11; gate-green round 12): DuckDB has no
    // FarmHash, so the oracle carries the REFERENCE values instead —
    // Guava farmHashFingerprint64 outputs for ten pinned strings (the
    // open-source Fingerprint64 BigQuery documents; the TypedSqlSpec
    // derives the same vectors live from Guava, so the literals are
    // independently cross-checked in-repo). The face computes the
    // fingerprint AND the two bucketing idioms built on it
    // (stable-sampling MOD ABS, ML.HASH_BUCKETIZE's pmod); DuckDB
    // replays the bucket arithmetic from the pinned fingerprints.
    Face("q_farm_fingerprint", (s, d) => {
      graft.GraftSql.load(s,
        """WITH v(s) AS (VALUES ('abc'), (''), ('a'), ('graft'), ('hello world'),
          |  ('id-42'), ('The quick brown fox jumps over the lazy dog'),
          |  ('order-12345'), ('0123456789'), ('FX 2024-03-01 USD/EUR'))
          |SELECT s, FARM_FINGERPRINT(s) AS fp,
          |       MOD(ABS(FARM_FINGERPRINT(s)), 8) AS b,
          |       ML.HASH_BUCKETIZE(s, 7) AS hb
          |FROM v ORDER BY s""".stripMargin)
    }, Oracle(
      // the REFERENCE Fingerprint64 values (Guava
      // farmHashFingerprint64 — the open-source algorithm BigQuery
      // documents; TypedSqlSpec re-derives these from Guava live, so
      // the pinned literals are independently cross-checked);
      // bucket arithmetic replays from the pinned fingerprints
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
          |FROM v ORDER BY s""".stripMargin)),

    // BQML analytic preprocessing (round 11): per-event-type min-max
    // scaling, gated through a decile histogram — the scaled value is
    // an IEEE double ratio of exact inputs, so floor(s*10) is
    // bit-deterministic across engines (no float-sum hashing); DuckDB
    // replays the expansion's exact formula as explicit windows
    Face("q_ml_minmax", (s, d) => {
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
    }, Oracle(
      // the min-max replay spells the scaler expansion's exact formula
      // (same CASE, same CAST discipline) as explicit DuckDB windows
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
          |ORDER BY event_type, bucket, sbin""".stripMargin)),

    // scalar JSON path accessors (round 11): a nested payload per
    // event — string/number/object/array/JSON-null members — through
    // JSON_VALUE (unquoted scalars, NULL for non-scalars) and
    // JSON_QUERY (JSON text, quotes kept); DuckDB replays with its
    // native json_extract/json_extract_string plus a json_type guard
    // for the non-scalar NULL rule
    Face("q_json_value", (s, d) => {
      Tables.events(s, d, fanOut = true).createOrReplaceTempView("jv_events")
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
    }, Oracle(
      // JSON_VALUE/JSON_QUERY replay on DuckDB's json functions; the
      // json_type guard reproduces the non-scalar → NULL rule
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
          |FROM p""".stripMargin)),

    // the JSON MUTATOR family (round 12): a deterministic payload per
    // event, each mutator exercised once — overwrite, nested create,
    // remove, array append, null strip. Jackson serializes compact and
    // insertion-ordered, so the oracle CONSTRUCTS the expected JSON
    // text directly (DuckDB 1.0 has no json mutators) — every output
    // byte is under the hash
    Face("q_json_set", (s, d) => {
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
    }, Oracle(
      // the mutator outputs reconstruct by string concatenation —
      // compact insertion-ordered serialization is the pinned contract
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
          |FROM src ORDER BY event_id""".stripMargin)),
    // the JSON CONSTRUCTORS (round 12, B56's second half): objects,
    // heterogeneous arrays, PARSE_JSON canonicalization and a
    // constructor∘mutator composition — the oracle reconstructs every
    // output byte by concatenation, same discipline as q_json_set
    Face("q_json_object", (s, d) => {
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
    }, Oracle(
      // constructor outputs reconstruct by concatenation too —
      // including the canonicalization's whitespace collapse
        """WITH src AS (
          |  SELECT event_id, event_type, event_id % 5 AS a, event_id % 3 AS t3
          |  FROM events WHERE event_id < 50)
          |SELECT event_id,
          |  '{"id":' || event_id || ',"type":"' || event_type || '","a":' || a || '}' AS obj,
          |  '[' || event_id || ',"' || event_type || '",' ||
          |    CASE WHEN a % 2 = 0 THEN 'true' ELSE 'false' END || ']' AS arr,
          |  '{"k":' || a || ',"t":[1,' || t3 || ']}' AS canon,
          |  '{"x":' || a || ',"y":{"z":"' || event_type || '"}}' AS composed
          |FROM src ORDER BY event_id""".stripMargin)),
    // BigQuery JSON ARRAY surface (B21's companion): the statement
    // builds a deterministic array payload per event, then
    // JSON_EXTRACT_ARRAY + comma-UNNEST (both rewritten by GraftSql —
    // the macro expansion and the LATERAL VIEW explode) fan it out
    // and aggregate. Numeric elements, so the DuckDB json replay
    // (json_extract + json_transform + unnest) hashes bit-for-bit
    Face("q_json_array", (s, d) => {
      Tables.events(s, d, fanOut = true).createOrReplaceTempView("ja_events")
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
    }, Oracle(
      // the JSON array face replays with DuckDB's own json functions:
      // json_extract pulls the array, json_transform types it, unnest
      // fans it out — numeric elements, so values hash bit-for-bit
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
          |FROM elems GROUP BY event_type ORDER BY event_type""".stripMargin)),

    // BigQuery GENERATE_DATE_ARRAY + UNNEST: the date-spine gap-fill
    // idiom as one statement (the SQL spelling of A14's Resample) —
    // the macro's sequence rewrite, the lateral-view UNNEST and the
    // spine × types cross join all land under the hash gate; DuckDB
    // replays the spine with generate_series
    Face("q_date_spine", (s, d) => {
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
    }, Oracle(
      // the date spine replays with DuckDB's generate_series; the
      // decimal day-sum keeps fold order out of the bytes
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
          |ORDER BY s.day, t.event_type""".stripMargin)),

    // BigQuery FUNCTION SPELLINGS (B36): one statement written in
    // BigQuery's own function dialect — COUNTIF / LOGICAL_OR /
    // TIMESTAMP_DIFF / DATE_ADD(.., INTERVAL) / FORMAT_DATE('%…') /
    // STRPOS — runs through the GraftSql spelling rewrites; DuckDB
    // replays each with ITS native spelling, so a hash match proves
    // the semantic mapping (incl. the div-truncation rule), not just
    // that something ran
    Face("q_bq_functions", (s, d) => {
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
    }, Oracle(
      // the function-spelling face replays with DuckDB's OWN native
      // spellings (count_if/bool_or/epoch_us//strftime/strpos), so
      // the hash gates the semantic mapping itself
        """WITH e AS (SELECT event_type, value, CAST(ts AS TIMESTAMP) AS ts FROM events)
          |SELECT event_type,
          |  CAST(count_if(value > 1.0) AS BIGINT) AS n_big,
          |  bool_or(value >= 2.0) AS any_big,
          |  CAST((epoch_us(MAX(ts)) - epoch_us(MIN(ts))) // 3600000000 AS BIGINT) AS span_h,
          |  CAST((epoch_us(MAX(ts)) - epoch_us(MIN(ts))) // 86400000000 AS BIGINT) AS span_d,
          |  strftime(CAST(CAST(MIN(ts) AS DATE) + INTERVAL 1 MONTH AS DATE), '%Y/%m/%d') AS next_m,
          |  CAST(strpos(event_type, 'c') AS INTEGER) AS cpos
          |FROM e GROUP BY event_type ORDER BY event_type""".stripMargin)),

    // B36c: function batch 2 in pure BigQuery dialect — TRUNC family
    // (reversed arg order, typed results), literal-delimiter SPLIT on
    // the regex metacharacters '|' and '.', EDIT_DISTANCE with the
    // capping max_distance form, NFKC-casefold CONTAINS_SUBSTR, and
    // the statement-wide INT64 cast mapping — DuckDB replays each with
    // ITS native spelling (date_trunc/string_split/levenshtein/lower)
    Face("q_bq_functions2", (s, d) => {
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
    }, Oracle(
      // batch 2 replays with DuckDB's own spellings; events are ASCII
      // so the NFKC casefold is lower()
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
          |FROM e GROUP BY event_type ORDER BY event_type""".stripMargin)),

    // BigQuery STAR MODIFIERS (B37): `* EXCEPT (...) REPLACE (expr AS
    // col)` through the GraftSql star rewrite; the oracle replays the
    // EXPLICIT projection the modifiers denote, so the hash gates the
    // expansion semantics (removed column gone, replaced column same
    // name/type with the new value, untouched columns intact)
    Face("q_star_replace", (s, d) => {
      graft.sources.Typed.registerAllViews(s, d)
      graft.GraftSql.load(s,
        """SELECT * EXCEPT (o_custkey)
          |  REPLACE (o_totalprice / 100 AS o_totalprice,
          |           upper(o_orderpriority) AS o_orderpriority)
          |FROM orders WHERE o_orderkey % 97 = 0 ORDER BY o_orderkey""".stripMargin)
    }, Oracle(
      // the star-modifier face replays as the explicit projection the
      // modifiers denote — column set and replacement values, not text
        """SELECT o_orderkey, o_orderstatus, o_orderdate,
          |       o_totalprice / 100 AS o_totalprice,
          |       upper(o_orderpriority) AS o_orderpriority
          |FROM orders WHERE o_orderkey % 97 = 0 ORDER BY o_orderkey""".stripMargin)),

    // BigQuery date/time scalar surface: EXTRACT / FORMAT_DATE /
    // DATE_DIFF / DATE_ADD. Integer parts cast to long so both engines
    // hash the same width; dayofweek follows BigQuery (Sunday=1 —
    // DuckDB's DOW is Sunday=0, mapped in the oracle)
    // B23: the date/part surface THROUGH the dialect layer — the
    // BigQuery EXTRACT spellings (incl. the Sunday-start 0-based WEEK
    // and WEEK(<WEEKDAY>) boundary arithmetic, r10) are what the hash
    // gates, replayed by DuckDB's own week arithmetic
    Face("q_date_ops", (s, d) => {
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
    }, Oracle(
      // bq_week/bq_week_thu replay BigQuery's boundary count: week 0
      // before the year's first <weekday>, else 1 + full weeks since
      // it (DuckDB dayofweek: Sunday=0..Saturday=6; date-date = days)
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
          |FROM w2 ORDER BY event_id""".stripMargin)),

    // timezone-argument date/time forms (round 14): TIMESTAMP_TRUNC /
    // DATE / FORMAT_TIMESTAMP / PARSE_TIMESTAMP with a NAMED ZONE. The
    // per-row day offset fans the January event stream out across
    // Jan–May 2024, so the Europe/Paris leg crosses the 2024-03-31
    // spring-forward boundary with real data on both sides;
    // America/Lima is a fixed-offset (no-DST) zone and Asia/Kathmandu
    // exercises a +05:45 half-quarter offset under HOUR truncation.
    // The FORMAT→PARSE round trip is gap-safe by construction: a
    // rendering of a real instant never falls inside the missing hour.
    Face("q_tz_ops", (s, d) => {
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
    }, Oracle(
      // the tz-argument forms replay as DuckDB's two-step AT TIME ZONE
      // chain: timezone('UTC', naive) lifts the UTC-instant carrier to
      // timestamptz, timezone(tz, tstz) renders the zone's wall clock,
      // and the mirrored pair reads a civil time back to the instant —
      // ICU's tzdata rules agree with java.time on every named zone
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
          |FROM b ORDER BY event_id""".stripMargin)),

    // week-unit calendar family (round 14): Sunday-start WEEK +
    // WEEK(<WEEKDAY>) + ISOWEEK truncation (pure date arithmetic —
    // Spark's date_trunc week is Monday-only), LAST_DAY(d, WEEK),
    // boundary-counting DATE_DIFF over WEEK/MONTH/QUARTER/ISOYEAR and
    // DATETIME_DIFF's civil HOUR boundaries (01:59→02:01 is ONE hour
    // crossed). Everything is integer calendar arithmetic — DuckDB
    // replays each form exactly.
    Face("q_week_ops", (s, d) => {
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
    }, Oracle(
      // week truncation replays as date arithmetic off DuckDB's
      // 0=Sunday dayofweek (Spark's is 1=Sunday — the shift constants
      // differ by one); the diffs are the same integer calendar folds
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
          |FROM w2 ORDER BY event_id""".stripMargin)),

    // GEOGRAPHY point core (round 14): ST_GEOGPOINT / ST_DISTANCE /
    // ST_DWITHIN / ST_X / ST_Y on the STRUCT<lng,lat> carrier —
    // haversine on the R=6371010 m sphere, spelled with natives both
    // engines evaluate. Distances group through FLOOR(km) (Spark's
    // double→int cast truncates where DuckDB's rounds, so the fold is
    // explicit); the ~1e-9 m libm-vs-Math ulp never moves a km bucket.
    Face("q_st_point", (s, d) => {
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
    }, Oracle(
      // the same haversine text on the same sphere, flattened onto
      // bare lng/lat columns (DuckDB needs no struct carrier)
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
          |FROM g GROUP BY dist_km ORDER BY dist_km""".stripMargin)),

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
    Face("q_st_line", (s, d) => {
      Tables.events(s, d, fanOut = true).createOrReplaceTempView("stl_events")
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
    }, Oracle(
      // the line face flattened onto scalar columns: the two-segment
      // haversine sum in fold order (0.0 + s1 + s2 ≡ s1 + s2 exactly),
      // WKT rebuilt from the same dyadic coordinates, round-trip
      // identically true (Double parse∘render is the identity)
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
          |FROM d GROUP BY len_10km ORDER BY len_10km""".stripMargin)),

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
    Face("q_st_poly", (s, d) => {
      Tables.events(s, d, fanOut = true).createOrReplaceTempView("stp_events")
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
    }, Oracle(
      // the ring face flattened: Chamberlain–Duquette signed-area sum
      // in fold order over the four edges (the Δλ wrap term is exactly
      // 0 at these widths, so dl replays it bit-for-bit), haversine
      // perimeter, and the even-odd ray cast on the two VERTICAL edges
      // only (the horizontal-edge terms are exactly 0 under the strict
      // lat rule — integer adds, so parity replays exactly)
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
          |FROM m GROUP BY area_gm2 ORDER BY area_gm2""".stripMargin)),

    // boundary-INCLUSIVE geography predicates (round 16): ST_COVERS /
    // ST_COVEREDBY / ST_TOUCHES / ST_EQUALS. The fixture parks each
    // test point in a KNOWN position class — interior, edge midpoint,
    // corner vertex, strictly outside, top edge — built from the same
    // dyadic arithmetic as the ring's own vertices, so the on-segment
    // cross-product test is EXACTLY zero on boundary classes in any
    // IEEE engine and the oracle is pure CASE arithmetic on the class
    // id (no geometry replay needed).
    Face("q_st_pred", (s, d) => {
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
    }, Oracle(
      // boundary predicates: truth is a pure function of the position
      // class (interior / edge / corner / outside / top edge) — no
      // geometry replay, just CASE arithmetic on the class id
        """WITH p AS (SELECT CAST(event_id % 5 AS BIGINT) AS cse FROM events)
          |SELECT cse, COUNT(*) AS n,
          |  CAST(CASE WHEN cse IN (0, 1, 2, 4) THEN COUNT(*) ELSE 0 END AS BIGINT) AS covers_n,
          |  CAST(CASE WHEN cse IN (0, 1, 2, 4) THEN COUNT(*) ELSE 0 END AS BIGINT) AS coveredby_n,
          |  CAST(CASE WHEN cse IN (1, 2, 4) THEN COUNT(*) ELSE 0 END AS BIGINT) AS touches_n,
          |  CAST(CASE WHEN cse = 0 THEN COUNT(*) ELSE 0 END AS BIGINT) AS eq_center_n,
          |  CAST(COUNT(*) AS BIGINT) AS eq_poly_n
          |FROM p GROUP BY cse ORDER BY cse""".stripMargin)),

    // geography shape operators (round 16): ST_BUFFER / ST_SIMPLIFY /
    // ST_CONVEXHULL / ST_CLOSESTPOINT / ST_DUMP. Every gate is either
    // an exact integer/boolean (DP margins hundreds of meters vs the
    // tolerance; hull and projection arithmetic dyadic-exact) or a
    // FLOOR bucket with engineered margin (the 32-gon/circle area
    // ratio is 0.99358... — FLOOR(×1000) = 993 with 0.4 of slack
    // against the ~1e-4-relative spherical/libm noise), so the oracle
    // is pure class arithmetic.
    Face("q_st_shape", (s, d) => {
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
    }, Oracle(
      // shape operators: every gate is a constant or the group count
      // by construction (exact dyadic hull/projection equality, DP
      // margins of hundreds of meters, the 993 area-ratio bucket)
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
          |FROM p GROUP BY rk ORDER BY rk""".stripMargin)),

    // spatial DWITHIN pair JOIN (round 16): the 100 TB pair-finding
    // face — grid-cell candidate generation + exact haversine verify
    // (operators/Geo.dwithinJoin), the geo analog of the LSH band
    // join. PlanSpec pins: no CartesianProduct/BNLJ. The oracle is the
    // deliberately-bounded n² join with the identical haversine — the
    // grid join must find EXACTLY the true pairs.
    Face("q_st_join", (s, d) => {
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
    }, Oracle(
      // the grid-bucketed DWITHIN join must equal the bounded n² join
      // with the identical haversine spelling
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
          |FROM p WHERE d <= 25000.0 ORDER BY cust_id, supp_id""".stripMargin)),

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
    Face("q_aead", (s, d) => {
      Tables.events(s, d, fanOut = true).createOrReplaceTempView("aead_events")
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
    }, Oracle(
      // AEAD: every gated column is deterministic — the round-trip and
      // SAFE-NULL counts are identically n (GCM is correct or the
      // Spark side would not produce these counts), ciphertext length
      // is 33 + |pt| exactly, and the pinned decrypt is a literal
        """WITH p AS (SELECT event_type,
          |                  CONCAT(event_type, '-', CAST(event_id AS VARCHAR)) AS pt
          |           FROM events)
          |SELECT event_type, COUNT(*) AS n,
          |       CAST(COUNT(*) AS BIGINT) AS rt_ok,
          |       CAST(SUM(33 + octet_length(encode(pt))) AS BIGINT) AS ct_bytes,
          |       CAST(COUNT(*) AS BIGINT) AS bad_aad,
          |       'the graft engine' AS pinned
          |FROM p GROUP BY event_type ORDER BY event_type""".stripMargin)),

    // DETERMINISTIC AEAD (round 16): RFC 5297 AES-SIV — same
    // (keyset, aad, pt) → same ciphertext, so beyond the GCM face's
    // round-trip/length/SAFE gates this face hashes what GCM cannot:
    // COUNT(DISTINCT ct) equals COUNT(DISTINCT pt) (joinable
    // ciphertext — the family's whole point), an independent
    // re-encrypt compares EQUAL to the first, and a ciphertext PINNED
    // at build time decrypts to its literal. The engine's SIV is
    // pinned to the RFC's A.1/A.2 vectors in NativeExprSpec.
    Face("q_aead_det", (s, d) => {
      Tables.events(s, d, fanOut = true).createOrReplaceTempView("det_events")
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
    }, Oracle(
      // deterministic AEAD: ciphertext is a bijection of plaintext
      // under a fixed (key, aad) — distinct counts transfer, the
      // re-encrypt equality is identically true, V||C wire overhead
      // is 21 bytes exactly, and the pinned decrypt is a literal
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
          |FROM p GROUP BY event_type ORDER BY event_type""".stripMargin)),

    // PERCENTILE_CONT/DISC analytic spellings (round 13): per-type
    // window percentiles over INTEGER-VALUED doubles at power-of-two
    // fractions — every interpolation intermediate is exact, so the
    // value is engine-independent regardless of the interpolation
    // tree; DISC at 0.5 selects an existing element where the ANSI
    // and DuckDB index conventions provably coincide
    Face("q_percentile_window", (s, d) => {
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
    }, Oracle(
      // window percentiles are per-partition constants, so the group
      // aggregate replays them; exact at power-of-two fractions over
      // integer-valued doubles
        """SELECT event_type,
          |       quantile_cont(v, 0.25) AS p25,
          |       quantile_disc(v, 0.5) AS p50_disc,
          |       COUNT(*) AS n
          |FROM (SELECT event_type, CAST(user_id % 101 AS DOUBLE) AS v FROM events)
          |GROUP BY event_type ORDER BY event_type""".stripMargin)),

    // ML.FEATURE_CROSS + ML.POLYNOMIAL_EXPAND (round 13): the
    // combinational TRANSFORM preprocessors as rewrite-time
    // named_struct expansion — the crossed key is the GROUPING key so
    // name joining and value concat are both under the hash; the
    // monomial sums ride integer-valued doubles through DECIMAL (the
    // float-parity discipline). DuckDB replays with explicit
    // concat/multiply
    Face("q_ml_feature_cross", (s, d) => {
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
    }, Oracle(
      // the crossed key replays as concat(et, '_', vb); the monomials
      // as exact integer products summed through DECIMAL
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
          |FROM b GROUP BY cross_key ORDER BY cross_key""".stripMargin)),

    // ML.LABEL_ENCODER / ML.ONE_HOT_ENCODER (round 13): the
    // categorical end of the TRANSFORM preprocessor pack in the
    // threshold-1 regime — one dense_rank window builds the
    // alphabetical vocabulary, the one-hot face re-reads it through
    // the (index, value) array element; the DuckDB oracle replays the
    // identical dense_rank — all integers, hash bit-for-bit
    Face("q_ml_label_encode", (s, d) => {
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
    }, Oracle(
      // the alphabetical vocabulary replays as the identical
      // dense_rank; the one-hot element folds are the code and the
      // row count
        """WITH enc AS (
          |  SELECT event_type, DENSE_RANK() OVER (ORDER BY event_type) AS code
          |  FROM events)
          |SELECT code, event_type, COUNT(*) AS n,
          |       CAST(SUM(code) AS BIGINT) AS oh_index_sum,
          |       COUNT(*) AS oh_value_sum,
          |       CAST(1 AS BIGINT) AS oh_len
          |FROM enc GROUP BY code, event_type ORDER BY code""".stripMargin)),

    // code-point family + TEXT_ANALYZE (round 13): strings BUILT from
    // code points (CODE_POINTS_TO_STRING over id-derived arrays,
    // including a combining mark), read back through UNICODE/ASCII/
    // TO_CODE_POINTS, CHR as a replayable text, byte arrays through
    // TO_HEX, and INITCAP over delimiter-joined words; DuckDB replays
    // code points as arithmetic + its own chr()/printf and INITCAP as
    // ucfirst substring algebra — hash bit-for-bit
    Face("q_codepoints", (s, d) => {
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
    }, Oracle(
      // code points replay as plain arithmetic (the built string's
      // points ARE id-derived), bytes via printf, CHR via DuckDB's
      // own chr, INITCAP as ucfirst substring algebra (the event
      // types are single lowercase words)
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
          |FROM b GROUP BY cp1 ORDER BY first_cp""".stripMargin)),

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
    Face("q_parse_numeric", (s, d) => {
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
    }, Oracle(
      // the decimal parse replays as DuckDB's own cast (exponent
      // form, exact at scale 9); the SAFE leg via try_cast. Both
      // sides render through the scale-9 textual form — DECIMAL is
      // not carrier-stable across the two parquet writers (round-13
      // hash miss)
        """WITH b AS (
          |  SELECT CAST(user_id AS VARCHAR) || '.' ||
          |         CAST(user_id * 7 % 10 AS VARCHAR) || '5e2' AS str
          |  FROM events)
          |SELECT CAST(CAST(str AS DECIMAL(38,9)) AS VARCHAR) AS v,
          |       CAST(TRY_CAST(str || 'x' AS DECIMAL(38,9)) AS VARCHAR) AS bad,
          |       COUNT(*) AS n
          |FROM b GROUP BY 1, 2 ORDER BY v""".stripMargin)),

    // REGEXP_REPLACE backreferences (round 13): BigQuery's \1 group
    // refs and literal $ mapped through the three-layer escape
    // transform, with the replaced text AS THE GROUPING KEY; the
    // DuckDB oracle runs the BigQuery-spelled replacement nearly
    // verbatim (RE2 backrefs are its native dialect) under the 'g'
    // flag — hash bit-for-bit
    Face("q_regexp_backref", (s, d) => {
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
    }, Oracle(
      // DuckDB's replacement dialect IS RE2 backrefs — the BigQuery
      // spelling runs nearly verbatim (plus the 'g' flag; BigQuery
      // and Spark replace globally by default)
        """SELECT regexp_replace(event_type, '([aeiou])', '<\1>', 'g') AS marked,
          |       regexp_replace(event_type || CAST(user_id % 100 AS VARCHAR),
          |                      '([0-9]+)', '$\1', 'g') AS priced,
          |       array_to_string(
          |         regexp_extract_all(event_type || '-' || event_type, '[a-z]+'), '|') AS toks,
          |       COUNT(*) AS n
          |FROM events
          |GROUP BY marked, priced, toks ORDER BY marked, priced""".stripMargin)),

    // the epoch-conversion family (round 13): Spark-NATIVE under
    // BigQuery's exact names (TIMESTAMP_SECONDS/MILLIS/MICROS,
    // UNIX_SECONDS/MILLIS/MICROS, UNIX_DATE, DATE_FROM_UNIX_DATE) —
    // this face pins the parity; DuckDB replays as epoch_us integer
    // arithmetic — hash bit-for-bit
    Face("q_epoch_fns", (s, d) => {
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
    }, Oracle(
      // epoch conversions replay as epoch_us integer arithmetic; the
      // truncating second/milli folds divide exactly
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
          |FROM b GROUP BY d2 ORDER BY d2""".stripMargin)),

    // base32 + strict UTF-8 (round 13): 3-byte payloads BUILT from
    // event ids, encoded to RFC 4648 base32 AS THE GROUPING KEY,
    // decoded back through the strict UTF-8 SAFE converter and the
    // hex round trip; the DuckDB oracle re-derives every base32
    // character from first principles — 5-bit groups as integer
    // shifts indexing the alphabet string — fully independent of any
    // base32 library, hash bit-for-bit
    Face("q_base32", (s, d) => {
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
    }, Oracle(
      // every base32 character re-derived from first principles:
      // the 24 payload bits split into five 5-bit groups by integer
      // shifts, each indexing the RFC 4648 alphabet; '===' padding
      // is the 3-byte block's fixed tail
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
          |FROM e GROUP BY b32 ORDER BY b32""".stripMargin)),

    // TEXT_ANALYZE (round 13): the SEARCH/A44 tokenizer as a scalar —
    // token df/tf over documents through the SQL verb, the NO_OP leg
    // pinning the one-term contract; DuckDB replays the identical
    // lowercase non-[a-z0-9] split — hash bit-for-bit
    Face("q_text_analyze", (s, d) => {
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
    }, Oracle(
      // the LOG_ANALYZER tokenization replays as the identical
      // lowercase non-[a-z0-9] regex split; the NO_OP leg is the
      // constant 1
        """WITH t AS (
          |  SELECT doc_id,
          |         unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
          |                            x -> x <> '')) AS token
          |  FROM documents)
          |SELECT token, COUNT(*) AS n, COUNT(DISTINCT doc_id) AS df,
          |       CAST(1 AS BIGINT) AS noop_len
          |FROM t GROUP BY token HAVING COUNT(*) >= 20 ORDER BY token""".stripMargin)),

    // INTERVAL surface (round 13): BigQuery's three-part interval on
    // Spark's CalendarInterval carrier — MAKE_INTERVAL, the JUSTIFY
    // trio, EXTRACT, timestamp+interval arithmetic (months first,
    // then days, then micros — both engines clamp month ends the
    // same way), the range literal, and the canonical text as the
    // GROUPING KEY; DuckDB replays justification as truncating
    // integer division through printf and the arithmetic as
    // sequential to_months/to_days/to_hours adds — hash bit-for-bit
    Face("q_interval_ops", (s, d) => {
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
    }, Oracle(
      // justification replays as truncating integer division (24-hour
      // and 30-day rolls) through printf; the timestamp arithmetic as
      // sequential month/day/hour adds (same clamp order)
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
          |FROM j GROUP BY jtxt ORDER BY jtxt""".stripMargin)),

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
    Face("q_time_ops", (s, d) => {
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
    }, Oracle(
      // time-of-day replays as exact micros-of-day integer folds
      // rendered through printf (epoch_us % 86400000000)
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
          |FROM c GROUP BY hr ORDER BY hr""".stripMargin)),

    // FORMAT + LAST_DAY (round 13): printf-rendering as the grouping
    // key (zero-pad, hex, width — every byte under the hash, so the
    // verb translation and Java/C formatter agreement are both gated)
    // plus all three LAST_DAY parts; DuckDB replays with its own
    // C-style printf and date arithmetic
    Face("q_format", (s, d) => {
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
    }, Oracle(
      // printf bytes replay via DuckDB's C-style printf; LAST_DAY
      // parts via last_day + month/year arithmetic
        """SELECT printf('ev-%06d:%s', user_id, event_type) AS tag,
          |       printf('%x|%5d', user_id, user_id % 97) AS codes,
          |       last_day(CAST(ts AS DATE)) AS mend,
          |       last_day(CAST(date_trunc('quarter', CAST(ts AS DATE)) + to_months(2) AS DATE)) AS qend,
          |       make_date(CAST(EXTRACT(YEAR FROM ts) AS INT), 12, 31) AS yend,
          |       COUNT(*) AS n
          |FROM events
          |GROUP BY tag, codes, mend, qend, yend
          |ORDER BY tag, codes, mend""".stripMargin)),

    // NET.IP_* family (round 13): IPv4 addresses synthesized from
    // event ids, pushed through parse → trunc → int64 round trips at
    // VARIABLE prefixes, the /20 network as the grouping key, SAFE
    // parse exercised on a malformed variant, plus pinned IPv6
    // canonicalization/truncation constants; the DuckDB oracle
    // replays every byte as pure integer arithmetic (shifts + pmods
    // through printf) — hash bit-for-bit
    Face("q_net_ip", (s, d) => {
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
    }, Oracle(
      // every NET.IP_* byte replays as integer arithmetic: the /20
      // network via % 4096, variable-prefix truncation via 1<<(32-p),
      // masks via printf('%08x'); the IPv6 constants are hand-derived
      // RFC 5952 literals
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
          |FROM t GROUP BY net20 ORDER BY net20""".stripMargin)),

    // RANGE<DATE> surface (round 13): per-order validity ranges of
    // varying width through the full verb set — literal, constructor,
    // point containment (half-open), overlap vs a fixed year, 7-day
    // splitting (partial tail counted) and both accessors; the DuckDB
    // oracle replays every predicate as plain date comparisons and the
    // split count as ceil(width/7) — all-integer, hash bit-for-bit
    Face("q_range_type", (s, d) => {
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
    }, Oracle(
      // range predicates replay as plain half-open date comparisons;
      // the split count is ceil(width/7) — all-integer
        """WITH r AS (
          |  SELECT CAST(o_orderdate AS DATE) AS s,
          |         CAST(o_orderdate AS DATE) + CAST(o_orderkey % 28 + 7 AS INT) AS e
          |  FROM orders)
          |SELECT COUNT(*) AS n,
          |  CAST(SUM(CASE WHEN DATE '1995-06-15' >= s AND DATE '1995-06-15' < e THEN 1 ELSE 0 END) AS BIGINT) AS n_contains,
          |  CAST(SUM(CASE WHEN s < DATE '1996-01-01' AND DATE '1995-01-01' < e THEN 1 ELSE 0 END) AS BIGINT) AS n_overlap,
          |  CAST(SUM(CAST(ceil((e - s) / 7.0) AS BIGINT)) AS BIGINT) AS n_subranges,
          |  MIN(s) AS min_start, MAX(e) AS max_end
          |FROM r""".stripMargin)),

    // RANGE_SESSIONIZE TVF + RANGE_INTERSECT (round 13): per-customer
    // validity ranges merged into sessions under MEETS (adjacency
    // connects), session extents re-derived through the accessors,
    // and each session clamped against calendar-1995 via the guarded
    // RANGE_INTERSECT spelling; the DuckDB oracle replays the classic
    // two-window island detection (running max-end over the same
    // sort) and the clamp as greatest/least — all dates and integers,
    // hash bit-for-bit
    Face("sql_range_sessionize", (s, d) => {
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
    }, Oracle(
      // the sessionization replays as the textbook two-window island
      // detection (running max-end over the same (start, end) sort),
      // the session extents as min/max per island, and the 1995 clamp
      // as greatest/least date arithmetic
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
          |FROM per GROUP BY cb ORDER BY cb""".stripMargin)),

    // DATE_BUCKET / TIMESTAMP_BUCKET (round 13): anchored fixed-width
    // buckets as exact pmod arithmetic — default 1950-01-01 origin,
    // an explicit month-family origin, and the micros path in one
    // grouped query; DuckDB replays the identical integer folds
    // (datediff / epoch_us with ((x % n) + n) % n) so bucket STARTS
    // and counts hash bit-for-bit
    Face("q_date_bucket", (s, d) => {
      Tables.orders(s, d).createOrReplaceTempView("db_orders")
      graft.GraftSql.load(s,
        """SELECT wk, qtr, tb, COUNT(*) AS n FROM (
          |  SELECT DATE_BUCKET(o_orderdate, INTERVAL 7 DAY) AS wk,
          |         DATE_BUCKET(o_orderdate, INTERVAL 3 MONTH, DATE '1992-01-01') AS qtr,
          |         TIMESTAMP_BUCKET(CAST(o_orderdate AS TIMESTAMP), INTERVAL 36 HOUR) AS tb
          |  FROM db_orders)
          |GROUP BY wk, qtr, tb ORDER BY wk, qtr, tb""".stripMargin)
    }, Oracle(
      // bucket starts replay as the identical exact integer folds:
      // date buckets via datediff + ((x % n) + n) % n (floor pmod),
      // month buckets via month-number arithmetic, the micros path
      // via epoch_us + make_timestamp
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
          |GROUP BY wk, qtr, tb ORDER BY wk, qtr, tb""".stripMargin)),

    // B39: BigQuery's APPROX_QUANTILES spelling, driven in the exact
    // regime (groups ≪ the GK sketch's accuracy=10000 → rank-selected
    // elements ≡ DuckDB quantile_disc, the B11b equivalence), exploded
    // to scalar rows through the UNNEST rewrite
    Face("q_approx_quantiles", (s, d) => {
      graft.sources.Typed.registerAllViews(s, d)
      graft.GraftSql.load(s,
        """SELECT event_type, o AS q_idx, q AS v
          |FROM (SELECT event_type, APPROX_QUANTILES(value, 4) AS qs
          |      FROM events GROUP BY event_type) t,
          |UNNEST(qs) AS q WITH OFFSET AS o
          |ORDER BY event_type, q_idx""".stripMargin)
    }, Oracle(
      // APPROX_QUANTILES in the exact regime: the same quantile_disc
      // equivalence, at the macro's evenly spaced fractions
        """WITH g AS (SELECT event_type,
          |             quantile_disc(value, [0.0, 0.25, 0.5, 0.75, 1.0]) AS qs
          |           FROM events GROUP BY event_type)
          |SELECT event_type, CAST(i - 1 AS INT) AS q_idx, qs[i] AS v
          |FROM g, UNNEST(generate_series(1, len(qs))) AS u(i)
          |ORDER BY event_type, q_idx""".stripMargin)),

    // B47: BigQuery's ARRAY(SELECT ...) subquery idiom — the
    // filter → sort → transform (→ distinct) element pipeline
    // rewritten to higher-order functions, so it stays a per-row map:
    // no Generate, no join, nothing leaves the row. DuckDB replays
    // with list comprehensions — the hash gates filter semantics,
    // pre-transform ordering, and the literal-delimiter SPLIT feed
    Face("q_array_subquery", (s, d) => {
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
    }, Oracle(
      // the array-subquery pipeline replays as list comprehensions
        """SELECT DISTINCT event_type,
          |  array_to_string([upper(p) for p in string_split(event_type || '_ab_x_cd', '_')
          |                   if p <> 'x'], ',') AS parts,
          |  array_to_string([CAST(x * x AS VARCHAR)
          |                   for x in list_reverse(generate_series(1, length(event_type)))
          |                   if x % 2 = 1], ',') AS odd_sq,
          |  CAST(len([s for s in string_split(event_type, 'e') if s <> '']) AS BIGINT) AS n_frag,
          |  len([p for p in string_split(event_type || '_ab', '_') if p = 'ab']) > 0 AS has_ab
          |FROM events ORDER BY event_type""".stripMargin)),

    // B49: BigQuery's SELECT AS STRUCT — the repeated-record
    // constructor. Three faces in one query: ARRAY(SELECT AS STRUCT
    // ...) builds an array<struct> per row (then re-UNNESTed with
    // struct field access to flatten for the oracle), the scalar
    // (SELECT AS STRUCT ... FROM UNNEST ... WHERE pk) form with its
    // cardinality guard, and the no-FROM inline constructor. All
    // stay per-row HOFs — no Generate, no join; DuckDB replays the
    // values with list comprehensions (structs never cross the gate,
    // their FIELDS do — representation-neutral)
    Face("q_array_struct", (s, d) => {
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
    }, Oracle(
      // AS STRUCT faces flatten to strings/scalars before the gate, so
      // DuckDB replays the VALUES with list comprehensions — struct
      // representation never crosses the hash
        """WITH g AS (
          |  SELECT event_type, list_sort(list(DISTINCT user_id % 53)) AS ids
          |  FROM events GROUP BY event_type)
          |SELECT event_type,
          |  array_to_string([CAST(x AS VARCHAR) || ':' || CAST(x * x AS VARCHAR)
          |                   for x in ids if x > 5], ',') AS recs,
          |  ids[1] AS first_v,
          |  ids[1] * 2 AS first_d,
          |  CAST(len(ids) AS INT) AS n_ids
          |FROM g ORDER BY event_type""".stripMargin)),

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
    Face("q_kll_sketch", (s, d) => {
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
    }, Oracle(
      // KLL in the exact regime: partial-build + merge keep every
      // sample, so the pipeline replays as plain discrete quantiles
        """SELECT event_type,
          |  CAST(quantile_disc(user_id % 97, 0.25) AS BIGINT) AS p25,
          |  CAST(quantile_disc(user_id % 97, 0.5) AS BIGINT) AS p50,
          |  CAST(quantile_disc(user_id % 97, 0.9) AS BIGINT) AS p90
          |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)),

    // B45: BigQuery's hash/encoding family — the fingerprint idiom
    // (TO_HEX(MD5(x)) dedup keys, base64 payloads): digests are BYTES
    // in BigQuery (mapped through unhex — the dialect divergence that
    // silently breaks a migrated script), TO_HEX lowercase, FROM_HEX
    // left-pads odd-length, base64 round trip. DuckDB replays with its
    // own md5/sha256/base64/from_hex — the hash gates byte-for-byte
    // digest identity through the BYTES↔hex↔base64 conversions
    Face("q_bq_functions3", (s, d) => {
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
    }, Oracle(
      // the hash/encoding family: DuckDB's own digests replay the
      // BYTES↔hex↔base64 pipeline
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
          |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)),

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
    Face("q_hll_sketch", (s, d) => {
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
    }, Oracle(
      // HLL_COUNT driven in the sketch's exact regime: both routes
      // (MERGE; MERGE_PARTIAL→EXTRACT) replay as the true distinct
        """SELECT event_type,
          |       CAST(COUNT(DISTINCT user_id % 200) AS BIGINT) AS n_buckets,
          |       CAST(COUNT(DISTINCT user_id % 200) AS BIGINT) AS n_buckets2
          |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)),

    // B38: BigQuery's ordered aggregates in their OWN spelling —
    // STRING_AGG(e, sep ORDER BY k1, k2) and ARRAY_AGG(e ORDER BY k
    // LIMIT n) through the GraftSql ordered-aggregate macros; DuckDB
    // replays with its native ORDER BY-in-aggregate forms, so the hash
    // gates the ordering + LIMIT semantics of the mapping
    Face("q_ordered_agg", (s, d) => {
      graft.sources.Typed.registerAllViews(s, d)
      graft.GraftSql.load(s,
        """SELECT user_id,
          |  STRING_AGG(event_type, '|' ORDER BY unix_micros(ts), event_id) AS type_seq,
          |  ARRAY_TO_STRING(ARRAY_AGG(CAST(event_id AS STRING) ORDER BY event_id LIMIT 5), ',') AS first5,
          |  COUNT(*) AS n
          |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin)
    }, Oracle(
      // the ordered-aggregate macros replay with DuckDB's native
      // ORDER BY-in-aggregate forms
        """SELECT user_id,
          |  string_agg(event_type, '|' ORDER BY epoch_us(CAST(ts AS TIMESTAMP)), event_id) AS type_seq,
          |  array_to_string(list_slice(list(CAST(event_id AS VARCHAR) ORDER BY event_id), 1, 5), ',') AS first5,
          |  COUNT(*) AS n
          |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin)),

    // BigQuery STRING_AGG surface: ordered listagg per key through the
    // spark.sql view layer (WITHIN GROUP is the ANSI form BigQuery's
    // ORDER BY argument maps to); deterministic via the event_id
    // tie-break
    Face("q_string_agg", (s, d) => {
      graft.sources.Typed.registerAllViews(s, d)
      s.sql("""SELECT user_id,
              |  listagg(event_type, ',') WITHIN GROUP (ORDER BY unix_micros(ts), event_id) AS type_seq,
              |  COUNT(*) AS n
              |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin)
    }, Oracle(
        """SELECT user_id,
          |  string_agg(event_type, ',' ORDER BY epoch_us(CAST(ts AS TIMESTAMP)), event_id) AS type_seq,
          |  COUNT(*) AS n
          |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin)),
  )
}
