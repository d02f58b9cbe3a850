package graft
package faces

import org.apache.spark.sql.{DataFrame, functions => F}
import graft.sources.Tables
import graft.operators.{AsOf, Skew, Upsert}
import Kit._

/** Driver faces of section A, the reference FX-ETL semantics: ingest, idempotent append, MERGE upsert and reports. */
private[graft] object FxFaces {

  val all: Seq[Face] = Seq(
    Face("fx_ingest_json", (s, d) => {
      val e = Tables.events(s, d)
      e.select(
          F.col("event_id"),
          F.from_json(F.col("props"), org.apache.spark.sql.types.StructType(Seq(org.apache.spark.sql.types.StructField("k", org.apache.spark.sql.types.IntegerType)))).getField("k").as("k"),
          F.col("event_type"), F.col("value"))
        .orderBy("event_id")
    }, Oracle(
        """SELECT event_id, CAST(json_extract_string(props, '$.k') AS INT) AS k, event_type, value
          |FROM events ORDER BY event_id""".stripMargin)),
    // the reference's actual extract output shape: raw JSON FILES →
    // explicit-schema typed load (LoadJobConfig equivalent). The JSON
    // feed is materialized from the events table (deterministic
    // round-trip), then read back through the RawJson loader.
    Face("fx_ingest_raw_json", (s, d) => {
      // the feed is a fixture: repeated invocations (bench runs 3×)
      // should time the LOADER, not the deterministic fixture write
      val jsonDir = Scratch.fixture(d, "rawjson") { dir =>
        Tables.events(s, d, fanOut = true).select(F.to_json(F.struct(
            F.col("event_id"), F.col("user_id"), F.col("event_type"), F.col("value"),
            F.unix_micros(F.col("ts")).as("ts_us"))).as("value"))
          .write.text(dir)
      }
      graft.sources.RawJson.loadEvents(s, jsonDir)
        .select(F.col("event_id"), F.col("user_id"), F.col("event_type"), F.col("value"),
          F.to_date(F.col("ts")).as("day"))
        .orderBy("event_id")
    }, Oracle(
        """SELECT event_id, user_id, event_type, value,
          |       CAST(date_trunc('day', ts) AS DATE) AS day
          |FROM events ORDER BY event_id""".stripMargin)),
    Face("fx_idempotent_append", (s, d) => {
      val e = Tables.events(s, d)
      Upsert.idempotentAppend(fxTarget(e), fxBatch(e), Seq("event_id")).orderBy("event_id")
    }, Oracle(
        """WITH target AS (SELECT event_id, user_id, value FROM events WHERE event_id % 10 <> 0),
          |     batch  AS (SELECT event_id, user_id, value FROM events WHERE event_id % 3 = 0)
          |SELECT event_id, user_id, value FROM target
          |UNION ALL
          |SELECT b.event_id, b.user_id, b.value FROM batch b
          |WHERE NOT EXISTS (SELECT 1 FROM target t WHERE t.event_id = b.event_id)
          |ORDER BY event_id""".stripMargin)),
    Face("fx_merge_upsert", (s, d) => {
      val e = Tables.events(s, d)
      val source = fxBatch(e).withColumn("value", F.col("value") * 2)
      Upsert.merge(fxTarget(e), source, Seq("event_id")).orderBy("event_id")
    }, Oracle(
        """WITH t AS (SELECT event_id, user_id, value FROM events WHERE event_id % 10 <> 0),
          |     s AS (SELECT event_id, user_id, value * 2 AS value FROM events WHERE event_id % 3 = 0)
          |SELECT COALESCE(s.event_id, t.event_id) AS event_id,
          |       CASE WHEN s.event_id IS NOT NULL THEN s.user_id ELSE t.user_id END AS user_id,
          |       CASE WHEN s.event_id IS NOT NULL THEN s.value ELSE t.value END AS value
          |FROM t FULL OUTER JOIN s ON t.event_id = s.event_id
          |ORDER BY event_id""".stripMargin)),
    Face("fx_daily_report", (s, d) => {
      Tables.events(s, d)
        .groupBy(evDay(F.col("ts")).as("day"), F.col("event_type"))
        .agg(davg(F.col("value")).as("avg_value"), F.count(F.lit(1)).as("n"))
        .orderBy("day", "event_type")
    }, Oracle(
        """SELECT CAST(date_trunc('day', ts) AS DATE) AS day, event_type,
          |       CAST(SUM(CAST(value AS DECIMAL(30,2))) AS DOUBLE) / COUNT(*) AS avg_value,
          |       COUNT(*) AS n
          |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),
    Face("fx_latest_n_avg", (s, d) => {
      Tables.events(s, d)
        .orderBy(F.col("ts").desc, F.col("event_id").desc).limit(10)
        .agg(davg(F.col("value")).as("avg_rate"), F.count(F.lit(1)).as("n"))
    }, Oracle(
        """SELECT CAST(SUM(CAST(value AS DECIMAL(30,2))) AS DOUBLE) / COUNT(*) AS avg_rate,
          |       COUNT(*) AS n
          |FROM (SELECT value FROM events ORDER BY CAST(ts AS TIMESTAMP) DESC, event_id DESC LIMIT 10)""".stripMargin)),
    Face("fx_current_day_avg", (s, d) => {
      val e = Tables.events(s, d).withColumn("day", evDay(F.col("ts")))
      val maxd = e.agg(F.max("day").as("day"))
      e.join(F.broadcast(maxd), "day")
        .groupBy("day", "event_type")
        .agg(davg(F.col("value")).as("avg_value"))
        .orderBy("day", "event_type")
    }, Oracle(
        """WITH e AS (SELECT CAST(date_trunc('day', ts) AS DATE) AS day, event_type, value FROM events)
          |SELECT day, event_type,
          |       CAST(SUM(CAST(value AS DECIMAL(30,2))) AS DOUBLE) / COUNT(*) AS avg_value
          |FROM e WHERE day = (SELECT MAX(day) FROM e)
          |GROUP BY day, event_type ORDER BY day, event_type""".stripMargin)),
    Face("fx_dedup_latest", (s, d) => {
      val e = Tables.events(s, d).select("user_id", "event_type", "event_id", "value", "ts")
      Upsert.dedupLatest(e, Seq("user_id", "event_type"), "ts", Seq("event_id"))
        .select("user_id", "event_type", "event_id", "value")
        .orderBy("user_id", "event_type")
    }, Oracle(
        """SELECT user_id, event_type, event_id, value FROM (
          |  SELECT user_id, event_type, event_id, value,
          |         row_number() OVER (PARTITION BY user_id, event_type
          |                            ORDER BY CAST(ts AS TIMESTAMP) DESC, event_id DESC) AS rn
          |  FROM events) WHERE rn = 1
          |ORDER BY user_id, event_type""".stripMargin)),

    Face("fx_asof_rate", (s, d) => {
      val e = Tables.events(s, d)
      val purchases = e.filter(F.col("event_type") === "purchase")
        .select("event_id", "user_id", "ts")
      val rates = e.filter(F.col("event_type") === "signup")
        .select(F.col("user_id"), F.col("ts"), F.col("value").as("rate"))
      AsOf.join(purchases, rates, Seq("user_id"), "ts", "ts", Seq("rate"))
        .select("event_id", "user_id", "rate")
        .orderBy("event_id")
    }, Oracle(
        """WITH l AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS t FROM events WHERE event_type = 'purchase'),
          |     r AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS t, value AS rate FROM events WHERE event_type = 'signup')
          |SELECT l.event_id, l.user_id, r.rate
          |FROM l ASOF JOIN r ON l.user_id = r.user_id AND l.t >= r.t
          |ORDER BY event_id""".stripMargin)),
    Face("fx_salted_daily_report", (s, d) => {
      val e = Tables.events(s, d).withColumn("day", evDay(F.col("ts")))
      Skew.saltedStats(e, Seq("day", "event_type"), "value")
        .select(F.col("day"), F.col("event_type"), F.col("avg").as("avg_value"), F.col("n"))
        .orderBy("day", "event_type")
    }, Oracle(
        """SELECT CAST(date_trunc('day', ts) AS DATE) AS day, event_type,
          |       CAST(SUM(CAST(value AS DECIMAL(30,2))) AS DOUBLE) / COUNT(*) AS avg_value,
          |       COUNT(*) AS n
          |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),
    // salted fact⋈dim join for a skewed broadcast-ineligible key:
    // result-identical to the plain join by construction (each fact
    // row meets exactly the one dim replica carrying its salt), so the
    // oracle IS the plain join — hash-checked, salt placement free
    Face("q_salted_join", (s, d) => {
      val fact = Tables.orders(s, d)
      val dim = Tables.customer(s, d)
        .select(F.col("c_custkey").as("o_custkey"), F.col("c_nationkey"))
      Skew.saltedJoin(fact, dim, Seq("o_custkey"), salts = 8)
        .groupBy("c_nationkey")
        .agg(F.count(F.lit(1)).as("n_orders"), dsum(F.col("o_totalprice")).as("revenue"))
        .orderBy("c_nationkey")
    }, Oracle(
        """SELECT c_nationkey, COUNT(*) AS n_orders,
          |       CAST(SUM(CAST(o_totalprice AS DECIMAL(30,2))) AS DOUBLE) AS revenue
          |FROM orders JOIN customer ON o_custkey = c_custkey
          |GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin)),
    // Bloom-reduced anti-join: droplist application when the list is
    // past broadcast size — definite negatives pass MAP-ONLY (no
    // false negatives), only bloom hits enter the exact anti-join, so
    // the shuffled side shrinks from |corpus| to ~|matches|. Result
    // is exactly the plain anti-join (false positives resolved by the
    // exact join), so the oracle is the plain NOT EXISTS spelling
    Face("q_bloom_anti", (s, d) => {
      val li = Tables.lineitem(s, d)
      val drop = Tables.orders(s, d).filter(F.col("o_orderstatus") === "F")
        .select(F.col("o_orderkey").as("l_orderkey"))
      graft.operators.BloomJoin.antiJoin(li, drop, Seq("l_orderkey"), expectedItems = 10000)
        .groupBy("l_returnflag")
        .agg(F.count(F.lit(1)).as("n_rows"), dsum(F.col("l_extendedprice")).as("revenue"))
        .orderBy("l_returnflag")
    }, Oracle(
      // bloom pre-filter is exact (no false negatives; positives
      // verified by the exact join) -> plain NOT EXISTS oracle
        """SELECT l_returnflag, COUNT(*) AS n_rows,
          |       CAST(SUM(CAST(l_extendedprice AS DECIMAL(30,2))) AS DOUBLE) AS revenue
          |FROM lineitem
          |WHERE NOT EXISTS (SELECT 1 FROM orders
          |                  WHERE o_orderkey = l_orderkey AND o_orderstatus = 'F')
          |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    // SCD2 history: run-length-encoded validity intervals over a
    // banded rate attribute — one window shuffle; epoch-micros on
    // both sides (the proven ts-parity recipe)
    Face("fx_scd2", (s, d) => {
      val h = Tables.events(s, d).select(
        F.col("event_type"), F.col("event_id"),
        F.unix_micros(F.col("ts")).as("ts_us"),
        F.floor(F.col("value") / 10).cast("long").as("band"))
      graft.operators.Scd2.fromHistory(h, Seq("event_type"), "ts_us", "event_id", Seq("band"))
        .select(F.col("event_type"), F.col("band"),
          F.col("valid_from").as("vf_us"), F.col("valid_to").as("vt_us"),
          F.col("is_current"))
        .orderBy("event_type", "vf_us")
    },
      // SCD2 run collapse as two windows: lag detects run starts,
      // lead chains valid_to; micros arithmetic on both sides. The
      // incremental query shares the oracle — applyBatch must equal
      // the full recompute (Scd2Spec pins the law on random splits)
      Oracle(scd2OracleSql)),
    // the incremental face: fold the post-cutoff observations into
    // the pre-cutoff interval table; applyBatch ≡ full recompute
    // (spec-pinned), so the oracle is the SAME full-history SQL
    Face("fx_scd2_incremental", (s, d) => {
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
    }, Oracle(scd2OracleSql)),

    // dense daily series with last-observation-carried-forward fill
    // (the FX weekend-gap fill; AsOf answers point lookups, this
    // materializes the dense table)
    Face("fx_gapfill", (s, d) => {
      val daily = Tables.events(s, d)
        .groupBy(F.col("event_type"), evDay(F.col("ts")).as("day"))
        .agg(davg(F.col("value")).as("avg_value"))
      graft.operators.Resample.forwardFillDaily(daily, Seq("event_type"), "day", "avg_value")
        .orderBy("event_type", "day")
    }, Oracle(
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
          |ORDER BY event_type, day""".stripMargin)),
    // A14's SQL spelling (round 12): the GAP_FILL TVF resolved
    // textually onto Resample.gapFill — same densify + locf engine,
    // BigQuery-shaped output (no observed flag)
    Face("sql_gap_fill", (s, d) => {
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
    }, Oracle(
      // the TVF spelling replays like fx_gapfill, minus the observed
      // extension column (BigQuery's GAP_FILL has no such flag)
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
          |ORDER BY event_type, day""".stripMargin)),
    // GAP_FILL's third method (round 13): linear interpolation between
    // the bracketing observations. Clicks lose days 7-9 of every month
    // so interior 3-day gaps exercise fractions 1/4, 2/4, 3/4 — exact
    // in doubles, and the fold replays textually in DuckDB
    Face("sql_gap_fill_linear", (s, d) => {
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
    }, Oracle(
      // linear method: same densify, then interpolate between the
      // bracketing observations with the identical textual fold
      // pv + (nv - pv) * (Δ / span) over doubles
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
          |FROM br ORDER BY event_type, day""".stripMargin)),
    // A47c (round 13): the sub-day GAP_FILL — hourly buckets on the
    // timestamp grid with deterministic 3-hour holes, linear filled
    // on the MICROS axis; the DuckDB oracle replays the identical
    // epoch_us fraction fold
    Face("sql_gap_fill_hourly", (s, d) => {
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
    }, Oracle(
      // the hourly grid replays on the timestamp axis; the linear
      // fraction is the identical epoch_us integer-diff fold
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
          |FROM br ORDER BY event_type, hr""".stripMargin)),

    // A29: the (day × key) completeness grid over a feed with
    // deterministic punched holes (clicks vanish on every 5th
    // day-of-month) — missing partitions surface as n_rows = 0
    Face("fx_completeness", (s, d) => {
      val e = Tables.events(s, d).filter(
        !(F.dayofmonth(F.col("ts")) % 5 === 0 && F.col("event_type") === "click"))
      graft.operators.Audit.completeness(e, "ts", Seq("event_type"))
        .orderBy("day", "event_type")
    }, Oracle(
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
          |ORDER BY day, event_type""".stripMargin)),

    // daily OHLC bars — the canonical FX resample (open = value at the
    // day's first tick, close at its last, low/high across it). min_by/
    // max_by with a (ts, event_id) struct ordering key: one shuffle with
    // map-side partials, deterministic ties, no window sort anywhere
    Face("fx_ohlc", (s, d) => {
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
    }, Oracle(
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
          |FROM r GROUP BY day, event_type ORDER BY day, event_type""".stripMargin)),

    // incremental report maintenance: the events table arrives as three
    // disjoint batches; each folds into a mergeable partial-aggregate
    // state (decimal sums + counts) O(batch), and the report derives
    // avg at read time. Hash-green vs the full recompute — merging IS
    // the aggregation, exactly.
    Face("fx_incremental_report", (s, d) => {
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
    }, Oracle(
      // the whole point: three O(batch) merges reproduce the full-scan
      // aggregate bit-for-bit (decimal state sums are exact and
      // order-free), so the oracle IS the full recompute
        """SELECT CAST(date_trunc('day', ts) AS DATE) AS day, event_type,
          |       CAST(SUM(CAST(value AS DECIMAL(30,2))) AS DOUBLE) / COUNT(*) AS avg_value,
          |       COUNT(*) AS n
          |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // A31 driver face: the FULL materialized-view lifecycle as SQL
    // text — CREATE OR REPLACE MATERIALIZED VIEW over a third of
    // events, two O(batch) refreshes folding the other thirds, read
    // back from the registered view. The oracle is the plain one-shot
    // aggregate over ALL rows, so refresh ≡ recompute sits under the
    // hash gate (decimal sums keep fold order out of the bytes; AVG
    // stays spec-gated — its read-time decimal division rounds at a
    // different scale than DuckDB's)
    Face("sql_matview_refresh", (s, d) => {
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
    }, Oracle(
      // the MV lifecycle's oracle is the one-shot aggregate over ALL
      // events: a hash match proves create + 2 refreshes ≡ recompute
        """SELECT CAST(date_trunc('day', ts) AS DATE) AS day, event_type,
          |       CAST(SUM(CAST(value AS DECIMAL(30,6))) AS DOUBLE) AS v_sum,
          |       COUNT(*) AS n, MIN(value) AS v_min, MAX(value) AS v_max
          |FROM events WHERE event_type <> 'click'
          |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

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
    Face("sql_time_travel", (s, d) => {
      val dir = Scratch.fixture(d, "versioned") { table =>
        val e = Tables.events(s, d)
          .select(F.col("event_id"), F.col("event_type"), F.col("value"))
        def third(i: Int) = e.filter(F.pmod(F.col("event_id"), F.lit(3)) === i)
        def ts(lit: String) = Some(graft.GraftSql.parseTsLiteralUs(lit))
        graft.sources.Versioned.append(third(0), table, ts("2024-01-01 00:00:00"))
        graft.sources.Versioned.append(third(1), table, ts("2024-01-02 00:00:00"))
        graft.sources.Versioned.overwrite(third(2), table, ts("2024-01-03 00:00:00"))
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
    }, Oracle(
      // time travel: AS OF between commits 1 and 2 sees thirds 0+1;
      // the latest view sees only third 2 (commit 2 is an overwrite)
        """SELECT 'asof' AS face, event_type, COUNT(*) AS n,
          |       CAST(SUM(CAST(value AS DECIMAL(30,6))) AS DOUBLE) AS v_sum
          |FROM events WHERE event_id % 3 IN (0, 1) GROUP BY event_type
          |UNION ALL
          |SELECT 'latest' AS face, event_type, COUNT(*) AS n,
          |       CAST(SUM(CAST(value AS DECIMAL(30,6))) AS DOUBLE) AS v_sum
          |FROM events WHERE event_id % 3 = 2 GROUP BY event_type
          |ORDER BY face, event_type""".stripMargin)),

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
    Face("sql_appends", (s, d) => {
      graft.sources.Versioned.register(s, "chg_events", changesFixture(s, d))
      graft.GraftSql.load(s,
        """SELECT event_type, unix_micros(_change_timestamp) AS ts_us, COUNT(*) AS n,
          |       CAST(SUM(CAST(value AS DECIMAL(30,6))) AS DOUBLE) AS v_sum
          |FROM APPENDS(TABLE chg_events, TIMESTAMP '2024-01-01', TIMESTAMP '2024-01-03')
          |GROUP BY event_type, ts_us ORDER BY event_type, ts_us""".stripMargin)
    }, Oracle(
      // the APPENDS window replays as the two in-window appended
      // thirds with their commit times as literals
        """WITH e AS (SELECT event_id, event_type, value FROM events),
          |a AS (SELECT event_type, value, CAST(1704067200000000 AS BIGINT) AS ts_us
          |      FROM e WHERE event_id % 3 = 0
          |      UNION ALL
          |      SELECT event_type, value, CAST(1704153600000000 AS BIGINT) AS ts_us
          |      FROM e WHERE event_id % 3 = 1)
          |SELECT event_type, ts_us, COUNT(*) AS n,
          |       CAST(SUM(CAST(value AS DECIMAL(30,6))) AS DOUBLE) AS v_sum
          |FROM a GROUP BY event_type, ts_us ORDER BY event_type, ts_us""".stripMargin)),
    Face("sql_changes", (s, d) => {
      graft.sources.Versioned.register(s, "chg_events", changesFixture(s, d))
      graft.GraftSql.load(s,
        """SELECT _change_type AS change_type, event_type, COUNT(*) AS n,
          |       CAST(SUM(CAST(value AS DECIMAL(30,6))) AS DOUBLE) AS v_sum
          |FROM CHANGES(TABLE chg_events, TIMESTAMP '2024-01-03', NULL)
          |GROUP BY _change_type, event_type
          |ORDER BY change_type, event_type""".stripMargin)
    }, Oracle(
      // the CHANGES window replays as the overwrite's ±1-weight
      // multiset diff (|delta| expansion included) plus the final
      // append's inserts
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
          |FROM chg GROUP BY change_type, event_type ORDER BY change_type, event_type""".stripMargin)),

    // A28+A34 driver face: the unload → load ROUND TRIP under the
    // hash gate (both verbs were test-only before): EXPORT DATA
    // shards events to parquet, CREATE EXTERNAL TABLE mounts the
    // shards, LOAD DATA INTO lands them in a fresh table, and the
    // aggregate over the loaded table must equal the aggregate over
    // the source — file-level fidelity (sharding, mounting, load-time
    // coercion) is what the oracle's plain aggregate gates
    Face("sql_export_load", (s, d) => {
      val dir = Scratch.scratch(d, "expload")
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
    }, Oracle(
      // export→load round trip: parquet preserves every byte, so the
      // loaded table's aggregate equals the source filter's
        """SELECT event_type, COUNT(*) AS n,
          |       CAST(SUM(CAST(value AS DECIMAL(30,6))) AS DOUBLE) AS v_sum,
          |       CAST(MIN(event_id) AS BIGINT) AS min_id,
          |       CAST(MAX(event_id) AS BIGINT) AS max_id
          |FROM events WHERE event_type <> 'click'
          |GROUP BY event_type ORDER BY event_type""".stripMargin)),

    // the AVRO sibling of sql_export_load (round 11): the same
    // round-trip shape routed through the engine's own DSv2 avro
    // bridge (sources/AvroSource.scala) — EXPORT avro → EXTERNAL TABLE
    // over the shards → LOAD DATA → aggregate. The oracle replays the
    // SELECT+aggregate directly on the parquet source, so the hash
    // gates write fidelity, split reads, and the type bridge
    // (timestamp-micros column included) end to end
    Face("sql_export_avro", (s, d) => {
      val dir = Scratch.scratch(d, "expavro")
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
    }, Oracle(
        """SELECT event_type, COUNT(*) AS n,
          |       CAST(SUM(CAST(value AS DECIMAL(30,6))) AS DOUBLE) AS v_sum,
          |       CAST(MIN(event_id) AS BIGINT) AS min_id,
          |       CAST(MAX(event_id) AS BIGINT) AS max_id,
          |       MIN(CAST(ts AS TIMESTAMP)) AS min_ts, MAX(CAST(ts AS TIMESTAMP)) AS max_ts
          |FROM events WHERE event_type <> 'view'
          |GROUP BY event_type ORDER BY event_type""".stripMargin)),

    // A40 driver face: BigQuery WILDCARD TABLES — the sharded-by-date
    // dataset idiom (`FROM events_*` + `_TABLE_SUFFIX`). Three
    // year-shards of orders register as views; the wildcard statement
    // unions them with the suffix pseudo-column and the BETWEEN
    // predicate prunes the 1997 shard's SCAN from the plan (the
    // literal suffix constant-folds per branch — table pruning, not
    // row filtering; spec-pinned in TypedSqlSpec). The oracle replays
    // as a filtered UNION ALL, so a hash match proves shard matching,
    // suffix values, union-by-name and the pruning cut
    Face("sql_wildcard_tables", (s, d) => {
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
    }, Oracle(
      // wildcard tables: the two kept shards replay as a filtered
      // UNION ALL with literal suffixes
        """WITH u AS (
          |  SELECT '1995' AS yr, o_orderpriority, o_totalprice FROM orders
          |  WHERE EXTRACT(year FROM o_orderdate) = 1995
          |  UNION ALL
          |  SELECT '1996' AS yr, o_orderpriority, o_totalprice FROM orders
          |  WHERE EXTRACT(year FROM o_orderdate) = 1996)
          |SELECT yr, o_orderpriority, COUNT(*) AS n,
          |       CAST(SUM(CAST(o_totalprice AS DECIMAL(30,2))) AS DOUBLE) AS sum_price
          |FROM u GROUP BY yr, o_orderpriority ORDER BY yr, o_orderpriority""".stripMargin)),

    // A41 driver face: the PARTITION BY / CLUSTER BY DDL round trip —
    // the statement materializes a day-partitioned layout, the read
    // back re-aggregates through the p_day directory column with a
    // pruning day-range filter; the oracle replays the same window as
    // a plain filtered aggregate, so a hash match proves the physical
    // write+read preserves content and the day derivation exactly
    Face("sql_partition_ddl", (s, d) => {
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
    }, Oracle(
      // partition-DDL round trip: the same day window as a plain
      // filtered aggregate over the source
        """WITH e AS (SELECT event_id, event_type, value,
          |                  CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE) AS day
          |           FROM events)
          |SELECT day, event_type, COUNT(*) AS n,
          |       CAST(SUM(CAST(value AS DECIMAL(30,6))) AS DOUBLE) AS v_sum,
          |       MIN(event_id) AS min_id, MAX(event_id) AS max_id
          |FROM e WHERE day BETWEEN DATE '2024-01-05' AND DATE '2024-01-15'
          |GROUP BY day, event_type ORDER BY day, event_type""".stripMargin)),

    // A37b driver face (round 13): INFORMATION_SCHEMA.PARTITIONS over
    // an A41 day-partitioned layout — partition ids, row counts and
    // sizes come from the file listing + parquet FOOTERS (no data
    // scan); the oracle replays partition_id/total_rows as a direct
    // group-by over the source
    Face("sql_partition_meta", (s, d) => {
      Tables.events(s, d).createOrReplaceTempView("pmeta_events")
      graft.GraftSql.load(s,
        """CREATE OR REPLACE TABLE pmeta_daily PARTITION BY DATE(ts) CLUSTER BY user_id
          |AS SELECT event_id, ts, user_id, event_type, value FROM pmeta_events""".stripMargin)
      graft.GraftSql.load(s,
        """SELECT table_name, partition_id, total_rows
          |FROM INFORMATION_SCHEMA.PARTITIONS
          |WHERE table_name = 'pmeta_daily'
          |ORDER BY partition_id""".stripMargin)
    }, Oracle(
      // PARTITIONS metadata view: footer-derived per-day row counts
      // replay as a direct group-by over the source table
        """SELECT 'pmeta_daily' AS table_name,
          |       strftime(CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE), '%Y%m%d') AS partition_id,
          |       COUNT(*) AS total_rows
          |FROM events GROUP BY 2 ORDER BY partition_id""".stripMargin)),

    // A37b driver face (round 13): the DDL-registry INFORMATION_SCHEMA
    // views — a search index, a vector index and a SQL routine created
    // through the statement surface, read back joined from
    // SEARCH_INDEXES / VECTOR_INDEXES / ROUTINES; every column is
    // determined by the DDL TEXT alone, so the oracle is the
    // hand-derived literal row (the q_json_keys discipline)
    Face("sql_info_schema_meta", (s, d) => {
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
    }, Oracle(
      // every registry column is determined by the DDL text — the
      // oracle IS the hand-derived literal row
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
          |       'graft-session' AS location""".stripMargin)),

    // A54 driver face (round 14): OPTIONS(...) metadata on CREATE
    // TABLE / VIEW surfaced through INFORMATION_SCHEMA.TABLE_OPTIONS —
    // the hash pins the clause split, the pair parsing (labels keep
    // their bracketed inner commas), BigQuery's value rendering
    // (strings double-quoted, labels as [STRUCT("k", "v"), ...]) and
    // the TABLES join
    Face("sql_table_options", (s, d) => {
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
    }, Oracle(
      // table-options metadata is session-catalog state with a pinned
      // rendering — the oracle is the literal expected rows
        """SELECT * FROM (VALUES
          |  ('topt_daily', 'description', 'STRING', '"daily fx report"', 'VIEW'),
          |  ('topt_daily', 'friendly_name', 'STRING', '"Daily FX"', 'VIEW'),
          |  ('topt_daily', 'labels', 'ARRAY<STRUCT<STRING, STRING>>',
          |   '[STRUCT("team", "fx"), STRUCT("env", "prod")]', 'VIEW'),
          |  ('topt_daily', 'partition_expiration_days', 'INT64', '30', 'VIEW'),
          |  ('topt_daily', 'require_partition_filter', 'BOOL', 'false', 'VIEW'),
          |  ('topt_view', 'description', 'STRING', '"view over the daily table"', 'VIEW')
          |) AS t(table_name, option_name, option_type, option_value, table_type)
          |ORDER BY table_name, option_name""".stripMargin)),

    // A20/A30/A42 driver face (round 15): the DDL/DML lifecycle verbs
    // that were spec-only — ALTER TABLE ADD/RENAME/DROP COLUMN, UPDATE,
    // DELETE, DROP TABLE, TRUNCATE — gated through one content +
    // metadata hash: the surviving rows of the mutated table aggregate
    // under the hash beside the INFORMATION_SCHEMA.COLUMNS shape
    // (names, ordinals, BigQuery type names) after the column surgery,
    // a TABLES probe proving the dropped table is GONE, and a count
    // proving TRUNCATE emptied its target. The oracle replays the
    // whole lifecycle as plain relational algebra over events.
    Face("sql_ddl_lifecycle", (s, d) => {
      Tables.events(s, d).createOrReplaceTempView("ddl_events")
      // ALTER/UPDATE/DELETE/TRUNCATE persist through the Versioned
      // commit path (on an unregistered target the verbs keep their
      // pure snapshot-return contract and would not compose)
      val base = Scratch.scratch(d, "ddl")
      val ts = Some(graft.GraftSql.parseTsLiteralUs("2024-01-01 00:00:00"))
      for ((name, dir) <- Seq("ddl_t" -> s"$base/t", "ddl_trunc" -> s"$base/trunc")) {
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
    }, Oracle(
      // the DDL lifecycle replays as plain relational algebra: the
      // UPDATE is the CASE projection, the DELETE the filter, the
      // column surgery a fixed VALUES shape, and the drop/truncate
      // probes are literal zeros (the objects must not exist / be
      // empty when the Spark side hashes)
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
          |CROSS JOIN s ORDER BY pos""".stripMargin)),
  )
}
