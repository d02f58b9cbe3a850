"""The sql_reports query mix: each template in BigQuery dialect (what
graft runs through `GraftSql.load`) and in DuckDB dialect (the oracle),
with the tables it reads and a seeded parameter draw."""
import datetime

import gen

TEMPLATES = {
    # the reference README's current-day report
    "current_day_avg": {
        "tables": ["fx"],
        "graft": """SELECT event_type AS to_cur, AVG(rate) AS avg_rate, COUNT(*) AS n
FROM fx
WHERE TIMESTAMP_TRUNC(ts, DAY) = TIMESTAMP '{day} 00:00:00'
GROUP BY event_type
ORDER BY to_cur""",
        "duck": """SELECT event_type AS to_cur, AVG(rate) AS avg_rate, COUNT(*) AS n
FROM fx WHERE date_trunc('day', ts) = TIMESTAMP '{day} 00:00:00'
GROUP BY event_type ORDER BY to_cur""",
        "tol": 1e-9,
    },
    # idempotent_fx_pipeline.py's report: mean of the 10 newest rows, 4 places
    "latest_10_avg": {
        "tables": ["fx"],
        "graft": """SELECT ROUND(AVG(rate), 4) AS avg_rate_10
FROM (SELECT rate FROM fx WHERE event_type = '{cur}'
      ORDER BY ts DESC, event_id DESC LIMIT 10) AS recent""",
        "duck": """SELECT ROUND(AVG(rate), 4) AS avg_rate_10
FROM (SELECT rate FROM fx WHERE event_type = '{cur}'
      ORDER BY ts DESC, event_id DESC LIMIT 10) AS recent""",
        "tol": 1.0001e-4,
    },
    "daily_range": {
        "tables": ["fx"],
        "graft": """SELECT DATE(ts) AS day, event_type, MIN(rate) AS lo, MAX(rate) AS hi,
  AVG(rate) AS avg_rate, COUNT(*) AS n
FROM fx
WHERE ts >= TIMESTAMP '{d0} 00:00:00' AND ts < TIMESTAMP '{d1} 00:00:00'
GROUP BY day, event_type
ORDER BY day, event_type""",
        "duck": """SELECT CAST(ts AS DATE) AS day, event_type, MIN(rate) AS lo, MAX(rate) AS hi,
  AVG(rate) AS avg_rate, COUNT(*) AS n
FROM fx WHERE ts >= TIMESTAMP '{d0} 00:00:00' AND ts < TIMESTAMP '{d1} 00:00:00'
GROUP BY 1, 2 ORDER BY 1, 2""",
        "tol": 1e-9,
    },
    "dedup_latest": {
        "tables": ["fx"],
        "graft": """SELECT user_id, event_type, event_id, rate, ts
FROM fx
WHERE user_id BETWEEN {u0} AND {u1}
QUALIFY ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                           ORDER BY ts DESC, event_id DESC) = 1
ORDER BY user_id, event_type""",
        "duck": """SELECT user_id, event_type, event_id, rate, ts FROM fx
WHERE user_id BETWEEN {u0} AND {u1}
QUALIFY ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                           ORDER BY ts DESC, event_id DESC) = 1
ORDER BY user_id, event_type""",
        "tol": 0.0,
    },
    "revenue_by_nation": {
        "tables": ["lineitem", "orders", "customer", "nation", "region"],
        "graft": """SELECT n.n_name, SUM(l.l_extendedprice * (1 - l.l_discount)) AS revenue,
  COUNT(*) AS line_count
FROM lineitem AS l
JOIN orders AS o ON l.l_orderkey = o.o_orderkey
JOIN customer AS c ON o.o_custkey = c.c_custkey
JOIN nation AS n ON c.c_nationkey = n.n_nationkey
JOIN region AS r ON n.n_regionkey = r.r_regionkey
WHERE r.r_name = '{region}' AND EXTRACT(YEAR FROM o.o_orderdate) = {year}
GROUP BY n.n_name
ORDER BY n.n_name""",
        "duck": """SELECT n.n_name, SUM(l.l_extendedprice * (1 - l.l_discount)) AS revenue,
  COUNT(*) AS line_count
FROM lineitem AS l
JOIN orders AS o ON l.l_orderkey = o.o_orderkey
JOIN customer AS c ON o.o_custkey = c.c_custkey
JOIN nation AS n ON c.c_nationkey = n.n_nationkey
JOIN region AS r ON n.n_regionkey = r.r_regionkey
WHERE r.r_name = '{region}' AND EXTRACT(YEAR FROM o.o_orderdate) = {year}
GROUP BY n.n_name ORDER BY n.n_name""",
        "tol": 1e-9,
    },
    "top_customers": {
        "tables": ["orders", "customer"],
        "graft": """SELECT c_nationkey, c_custkey, total_cents, rk FROM (
  SELECT c.c_nationkey, c.c_custkey,
    SUM(CAST(ROUND(o.o_totalprice * 100) AS INT64)) AS total_cents,
    RANK() OVER (PARTITION BY c.c_nationkey
                 ORDER BY SUM(CAST(ROUND(o.o_totalprice * 100) AS INT64)) DESC,
                          c.c_custkey) AS rk
  FROM orders AS o JOIN customer AS c ON o.o_custkey = c.c_custkey
  WHERE c.c_mktsegment = '{seg}'
  GROUP BY c.c_nationkey, c.c_custkey) AS ranked
WHERE rk <= 3
ORDER BY c_nationkey, rk""",
        "duck": """SELECT c_nationkey, c_custkey, total_cents, rk FROM (
  SELECT c.c_nationkey, c.c_custkey,
    SUM(CAST(ROUND(o.o_totalprice * 100) AS BIGINT)) AS total_cents,
    RANK() OVER (PARTITION BY c.c_nationkey
                 ORDER BY SUM(CAST(ROUND(o.o_totalprice * 100) AS BIGINT)) DESC,
                          c.c_custkey) AS rk
  FROM orders AS o JOIN customer AS c ON o.o_custkey = c.c_custkey
  WHERE c.c_mktsegment = '{seg}'
  GROUP BY c.c_nationkey, c.c_custkey) AS ranked
WHERE rk <= 3 ORDER BY c_nationkey, rk""",
        "tol": 0.0,
    },
}

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]


def _day(i):
    return (datetime.date(2024, 1, 1) + datetime.timedelta(days=int(i))).isoformat()


def draw(rng, name, fx_days):
    """Seeded parameters for one instance of template `name`."""
    if name == "current_day_avg":
        return {"day": _day(rng.integers(0, fx_days))}
    if name == "latest_10_avg":
        return {"cur": gen.CURRENCIES[int(rng.integers(0, len(gen.CURRENCIES)))]}
    if name == "daily_range":
        a = int(rng.integers(0, fx_days - 1))
        return {"d0": _day(a), "d1": _day(a + 2)}
    if name == "dedup_latest":
        a = int(rng.integers(1, gen.PROVIDERS - 20))
        return {"u0": a, "u1": a + 19}
    if name == "revenue_by_nation":
        return {"region": REGIONS[int(rng.integers(0, 5))], "year": int(rng.integers(1992, 1999))}
    if name == "top_customers":
        return {"seg": SEGMENTS[int(rng.integers(0, 5))]}
    raise KeyError(name)


def mix(rng, per_template, fx_days):
    """`per_template` instances of every template, in seeded order."""
    out = []
    for name in TEMPLATES:
        for k in range(per_template):
            out.append(("%s_%d" % (name, k), name, draw(rng, name, fx_days)))
    order = rng.permutation(len(out))
    return [out[i] for i in order]
