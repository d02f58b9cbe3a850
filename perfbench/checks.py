"""Output checks, one family per workload. Each returns a list of
(check name, ok, detail) and the stored bytes per row of the workload's
output table. The program's outputs are read back with DuckDB, an engine
independent of the one under test."""
import datetime
import decimal
import glob
import os
import re

import duckdb
import numpy as np

import gen
import queries

EPOCH = datetime.datetime(1970, 1, 1)
DAY0 = datetime.date(2024, 1, 1)
EMAIL = re.compile(r"user[0-9]+@example\.org")


def _parquet(d):
    """Data files of a table directory (hidden and metadata files excluded)."""
    return sorted(p for p in glob.glob(os.path.join(d, "**", "*.parquet"), recursive=True)
                  if not any(part.startswith(("_", ".")) for part in
                             os.path.relpath(p, d).split(os.sep)))


def _scan(con, d, cols):
    files = _parquet(d)
    if not files:
        raise RuntimeError("no data files under %s" % d)
    lst = "[" + ",".join("'%s'" % f for f in files) + "]"
    return "(SELECT %s FROM read_parquet(%s, union_by_name=true))" % (cols, lst)


def _bytes(d):
    return sum(os.path.getsize(p) for p in _parquet(d))


def _check(out, name, fn):
    try:
        ok, detail = fn()
    except Exception as e:  # a check that cannot run has failed
        ok, detail = False, "%s: %s" % (type(e).__name__, e)
    out.append((name, bool(ok), detail))


def _same_observed(res, out):
    """The pipelines' observed counts must repeat exactly in every pass
    (a run of one pass has nothing to compare)."""
    obs = res["observe"]
    if len(obs) < 2:
        return
    same = all(o == obs[0] for o in obs)
    _check(out, "observe counts repeat across passes",
           lambda: (same, "" if same else "pass values differ: %s" % obs))


def fx_daily(res, feed):
    con = duckdb.connect()
    out = []
    truth_ids = np.sort(feed["event_id"])
    report = gen.fx_truth_report(feed)
    for i, p in enumerate(res["passes"]):
        def keys(p=p):
            ids = con.execute("SELECT event_id FROM %s ORDER BY 1" % _scan(con, p["raw"], "event_id")
                              ).fetchnumpy()["event_id"]
            ok = len(ids) == len(truth_ids) and np.array_equal(ids, truth_ids)
            return ok, "stored %d rows, expected %d distinct keys" % (len(ids), len(truth_ids))

        def rep(p=p):
            rows = con.execute("SELECT day, event_type, n, avg_rate FROM %s" % _scan(
                con, p["report"], "day, event_type, n, avg_rate")).fetchall()
            bad = 0
            for day, cur, n, avg in rows:
                want = report.get(((day - DAY0).days, cur))
                if want is None or want[0] != n or abs(want[1] - avg) > 1e-9 * max(1.0, abs(avg)):
                    bad += 1
            return (bad == 0 and len(rows) == len(report),
                    "%d report rows, %d expected, %d wrong" % (len(rows), len(report), bad))

        _check(out, "pass %d: stored keys = distinct valid keys" % i, keys)
        _check(out, "pass %d: report n/avg_rate = ground truth" % i, rep)
        rows = sum(c.get("fx_ingest.batch_rows", 0) for c in res["observe"][i])
        _check(out, "pass %d: observed batch_rows = valid lines" % i,
               lambda rows=rows: (rows == feed["valid_lines"], "observed %d, generated %d"
                                  % (rows, feed["valid_lines"])))
    _same_observed(res, out)
    p0 = res["passes"][0]["raw"]
    return out, _bytes(p0) / max(1, len(truth_ids))


def _plain(v):
    if isinstance(v, datetime.datetime):
        d = v - EPOCH
        return (d.days * 86400 + d.seconds) * 1_000_000 + d.microseconds
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, decimal.Decimal):
        return float(v)
    return v


def _row_eq(got, want, tol, absolute):
    if len(got) != len(want):
        return False
    for a, b in zip(got, want):
        if a is None or b is None:
            if a is not b:
                return False
        elif isinstance(b, float) or isinstance(a, float):
            scale = 1.0 if absolute else max(1.0, abs(b))
            if abs(float(a) - float(b)) > tol * scale:
                return False
        elif a != b:
            return False
    return True


def sql_reports(res, mix, tables):
    con = duckdb.connect()
    fx = res["extra"]["fx_table"]
    con.execute("CREATE VIEW fx AS %s" % _scan(con, fx, "event_id, ts, user_id, event_type, rate"))
    for name, path in tables.items():
        con.execute("CREATE VIEW %s AS SELECT * FROM read_parquet('%s')" % (name, path))
    results = res["extra"].get("results", {})
    out = []
    for qid, name, params in mix:
        t = queries.TEMPLATES[name]

        def cmp(qid=qid, t=t, params=params):
            got = results.get(qid)
            if got is None:
                return False, "no result recorded"
            want = [[_plain(v) for v in r] for r in con.execute(t["duck"].format(**params)).fetchall()]
            absolute = name == "latest_10_avg"
            ok = len(got) == len(want) and all(
                _row_eq(g, w, t["tol"], absolute) for g, w in zip(got, want))
            return ok, "" if ok else "graft %s vs duckdb %s" % (got[:3], want[:3])
        _check(out, "query %s matches DuckDB" % qid, cmp)
    fx_rows = con.execute("SELECT count(*) FROM fx").fetchone()[0]
    return out, _bytes(fx) / max(1, fx_rows), fx_rows


def corpus_build(res, corpus):
    con = duckdb.connect()
    out = []
    for i, p in enumerate(res["passes"]):
        calls = res["observe"][i]
        b, n = _corpus_run(con, out, "pass %d" % i, p["shards"], corpus, calls[0] if calls else {})
        if i == 0:
            stored = b / max(1, n)
    _same_observed(res, out)
    return out, stored


def _corpus_run(con, out, label, d, corpus, obs):
    inputs = set(int(x) for x in corpus["ids"])
    foreign = set(corpus["foreign_ids"])
    funnel = [obs.get("corpus_" + k, -1) for k in
              ("in.docs_in", "filtered.docs_kept", "deduped.docs_surviving", "mixed.docs_selected")]
    _check(out, label + ": observed docs_in = generated docs",
           lambda: (funnel[0] == corpus["docs"], "observed %s, generated %d"
                    % (funnel[0], corpus["docs"])))
    # the planted duplicates leave dedup something to drop
    _check(out, label + ": funnel narrows, dedup drops documents",
           lambda: (0 < funnel[3] <= funnel[2] < funnel[1] <= funnel[0],
                    "in/kept/surviving/selected = %s" % funnel))
    rows = con.execute("SELECT doc_ids, text FROM %s" % _scan(con, d, "doc_ids, text")).fetchall()
    ids = [int(x) for r in rows for x in r[0]]
    s = set(ids)
    _check(out, label + ": shard doc_ids unique",
           lambda: (len(s) == len(ids), "%d ids, %d distinct" % (len(ids), len(s))))
    # a subset, not all: packing skips documents cleaning left empty
    _check(out, label + ": shard doc_ids are a subset of the selected survivors",
           lambda: (s <= inputs and 0 < len(s) <= funnel[3],
                    "%d shard ids, %s selected" % (len(s), funnel[3])))
    for kind in ("exact", "reformatted"):
        pairs = corpus[kind + "_pairs"]
        _check(out, label + ": planted %s duplicates collapsed" % kind,
               lambda pairs=pairs: (not any(a in s and b in s for a, b in pairs),
                                    "%d of %d pairs reach a shard twice" % (
                                        sum(a in s and b in s for a, b in pairs), len(pairs))))
    _check(out, label + ": non-English documents dropped",
           lambda: (not (s & foreign), "%d foreign ids kept" % len(s & foreign)))
    _check(out, label + ": planted PII redacted",
           lambda: (not (set(EMAIL.findall("\n".join(r[1] for r in rows))) & set(corpus["pii"])),
                    ""))
    return _bytes(d), len(ids)


def stream_replay(res, feed):
    con = duckdb.connect()
    out = []
    truth_ids = np.sort(feed["event_id"])
    latest = gen.fx_truth_latest(feed)
    dedup_bytes = dedup_rows = 0
    for i, p in enumerate(res["passes"]):
        def dedup(p=p):
            ids = con.execute("SELECT event_id FROM %s ORDER BY 1" % _scan(
                con, p["dedup"], "event_id")).fetchnumpy()["event_id"]
            return (len(ids) == len(truth_ids) and np.array_equal(ids, truth_ids),
                    "%d rows, %d distinct events expected" % (len(ids), len(truth_ids)))

        def merge(p=p):
            rows = con.execute("SELECT user_id, event_type, event_id, value FROM %s" % _scan(
                con, p["merge"], "user_id, event_type, event_id, value")).fetchall()
            bad = sum(1 for u, c, e, v in rows
                      if (u, c) not in latest or latest[(u, c)][1:] != (e, v))
            return (bad == 0 and len(rows) == len(latest),
                    "%d target rows, %d keys, %d wrong" % (len(rows), len(latest), bad))
        _check(out, "pass %d: dedup sink holds each event_id once" % i, dedup)
        _check(out, "pass %d: merge target = latest row per key" % i, merge)
        if i == 0:
            dedup_bytes, dedup_rows = _bytes(p["dedup"]), len(truth_ids)
    return out, dedup_bytes / max(1, dedup_rows)
