"""Seeded input generator for the graft benchmark.

Everything the program reads is written here, from one single-threaded
numpy generator, so the same seed always yields byte-identical inputs.
Each function returns the ground truth the checks compare against.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

T0_US = 1704067200 * 1_000_000  # 2024-01-01T00:00:00Z
DAY_US = 86_400 * 1_000_000
# EUR->X pairs, the reference's Frankfurter feed, with plausible base rates
CURRENCIES = ["USD", "GBP", "JPY", "CHF", "SEK", "NOK", "PLN", "CZK", "DKK", "HUF"]
BASE_RATE = [1.08, 0.85, 160.0, 0.95, 11.5, 11.6, 4.3, 25.0, 7.46, 390.0]
PROVIDERS = 200


def _write_parquet(table, path, row_group_size=None):
    pq.write_table(table, path, row_group_size=row_group_size or max(1, table.num_rows),
                   compression="snappy", use_dictionary=True)


def fx_feed(rng, out_dir, days, batches_per_day, events_per_day,
            redeliver_share=0.2, malformed_share=0.01):
    """Newline-JSON FX feed in the `RawJson.eventSchema` wire shape, one
    file per delivery batch, batches in arrival order.

    About `redeliver_share` of the well-formed lines are redeliveries of
    an earlier event with its original `ts` (same batch or up to two
    batches later, so some cross a day boundary), and about
    `malformed_share` of all lines are malformed.
    """
    os.makedirs(out_dir, exist_ok=True)
    n = days * events_per_day
    nb = days * batches_per_day
    day = np.repeat(np.arange(days, dtype=np.int64), events_per_day)
    ts = T0_US + day * DAY_US + rng.integers(0, DAY_US, n)
    order = np.argsort(ts, kind="stable")
    ts = ts[order]
    event_id = rng.permutation(np.arange(1, 4 * n + 1, dtype=np.int64))[:n]
    cur = rng.integers(0, len(CURRENCIES), n)
    user = rng.integers(1, PROVIDERS + 1, n)
    drift = rng.normal(0.0, 0.004, (days, len(CURRENCIES))).cumsum(axis=0)
    noise = rng.normal(0.0, 0.002, n)
    base = np.asarray(BASE_RATE)[cur]
    rate = np.round(base * np.exp(drift[(ts - T0_US) // DAY_US, cur] + noise), 6)
    batch = ((ts - T0_US) * batches_per_day) // DAY_US

    # redeliveries: r / (1 + r) of the valid lines
    r = redeliver_share / (1.0 - redeliver_share)
    m = int(round(r * n))
    src = rng.choice(n, m, replace=False)
    rbatch = np.minimum(batch[src] + rng.integers(0, 3, m), nb - 1)

    def line(i):
        return ('{"event_id":%d,"user_id":%d,"event_type":"%s","value":%r,"ts_us":%d}'
                % (event_id[i], user[i], CURRENCIES[cur[i]], float(rate[i]), ts[i]))

    lines = [[] for _ in range(nb)]
    for i in range(n):
        lines[batch[i]].append(line(i))
    for j in range(m):
        lines[rbatch[j]].append(line(src[j]))
    valid_lines = n + m
    k = int(round(malformed_share * valid_lines / (1.0 - malformed_share)))
    kinds = rng.integers(0, 4, k)
    kbatch = rng.integers(0, nb, k)
    for j in range(k):
        i = int(rng.integers(0, n))
        full = line(i)
        bad = [full[: len(full) // 2],                       # truncated delivery
               "null",                                       # JSON null literal
               full.replace('"event_id":%d,' % event_id[i], ""),  # key missing
               "<html>502 Bad Gateway</html>"][kinds[j]]
        lines[kbatch[j]].append(bad)
    files = []
    for b in range(nb):
        perm = rng.permutation(len(lines[b]))
        path = os.path.join(out_dir, "batch_%05d.json" % b)
        with open(path, "w") as f:
            f.write("\n".join(lines[b][p] for p in perm))
            f.write("\n")
        files.append(path)
    return {
        "files": files, "lines": valid_lines + k, "valid_lines": valid_lines,
        "event_id": event_id, "ts_us": ts, "user_id": user, "cur": cur, "rate": rate,
        "redelivered": src, "bytes": sum(os.path.getsize(p) for p in files),
    }


def fx_parquet(feed, path):
    """The well-formed lines of `feed` (redeliveries included) as one
    typed parquet file: the landed export a backfill reads."""
    idx = np.concatenate([np.arange(len(feed["event_id"])), feed["redelivered"]])
    t = pa.table({
        "event_id": feed["event_id"][idx],
        "user_id": feed["user_id"][idx],
        "event_type": np.asarray(CURRENCIES)[feed["cur"][idx]],
        "value": feed["rate"][idx],
        "ts": pa.array(feed["ts_us"][idx], pa.timestamp("us", tz="UTC"))})
    _write_parquet(t, path)
    return os.path.getsize(path)


def fx_truth_report(feed):
    """Per (day, currency): distinct-event count and mean rate."""
    day = (feed["ts_us"] - T0_US) // DAY_US
    out = {}
    for d, c, v in zip(day.tolist(), feed["cur"].tolist(), feed["rate"].tolist()):
        k = (d, CURRENCIES[c])
        s = out.setdefault(k, [0, 0.0])
        s[0] += 1
        s[1] += v
    return {k: (n, tot / n) for k, (n, tot) in out.items()}


def fx_truth_latest(feed):
    """Latest (ts, event_id) row per (user_id, currency)."""
    best = {}
    for e, t, u, c, v in zip(feed["event_id"].tolist(), feed["ts_us"].tolist(),
                             feed["user_id"].tolist(), feed["cur"].tolist(),
                             feed["rate"].tolist()):
        k = (u, CURRENCIES[c])
        if k not in best or (t, e) > best[k][:2]:
            best[k] = (t, e, v)
    return best


def star_schema(rng, out_dir, sf):
    """TPC-H-shaped star schema (the calibration tables' column sets),
    one parquet file per table, one row group each."""
    os.makedirs(out_dir, exist_ok=True)
    regions = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
    n_cust, n_supp, n_part, n_ord = (int(150_000 * sf), int(10_000 * sf),
                                     int(200_000 * sf), int(1_500_000 * sf))
    segs = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
    prios = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
    tables = {}
    tables["region"] = pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                                 "r_name": regions})
    tables["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": ["NATION_%02d" % i for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    ck = np.arange(1, n_cust + 1, dtype=np.int64)
    tables["customer"] = pa.table({
        "c_custkey": ck, "c_name": ["Customer#%09d" % i for i in ck],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": np.asarray(segs)[rng.integers(0, 5, n_cust)]})
    sk = np.arange(1, n_supp + 1, dtype=np.int64)
    tables["supplier"] = pa.table({
        "s_suppkey": sk, "s_name": ["Supplier#%09d" % i for i in sk],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)})
    pk = np.arange(1, n_part + 1, dtype=np.int64)
    tables["part"] = pa.table({
        "p_partkey": pk, "p_name": ["part %d" % i for i in pk],
        "p_brand": ["Brand#%d%d" % (a, b) for a, b in
                    zip(rng.integers(1, 6, n_part), rng.integers(1, 6, n_part))],
        "p_type": np.asarray(["STANDARD", "SMALL", "MEDIUM", "LARGE", "ECONOMY", "PROMO"])[
            rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(rng.uniform(900, 2000, n_part), 2)})
    ok = np.arange(1, n_ord + 1, dtype=np.int64) * 4
    d0 = np.datetime64("1992-01-01", "us").astype(np.int64)
    span = 7 * 365 * DAY_US // DAY_US
    odate = d0 + rng.integers(0, span, n_ord) * DAY_US
    nl = rng.integers(1, 8, n_ord)
    n_li = int(nl.sum())
    l_ok = np.repeat(ok, nl)
    l_ln = (np.arange(n_li) - np.repeat(np.cumsum(nl) - nl, nl) + 1).astype(np.int32)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    price = np.round(qty * rng.uniform(900, 2000, n_li) / 10.0, 2)
    disc = np.round(rng.integers(0, 11, n_li) / 100.0, 2)
    ship = np.repeat(odate, nl) + rng.integers(1, 122, n_li) * DAY_US
    l_price_sum = np.bincount(np.repeat(np.arange(n_ord), nl), weights=price, minlength=n_ord)
    tables["orders"] = pa.table({
        "o_orderkey": ok, "o_custkey": rng.integers(1, n_cust + 1, n_ord),
        "o_orderstatus": np.asarray(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": np.round(l_price_sum, 2),
        "o_orderdate": pa.array(odate, pa.timestamp("us")),
        "o_orderpriority": np.asarray(prios)[rng.integers(0, 5, n_ord)]})
    tables["lineitem"] = pa.table({
        "l_orderkey": l_ok, "l_partkey": rng.integers(1, n_part + 1, n_li),
        "l_suppkey": rng.integers(1, n_supp + 1, n_li), "l_linenumber": l_ln,
        "l_quantity": qty, "l_extendedprice": price, "l_discount": disc,
        "l_tax": np.round(rng.integers(0, 9, n_li) / 100.0, 2),
        "l_returnflag": np.asarray(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.asarray(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": pa.array(ship, pa.timestamp("us"))})
    paths, rows, size = {}, 0, 0
    for name, t in tables.items():
        p = os.path.join(out_dir, name + ".parquet")
        _write_parquet(t, p)
        paths[name] = p
        rows += t.num_rows
        size += os.path.getsize(p)
    return {"paths": paths, "rows": {k: t.num_rows for k, t in tables.items()},
            "total_rows": rows, "bytes": size}


# word pools for the corpus: English prose plus non-English prose the
# pipeline's language gate must drop
EN = ("the of and to in is that it for on with as at by this from data table "
      "query stream batch window join spark value key row column scan filter sort "
      "merge report rate currency market price model text corpus index vector "
      "engine cluster partition shuffle record file schema source day hour").split()
FOREIGN = {
    "es": "el la de que y en los del se las por un para con una su al es lo".split(),
    "de": "der die und das ist nicht ein zu den von mit sich des auf für im dem".split(),
    "fr": "le la les des est une que dans et en du pour pas au sur par plus".split(),
}
BOILER = ["Copyright 2024 Example Media. All rights reserved.",
          "Subscribe to our newsletter for daily updates.",
          "Share this article on social media.",
          "Cookies help us deliver our services."]


def corpus(rng, path, n_docs, sources=12):
    """Crawl-drop corpus (doc_id, text, source, lang) as ONE parquet file
    with ONE row group. Planted: exact duplicates, reformatted duplicates,
    near duplicates, shared boilerplate lines, PII, and non-English
    documents.

    An exact duplicate shares every line with its original, so line-level
    boilerplate removal (a line in two or more documents) empties both.
    A reformatted duplicate re-cases the first letter of every line of an
    English original: each of its lines is unique, so boilerplate removal
    keeps them, while its words, and so its word shingles, are the
    original's. Only the dedup stage can collapse such a pair. Neither
    member shares a line with a third document, which would leave the two
    cleaned texts apart.
    """
    en = np.asarray(EN)
    texts, langs, kinds = [], [], []
    copyable = []  # sources for exact and near duplicates
    fresh = []     # English documents written from scratch, never copied
    for i in range(n_docs):
        u = rng.random()
        if u < 0.06 and copyable:                    # exact duplicate of an earlier doc
            j = copyable[int(rng.integers(0, len(copyable)))]
            if j in fresh:
                fresh.remove(j)
            texts.append(texts[j]); langs.append(langs[j]); kinds.append(("dup", j))
            copyable.append(i)
            continue
        if u < 0.14 and fresh:                       # reformatted duplicate
            j = fresh.pop(int(rng.integers(0, len(fresh))))
            copyable.remove(j)
            texts.append("\n".join(line[:1].upper() + line[1:] for line in texts[j].split("\n")))
            langs.append("en"); kinds.append(("reformatted", j))
            continue
        copyable.append(i)
        if u < 0.20 and len(copyable) > 1:           # near duplicate: a few words changed
            j = copyable[int(rng.integers(0, len(copyable) - 1))]
            if j in fresh:
                fresh.remove(j)
            w = texts[j].split(" ")
            for p in rng.integers(0, len(w), 2):
                w[p] = str(en[rng.integers(0, len(en))])
            texts.append(" ".join(w)); langs.append(langs[j]); kinds.append(("near", j))
            continue
        if u < 0.30:                                 # non-English document
            lang = ["es", "de", "fr"][int(rng.integers(0, 3))]
            pool = np.asarray(FOREIGN[lang])
            body = " ".join(pool[rng.integers(0, len(pool), int(rng.integers(40, 90)))])
            texts.append(body); langs.append(lang); kinds.append(("foreign", None))
            continue
        n_lines = int(rng.integers(2, 5))
        body = []
        for _ in range(n_lines):
            body.append(" ".join(en[rng.integers(0, len(en), int(rng.integers(8, 25)))]))
        if rng.random() < 0.3:
            body.insert(int(rng.integers(0, len(body) + 1)), BOILER[int(rng.integers(0, 4))])
        if rng.random() < 0.1:
            body.append("contact user%d@example.org or call 555-%03d-%04d" %
                        (i, rng.integers(100, 1000), rng.integers(0, 10000)))
            kinds.append(("pii", None))
        else:
            kinds.append(("plain", None))
        texts.append("\n".join(body)); langs.append("en")
        fresh.append(i)
    ids = rng.permutation(np.arange(1, 3 * n_docs + 1, dtype=np.int64))[:n_docs]
    src = np.asarray(["src%d" % s for s in range(sources)])[rng.integers(0, sources, n_docs)]
    pairs = {"dup": [], "reformatted": []}
    foreign_ids, pii = [], []
    for i, (kind, j) in enumerate(kinds):
        if kind in pairs:
            pairs[kind].append((int(ids[j]), int(ids[i])))
        elif kind == "foreign":
            foreign_ids.append(int(ids[i]))
        elif kind == "pii":
            pii.append("user%d@example.org" % i)
    t = pa.table({"doc_id": ids, "text": texts, "source": src, "lang": langs})
    _write_parquet(t, path)
    return {"path": path, "docs": n_docs, "bytes": os.path.getsize(path),
            "exact_pairs": pairs["dup"], "reformatted_pairs": pairs["reformatted"],
            "foreign_ids": foreign_ids, "pii": pii, "ids": ids}
