#!/usr/bin/env python3
"""graft benchmark: one run of one workload.

    python3 perfbench/run.py --workload fx_daily --seed 1 --seconds 10 --trace 0

Builds graft and the Scala harness from source (once per source tree), generates
the workload's inputs from --seed into a scratch root of its own, runs one
JVM at GraftSession.local(nproc) with one client thread, checks every
output, and prints as its last stdout line

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

with the end-to-end metrics (--trace 0) or the per-layer metrics of the
traced run (--trace 1). The line before it stamps the environment. A traced
run also writes its spans and its per-layer table to <build dir>/traces/;
`steady.py --traced` reports the tracing overhead. The scratch root is
deleted at exit.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time
import uuid

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import checks  # noqa: E402
import gen  # noqa: E402
import queries  # noqa: E402
import spec  # noqa: E402

# Input sizes per workload. A pass is a fixed unit of work (the whole feed
# through both DAGs, one round of the query mix, one pipeline run, one replay
# through both queries); a run makes as many as fill --seconds (pass_count).
FX_DAILY = dict(days=2, batches_per_day=4, events_per_day=3300)
SQL_FEED = dict(days=2, batches_per_day=1, events_per_day=12500)
SQL_STAR_SF = 0.01
SQL_PER_TEMPLATE = 2
CORPUS_DOCS = 10000  # 2x `documents` at sf0.1
STREAM_FEED = dict(days=3, batches_per_day=1, events_per_day=5000)
STREAM_SLICES = 3
# Nominal wall of one pass on a 4-core machine. A run makes as many whole
# passes as fill --seconds at that pace, fixed before it starts, so the work
# a run measures does not depend on how loaded the machine happens to be.
# corpus_build is measured cold: one pipeline run per JVM.
PASS_S = {"fx_daily": 12.0, "sql_reports": 3.5, "corpus_build": None, "stream_replay": 3.5}

JAVA_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
              "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
              "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]
HEAP = "3g"
RUN_LIMIT_S = 175


def quantile(xs, q):
    """Linear-interpolated quantile (numpy's default definition)."""
    v = sorted(xs)
    if not v:
        return float("nan")
    k = (len(v) - 1) * q
    lo = int(k)
    hi = min(lo + 1, len(v) - 1)
    return v[lo] + (v[hi] - v[lo]) * (k - lo)


def nproc():
    return len(os.sched_getaffinity(0))


def generate(workload, seed, root):
    """All inputs from one seeded generator. Returns (manifest part,
    truth, input rows per pass, input sizes)."""
    rng = gen.np.random.default_rng(seed)
    inp = os.path.join(root, "input")
    os.makedirs(inp, exist_ok=True)
    if workload == "fx_daily":
        feed = gen.fx_feed(rng, os.path.join(inp, "feed"), **FX_DAILY)
        warm = gen.fx_feed(rng, os.path.join(inp, "warm"), days=1, batches_per_day=2,
                           events_per_day=500)
        part = {"files": feed["files"], "warm_files": warm["files"],
                "batches_per_day": FX_DAILY["batches_per_day"], "warm_batches_per_day": 2}
        sizes = {"lines": feed["lines"], "bytes": feed["bytes"], "files": len(feed["files"])}
        return part, feed, feed["lines"], sizes
    if workload == "sql_reports":
        feed = gen.fx_feed(rng, os.path.join(inp, "feed"), **SQL_FEED)
        landed = os.path.join(inp, "feed.parquet")
        feed["bytes"] = gen.fx_parquet(feed, landed)
        star = gen.star_schema(rng, os.path.join(inp, "star"), SQL_STAR_SF)
        mix = queries.mix(rng, SQL_PER_TEMPLATE, SQL_FEED["days"])
        last = gen.T0_US // 1_000_000 + (SQL_FEED["days"] - 1) * 86400
        part = {"feed": landed, "from_day": "2024-01-01",
                "to_day": time.strftime("%Y-%m-%d", time.gmtime(last)),
                "tables": star["paths"],
                "queries": [{"id": q, "sql": queries.TEMPLATES[n]["graft"].format(**p)}
                            for q, n, p in mix],
                "mix": [q for q, _, _ in mix]}
        sizes = {"feed_rows": feed["valid_lines"], "feed_bytes": feed["bytes"],
                 "star_rows": star["total_rows"], "star_bytes": star["bytes"],
                 "files": 1 + len(star["paths"]), "queries": len(mix)}
        return part, {"mix": mix, "star": star, "feed": feed}, None, sizes
    if workload == "corpus_build":
        corpus = gen.corpus(rng, os.path.join(inp, "drop.parquet"), CORPUS_DOCS)
        sizes = {"docs": CORPUS_DOCS, "bytes": corpus["bytes"], "files": 1}
        return {"path": corpus["path"]}, corpus, CORPUS_DOCS, sizes
    if workload == "stream_replay":
        feed = gen.fx_feed(rng, os.path.join(inp, "feed"), **STREAM_FEED)
        width = STREAM_FEED["days"] * gen.DAY_US // STREAM_SLICES
        part = {"feed": os.path.join(inp, "feed"), "splits": STREAM_SLICES,
                "t0_us": gen.T0_US, "slice_us": width}
        sizes = {"lines": feed["lines"], "bytes": feed["bytes"], "files": len(feed["files"]),
                 "slices": STREAM_SLICES}
        # both queries read every well-formed line of every slice
        return part, feed, 2 * feed["valid_lines"], sizes
    raise SystemExit("unknown workload %r (one of %s)" %
                     (workload, ", ".join(n for n, _ in spec.WORKLOADS)))


def pass_count(workload, seconds):
    nominal = PASS_S[workload]
    return 1 if nominal is None else max(1, int(round(seconds / nominal)))


def git_commit():
    if not os.path.isdir(os.path.join(build.REPO, ".git")):
        return "unknown"  # a plain source tree: the build hash identifies it
    try:
        r = subprocess.run(["git", "-C", build.REPO, "rev-parse", "HEAD"], capture_output=True,
                           text=True, timeout=10)
        return r.stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def run_jvm(classes, manifest_path, root, deadline, traced):
    jars = os.path.join(build.spark_jars(), "*")
    cmd = ["java"]
    for p in JAVA_OPENS:
        cmd += ["--add-opens", "java.base/%s=ALL-UNNAMED" % p]
    # -UsePerfData: no hsperfdata file in the system temp directory
    cmd += ["-Xmx" + HEAP, "-XX:-UsePerfData", "-Djava.io.tmpdir=" + os.path.join(root, "tmp"),
            "-Dspark.local.dir=" + os.path.join(root, "local"),
            "-Dspark.sql.warehouse.dir=" + os.path.join(root, "warehouse"),
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    if traced:
        cmd += ["-Dspark.hadoop.fs.file.impl=graft.perfbench.CountingLocalFileSystem"]
    cmd += ["-cp", classes + os.pathsep + jars, "graft.perfbench.Main", manifest_path]
    for d in ("tmp", "local", "warehouse"):
        os.makedirs(os.path.join(root, d), exist_ok=True)
    log = open(os.path.join(root, "jvm.log"), "w")
    proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=root,
                            start_new_session=True)
    try:
        proc.wait(timeout=max(1.0, deadline - time.time()))
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise RuntimeError("JVM run exceeded the time limit")
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        log.close()
    if proc.returncode != 0:
        with open(os.path.join(root, "jvm.log")) as f:
            sys.stderr.write(f.read()[-6000:])
        raise RuntimeError("JVM run failed with exit code %d" % proc.returncode)


def end_to_end(res, rows_per_pass, setup_s, stored):
    """The gated metrics, then the per-call latency headline numbers.
    Throughput is the median over the passes of the run, so a burst of
    neighbouring load that slows one pass does not move it."""
    rows = rows_per_pass * len(res["passes"])
    pass_rates = [rows_per_pass / p["wall_s"] for p in res["passes"]]
    gated = {
        "setup_s": setup_s,
        "rows_per_s": quantile(pass_rates, 0.5),
        "cpu_us_per_row": res["cpu_s"] / rows * 1e6,
        "heap_live_mb": res["heap_live_mb"],
        "stored_bytes_per_row": stored,
    }
    headline = {
        "op_p50_s": quantile(res["ops"], 0.5),
        "op_p90_s": quantile(res["ops"], 0.9),
        "report_p50_s": quantile(res["secondary"], 0.5) if res["secondary"] else None,
    }
    return gated, headline


def check_spec():
    """BENCHMARK.json must be what spec.py describes."""
    path = os.path.join(build.REPO, "BENCHMARK.json")
    with open(path) as f:
        committed = json.load(f)
    if committed != spec.benchmark_json():
        raise SystemExit("BENCHMARK.json differs from perfbench/spec.py "
                         "(regenerate it with python3 perfbench/spec.py)")


def main():
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if args.workload not in [n for n, _ in spec.WORKLOADS]:
        raise SystemExit("unknown workload %r" % args.workload)
    check_spec()

    classes = build.build()
    started = time.time()  # the first run of a checkout builds before this
    root = os.path.join(build.build_dir(), "runs", "%s-s%d-%d-%s" % (
        args.workload, args.seed, os.getpid(), uuid.uuid4().hex[:8]))
    os.makedirs(root)

    def on_term(*_):
        raise SystemExit(1)  # unwinds through the JVM kill and the cleanup below
    signal.signal(signal.SIGTERM, on_term)
    try:
        setup_start = time.time()
        part, truth, rows_per_pass, sizes = generate(args.workload, args.seed, root)
        generated = time.time()
        manifest = {"workload": args.workload, "root": root, "cpus": nproc(),
                    "passes": pass_count(args.workload, args.seconds), "trace": bool(args.trace),
                    "run_id": "%s-s%d-%s" % (args.workload, args.seed, uuid.uuid4().hex[:8]),
                    "out": os.path.join(root, "results.json"),
                    "spans_out": os.path.join(root, "spans.json"),
                    {"fx_daily": "fx", "sql_reports": "sql", "corpus_build": "corpus",
                     "stream_replay": "stream"}[args.workload]: part}
        mpath = os.path.join(root, "manifest.json")
        with open(mpath, "w") as f:
            json.dump(manifest, f)
        run_jvm(classes, mpath, root, started + RUN_LIMIT_S, args.trace == 1)
        with open(manifest["out"]) as f:
            res = json.load(f)
        setup_s = res["setup_end_ms"] / 1000.0 - setup_start
        res["setup_phases_s"]["generate"] = generated - setup_start

        if args.workload == "fx_daily":
            found, stored = checks.fx_daily(res, truth)
        elif args.workload == "sql_reports":
            found, stored, fx_rows = checks.sql_reports(res, truth["mix"], truth["star"]["paths"])
            per_table = dict(truth["star"]["rows"], fx=fx_rows)
            rows_per_pass = sum(sum(per_table[t] for t in queries.TEMPLATES[n]["tables"])
                                for _, n, _ in truth["mix"])
        elif args.workload == "corpus_build":
            found, stored = checks.corpus_build(res, truth)
        else:
            found, stored = checks.stream_replay(res, truth)
        failures = list(res["failures"]) + ["%s: %s" % (n, d) for n, ok, d in found if not ok]
        attempted = int(res["attempted"]) + len(found)
        failed = len(failures)
        for msg in failures[:20]:
            sys.stderr.write("FAILED %s\n" % msg)

        e2e, headline = end_to_end(res, rows_per_pass, setup_s, stored)
        measured = {k: v for k, v in dict(e2e, **headline).items() if v is not None}
        env = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
               "nproc": nproc(), "xmx_mb": res["xmx_mb"], "spark": res["spark_version"],
               "jdk": res.get("java_version"), "git_commit": git_commit(),
               "build": os.path.basename(classes), "inputs": sizes,
               "passes": len(res["passes"]), "pass_wall_s": [p["wall_s"] for p in res["passes"]],
               "op_samples": len(res["ops"]), "headline": headline,
               "timed_wall_s": res["timed_wall_s"], "setup_phases_s": res["setup_phases_s"],
               "failed_share": failed / attempted}
        if args.trace:
            metrics = {}
            for name, unit, _ in spec.per_layer():
                if name.startswith("observe."):
                    # per pass: the sum over the pass's calls (these repeat exactly)
                    v = sum(c.get(name[len("observe."):], 0) for c in res["observe"][0])
                else:
                    span, counter = name.rsplit(".", 1)
                    v = res["per_span"].get(span, {}).get(counter, 0.0)
                metrics[name] = {"value": v, "unit": unit}
            trace_dir = os.path.join(build.build_dir(), "traces")
            os.makedirs(trace_dir, exist_ok=True)
            tpath = os.path.join(trace_dir, "%s-s%d-%d.json" % (args.workload, args.seed,
                                                              int(time.time())))
            with open(manifest["spans_out"]) as f:
                spans = json.load(f)
            with open(tpath, "w") as f:
                json.dump({"env": env, "per_layer": {k: v["value"] for k, v in metrics.items()},
                           "per_span": res["per_span"], "measured_traced": measured,
                           "spans": spans}, f)
            sys.stderr.write("trace written to %s\n" % tpath)
            # steady.py --traced sets these against untraced runs of the same seeds
            env["measured_traced"] = measured
            env["trace_file"] = tpath
        else:
            metrics = {n: {"value": e2e[n], "unit": u} for n, u, _, _ in spec.END_TO_END}
        print(json.dumps({"env": env}))
        print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                          "metrics": metrics}))
    finally:
        shutil.rmtree(root, ignore_errors=True)


if __name__ == "__main__":
    main()
