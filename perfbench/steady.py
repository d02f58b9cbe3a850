#!/usr/bin/env python3
"""Steadiness check: run workloads repeatedly, one seed per run, and report
per metric the median, the quartiles and the spread (interquartile range
as a share of the median, quartiles as Python's statistics.quantiles(n=4)
gives them) against the metric's bound. The per-call latency headline numbers
of the environment stamp are summarized the same way, without a bound.

    python3 perfbench/steady.py --runs 10 --seconds 10
    python3 perfbench/steady.py --workloads fx_daily --runs 5 --first-seed 100
    python3 perfbench/steady.py --runs 5 --traced   # also the tracing overhead

With --traced every seed also runs traced, and the overhead is reported as
the traced median minus the untraced median of each metric.
Runs go one after another, never concurrently. The summary is also written
as JSON to <build dir>/steady-<time>.json.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import spec  # noqa: E402


def one(workload, seed, seconds, trace):
    t0 = time.time()
    r = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
                       stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    wall = time.time() - t0
    lines = r.stdout.strip().splitlines()
    if r.returncode != 0 or not lines:
        sys.stderr.write(r.stderr[-3000:])
        raise SystemExit("%s seed %d: run failed (exit %d)" % (workload, seed, r.returncode))
    env = json.loads(lines[-2])["env"]
    res = json.loads(lines[-1])
    if res["failed"]:
        sys.stderr.write("%s seed %d:\n%s" % (workload, seed, "".join(
            l + "\n" for l in r.stderr.splitlines() if l.startswith("FAILED"))))
    return res, env, wall


def summarize(values):
    med = statistics.median(values)
    q1, _, q3 = statistics.quantiles(values, n=4)
    return {"median": med, "q1": q1, "q3": q3,
            "spread": (q3 - q1) / med if med else float("inf")}


def main():
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workloads", default=",".join(n for n, _ in spec.WORKLOADS))
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=spec.RUN_SECONDS)
    ap.add_argument("--traced", action="store_true")
    args = ap.parse_args()
    bounds = {n: b for n, _, _, b in spec.END_TO_END}
    bounds.update({n: None for n in spec.HEADLINE})
    report = {}
    for w in args.workloads.split(","):
        vals = {n: [] for n in bounds}
        traced = {n: [] for n in bounds}
        walls, failed = [], 0
        for k in range(args.runs):
            seed = args.first_seed + k
            res, env, wall = one(w, seed, args.seconds, 0)
            walls.append(wall)
            failed += res["failed"]
            for n in bounds:
                v = res["metrics"][n]["value"] if n in res["metrics"] else env["headline"][n]
                if v is not None:
                    vals[n].append(v)
            if args.traced:
                tres, env, wall = one(w, seed, args.seconds, 1)
                walls.append(wall)
                failed += tres["failed"]
                for n in bounds:
                    if n in env["measured_traced"]:
                        traced[n].append(env["measured_traced"][n])
        rep = {"runs": args.runs, "failed": failed,
               "run_wall_s": summarize(walls) | {"max": max(walls)}, "metrics": {}}
        print("%s: %d runs, %d failed, run wall median %.1f s (max %.1f s)"
              % (w, args.runs, failed, rep["run_wall_s"]["median"], max(walls)))
        for n, b in bounds.items():
            if len(vals[n]) < 2:
                continue  # a headline number this workload does not have
            s = summarize(vals[n]) | {"bound": b, "values": vals[n]}
            if b is None:
                flag = "  (headline, not gated)"
            elif n == "setup_s" or s["spread"] <= b / 3:
                flag = "  (bound %.2f)" % b
            else:
                flag = "  (bound %.2f) %s" % (b, "WITHIN BOUND" if s["spread"] <= b else "OVER BOUND")
            line = "  %-22s median %-12.6g q1 %-12.6g q3 %-12.6g spread %.3f%s" % (
                n, s["median"], s["q1"], s["q3"], s["spread"], flag)
            if args.traced and traced[n]:
                s["traced_median"] = statistics.median(traced[n])
                s["tracing_overhead"] = s["traced_median"] - s["median"]
                line += "  traced-untraced %+.6g" % s["tracing_overhead"]
            rep["metrics"][n] = s
            print(line)
        report[w] = rep
        sys.stdout.flush()
    out = os.path.join(build.build_dir(), "steady-%d.json" % int(time.time()))
    os.makedirs(os.path.dirname(out), exist_ok=True)
    with open(out, "w") as f:
        json.dump({"seconds": args.seconds, "first_seed": args.first_seed, "report": report}, f,
                  indent=1)
    print("summary written to %s" % out)


if __name__ == "__main__":
    main()
