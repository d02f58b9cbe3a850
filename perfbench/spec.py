"""What the benchmark reports: the end-to-end metrics of the untraced run
and the per-layer metrics of the traced run. BENCHMARK.json at the root
of the repository lists the same names; `python3 perfbench/spec.py`
prints the JSON it is written from."""
import json

WORKLOADS = [
    ("fx_daily", "the reference DAGs: many small ingest and report jobs over a table "
                 "that grows, so driver, sources and file listing dominate"),
    ("sql_reports", "short BigQuery-dialect reports and star joins, so the dialect "
                    "rewrite, Catalyst and scans dominate"),
    ("corpus_build", "CorpusPipeline over a one-row-group crawl drop, so regex map work, "
                     "the MinHash shuffle and scan parallelism dominate"),
    ("stream_replay", "micro-batches through the state-store dedup and the foreachBatch "
                      "MERGE, so WAL, offset and state commits dominate"),
]

# name, unit, better, bound (share of the parent's median). Only metrics
# whose run-to-run spread stays inside the bound on a shared 4-core box are
# gated; per-call latency quantiles rest on too few calls per run and are
# reported in the run's environment stamp instead.
END_TO_END = [
    ("setup_s", "s", "lower", 0.25),
    ("rows_per_s", "rows/s", "higher", 0.25),
    ("cpu_us_per_row", "us", "lower", 0.25),
    ("heap_live_mb", "MB", "lower", 0.2),
    ("stored_bytes_per_row", "B", "lower", 0.1),
]

# per-call latency headline numbers, in the stamp of every untraced run
HEADLINE = ["op_p50_s", "op_p90_s", "report_p50_s"]

COMMON = ["wall_s", "self_s", "driver_s", "jobs", "tasks", "cpu_s", "gc_s",
          "shuffle_bytes", "max_task_share"]
IO = ["in_records", "in_bytes", "out_bytes", "out_files", "fs_ops"]
PHASES = ["addBatch_s", "queryPlanning_s", "walCommit_s", "commitOffsets_s", "latestOffset_s"]

SPANS = [
    ("GraftSession.local", ["wall_s"]),
    ("FxPipeline.ingestJson", COMMON + IO + ["plan_s"]),
    ("FxPipeline.report", COMMON + IO + ["plan_s"]),
    ("FxPipeline.backfill", ["wall_s", "jobs", "out_files"]),
    ("GraftSql.load", ["wall_s", "plan_s"]),
    ("sql.execute", COMMON + ["in_bytes", "fs_ops", "plan_s"]),
    ("CorpusPipeline.filterAndClean", COMMON + ["in_bytes", "plan_s"]),
    ("CorpusPipeline.dedup", ["wall_s"]),
    ("CorpusPipeline.mixAndPack", COMMON + ["out_bytes", "out_files", "plan_s"]),
    ("Replay.writeSlices", ["wall_s", "out_files"]),
    ("EventStream.dedupStream", COMMON + ["fs_ops"] + PHASES +
     ["state_rows", "state_bytes", "state_commit_s"]),
    ("EventStream.mergeSink", COMMON + ["fs_ops", "out_files"] + PHASES),
]

OBSERVE = ["fx_ingest.batch_rows", "fx_report.report_rows", "corpus_in.docs_in",
           "corpus_filtered.docs_kept", "corpus_deduped.docs_surviving",
           "corpus_mixed.docs_selected"]


def unit(counter):
    if counter.endswith("_s"):
        return "s"
    if counter.endswith("_bytes"):
        return "B"
    if counter == "max_task_share":
        return "ratio"
    return "count"


def per_layer():
    out = [("%s.%s" % (s, c), unit(c), "lower") for s, cs in SPANS for c in cs]
    out += [("observe." + o, "count", "higher") for o in OBSERVE]
    return out


def benchmark_json():
    return {
        "command": ["python3", "perfbench/run.py"],
        "paths": ["perfbench"],
        "run_seconds": RUN_SECONDS,
        "workloads": [{"name": n, "why": w} for n, w in WORKLOADS],
        "end_to_end": [{"name": n, "unit": u, "better": b, "bound": x}
                       for n, u, b, x in END_TO_END],
        "per_layer": [{"name": n, "unit": u, "better": b} for n, u, b in per_layer()],
    }


RUN_SECONDS = 10

if __name__ == "__main__":
    print(json.dumps(benchmark_json(), indent=2))
