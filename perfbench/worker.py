"""One measured run of one workload, in its own process (started by
run.py, whose stderr capture is the driver log). Writes its result as
JSON to ``--result``."""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import sys
import time

from common import HostStamp, Loop, median, peak_rss_mb, tree_cpu_s
from spans import (
    SELF_LAYERS,
    NullTracer,
    Tracer,
    group_kind,
    median_of,
    named,
    read_event_log,
    self_time,
    spark_totals,
    verified_fracs,
)

WORKLOADS = ("serve", "churn", "neardup")
SPANNED = (  # (metric prefix, span name)
    ("read_table.construct_s", "read_table"),
    ("read_manifest.s", "read_manifest"),
    ("serve_lookups.construct_s", "serve_lookups"),
    ("write_table.s", "write_table"),
    ("merge_into.s", "merge_into"),
    ("delete_rows.s", "delete_rows"),
    ("compact_table.s", "compact_table"),
    ("vacuum_table.s", "vacuum_table"),
)


def workload(name: str, spark, tracer, seed: int, size: str, work: str):
    if name == "serve":
        from serve import Serve as cls
    elif name == "churn":
        from churn import Churn as cls
    else:
        from neardup import NearDup as cls
    return cls(spark, tracer, seed, size, work)


def layer_metrics(run: dict, events: list[dict]) -> dict:
    """Every per-layer metric of one run; a layer the workload leaves
    idle reads 0."""
    from neardup import QUERIES, VERIFIED

    spans, tag = run["spans"], run["workload"]
    out: dict[str, float] = {}
    for metric, span in SPANNED:
        out[metric] = median_of([s.dur for s in named(spans, span)])
    out["read_table.py4j_calls"] = median_of([s.py4j for s in named(spans, "read_table")])
    # bloom_prune_files declines at once for a key without a bloom index;
    # its figures are over the calls that probed
    probes = [s for s in named(spans, "bloom_prune_files") if "files" in s.attrs]
    out["bloom_prune_files.s"] = median_of([s.dur for s in probes])
    out["bloom_prune_files.py4j_calls"] = median_of([s.py4j for s in probes])
    out["bloom.files_kept_frac"] = median_of([s.attrs["kept"] / s.attrs["files"] for s in probes])

    def exec_of(*kinds) -> float:
        return median_of([s.dur for s in named(spans, "exec") if group_kind(s.op) in kinds])

    out["scan.exec_s"] = exec_of("point", "range")
    out["serve_lookups.exec_s"] = exec_of("batch")
    fracs = verified_fracs(events, tag)
    for q in QUERIES:
        cons = named(spans, q + ".construct")
        out[f"{q}.construct_s"] = median_of([s.dur for s in cons])
        out[f"{q}.py4j_calls"] = median_of([s.py4j for s in cons])
        out[f"{q}.exec_s"] = exec_of(q)
        if q in VERIFIED:
            # an operator that ran but whose verify step was not found in
            # its plan reads as missing (the result is then not correct),
            # never as a ratio
            ran = any(group_kind(s.op) == q for s in spans)
            out[f"{q}.verified_frac"] = median_of(fracs[q]) if fracs.get(q) else (None if ran else 0.0)
    out.update(run["wl"].layers())
    if "write_table.data_s" in out:
        # the writer stamps its data and manifest phase walls; publish
        # is the rest of the call
        out["write_table.publish_s"] = max(
            0.0, out["write_table.s"] - out["write_table.data_s"] - out["write_table.manifest_s"])
    out.update(spark_totals(events, tag, run["ops"]))
    out.update(self_time(spans, run["n_passes"]))
    for name in LAYER_DEFAULTS:
        out.setdefault(name, 0.0)
    return out


LAYER_DEFAULTS = (
    "scan.files_read_frac", "scan.rows_read_per_row_returned", "scan.bytes_read",
    "serve.rows_per_request", "write_table.data_s", "write_table.manifest_s",
    "write_table.publish_s", "write_table.files_added", "write_table.bytes_added",
    "merge_into.files_rewritten", "merge_into.bytes_rewritten_per_source_byte",
    "deletes.pending_batches", "compact_table.files_before", "compact_table.files_after",
    "compact_table.bytes_rewritten", "vacuum_table.files_removed",
    "q_minhash_lsh_pairs.output_rows", "q_ngram_jaccard_pairs.output_rows",
    "q_embedding_neardup_lsh.output_rows", "q_incremental_dedup.output_rows",
    "q_semantic_dedup.output_rows",
) + tuple(f"self_s.{k}" for k in SELF_LAYERS)


def write_spans(path: str, runs: list[dict]) -> None:
    """Every span of the measured ops, one JSON object a line."""
    with open(path, "w") as f:
        for r in runs:
            ids = {id(s): i for i, s in enumerate(r["spans"])}
            for i, s in enumerate(r["spans"]):
                f.write(json.dumps({
                    "id": i, "parent": ids.get(id(s.parent)), "op": s.op, "name": s.name,
                    "layer": s.layer, "start_s": s.t0, "end_s": s.t1, "py4j": s.py4j, **s.attrs,
                }) + "\n")


def live_heap_mb(spark) -> float:
    """MB of JVM heap still in use right after a full collection: what
    the run keeps live, which the fixed heap size does not hide. Python
    collects first, so py4j releases the JVM objects of dead Python
    proxies; Spark's cleaner threads release shuffle and broadcast state
    only after a collection found them unreachable, so the collections
    repeat with a pause between. (A single collection read 89-152 MB on
    churn seeds that all settle at about 71 MB this way.)"""
    jvm = spark.sparkContext._jvm
    for _ in range(2):
        gc.collect()
        jvm.java.lang.System.gc()
        time.sleep(1.0)
    jvm.java.lang.System.gc()
    return jvm.java.lang.management.ManagementFactory.getMemoryMXBean().getHeapMemoryUsage().getUsed() / 2**20


def run_one(name: str, args, spark, session_s: float, tracer) -> dict:
    work = os.path.join(args.work, name)
    wl = workload(name, spark, tracer, args.seed, args.size, work)
    tiny = args.size == "tiny"
    reps = []
    for i in range(1 if tiny else wl.setup_reps):
        rep_dir = os.path.join(work, f"setup{i}")
        os.makedirs(rep_dir)
        t0 = time.perf_counter()
        wl.setup(rep_dir)
        reps.append(time.perf_counter() - t0)
        if i:
            shutil.rmtree(os.path.join(work, f"setup{i - 1}"))
    wl.prepare()
    warm = Loop(spark, tracer, 0, name + "-warmup", warm=True)
    t0 = time.perf_counter()
    if not tiny or wl.warmup_checks:  # the tiny size is for tests: no repeated set-up, no warm-up
        wl.warmup(warm)
    warm_s = time.perf_counter() - t0

    loop = Loop(spark, tracer, args.seconds, name)
    loop.start()
    passes = []  # wall and CPU seconds of each pass, checks included
    while True:  # whole passes, at least one
        t0, c0 = time.perf_counter(), tree_cpu_s(os.getpid())
        wl.cycle(loop)
        passes.append({"wall_s": time.perf_counter() - t0, "cpu_s": tree_cpu_s(os.getpid()) - c0,
                       "live_heap_mb": live_heap_mb(spark)})
        if loop.expired():
            break
    summary = loop.summary(wl.kinds)
    wl.finish(loop)
    spans = [s for s in tracer.take() if s.op.startswith(f"op:{name}:")] if tracer.enabled else []
    return {
        "workload": name,
        "wl": wl,
        "spans": spans,
        "n_passes": len(passes),
        "ops": loop.attempted,
        "e2e": {
            "setup_s": session_s + median(reps) + warm_s,
            "pass_cpu_s": summary["pass_cpu_s"],
            "pass_s": summary["pass_s"],
            # after the first pass: the work before it is the same in
            # every run, however many passes the window then holds
            "jvm_live_heap_mb": passes[0]["live_heap_mb"],
        },
        "setup": {"session_s": session_s, "build_s": reps, "warmup_s": warm_s},
        "passes": passes,
        "report": wl.report(loop.lat),
        "summary": summary,
        "attempted": loop.attempted + warm.attempted,
        "failed": loop.failed + warm.failed,
        "wrong": loop.wrong + warm.wrong,
    }


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--size", choices=("normal", "tiny"), required=True)
    ap.add_argument("--work", required=True)
    ap.add_argument("--result", required=True)
    ap.add_argument("--event-log", default=None)
    ap.add_argument("--spans", default=None)
    args = ap.parse_args()
    names = WORKLOADS if args.workload == "all" else (args.workload,)

    import nimble_spark
    from nimble_spark.session import get_spark
    from nimble_spark.sources import cache

    root = os.path.dirname(os.path.dirname(os.path.abspath(nimble_spark.__file__)))
    print(f"nimble_spark from {root}", file=sys.stderr)
    # fixture builds (if any operator asks for one) stay in the work dir
    cache.CACHE_ROOT = os.path.join(args.work, "table_cache")

    host = HostStamp()
    t0 = time.perf_counter()
    spark = get_spark("perfbench")
    session_s = time.perf_counter() - t0
    spark.sparkContext.setJobGroup("untimed", "untimed")
    tracer = Tracer(spark) if args.trace else NullTracer()
    if args.trace:
        tracer.install()

    runs = [run_one(n, args, spark, session_s, tracer) for n in names]
    jvm = spark.sparkContext._gateway.proc  # the JVM this process launched
    rss = peak_rss_mb([os.getpid(), jvm.pid])
    py_rss = peak_rss_mb([os.getpid()])
    spark.stop()
    # the JVM exits when its stdin closes; wait until it has
    jvm.stdin.close()
    jvm.wait(timeout=60)

    events = read_event_log(args.event_log) if args.trace else []
    if args.trace:
        write_spans(args.spans, runs)
    out = {"host": host.finish(), "runs": []}
    for r in runs:
        e2e = dict(r["e2e"], py_peak_rss_mb=py_rss, peak_rss_mb=rss)
        entry = {k: r[k] for k in ("workload", "setup", "passes", "report", "summary",
                                   "attempted", "failed", "wrong")}
        entry["e2e"] = e2e
        if args.trace:
            entry["layers"] = layer_metrics(r, events)
        out["runs"].append(entry)
    with open(args.result, "w") as f:
        json.dump(out, f)
    return 0


if __name__ == "__main__":
    sys.exit(main())
