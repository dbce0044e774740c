"""The repository benchmark.

    python3 perfbench/run.py --workload {serve,churn,neardup} --seed N \\
        --seconds S --trace {0,1} [--size {normal,tiny}]

Run from the repository root. Inputs are generated from ``--seed``;
everything the run writes stays under ``.bench_work/`` and is removed
at the end. One worker process per run (perfbench/worker.py) measures
the workload on ``local[N]``, N = min(4, cpus); its stderr is the
driver log, whose ERROR lines are counted here.

Output: a human-readable report, one ``report:`` JSON line with every
figure (host stamps, per-op-kind samples, set-up breakdown), and as the
last line the result object ``{"correct", "attempted", "failed",
"metrics"}``: with ``--trace 0`` the end-to-end metrics of
BENCHMARK.json, with ``--trace 1`` its per-layer metrics.
``--workload all`` (tiny size only) runs the three workloads in one
session, for the benchmark's own tests.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import re
import shlex
import shutil
import signal
import subprocess
import sys
import time

from common import descendants

HERE = os.path.dirname(os.path.abspath(__file__))
WORKER_TIMEOUT_S = 170
ERROR_LINE = re.compile(r"^\S+ \S+ ERROR ")
PR_SET_CHILD_SUBREAPER = 36


def spec() -> dict:
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        return json.load(f)


def unit_of(name: str) -> str:
    for suffix, unit in (("_mb_s", "MB/s"), ("_per_s", "1/s"), ("_s", "s"), ("_mb", "MB")):
        if name.endswith(suffix):
            return unit
    return "ratio"


def reap() -> None:
    """Stop whatever the worker left running and wait until it is gone.
    As a child subreaper this process inherits the worker's orphans
    (the JVM, Spark's Python daemon and workers), so it can wait for
    every one of them."""
    for sig in (signal.SIGTERM, signal.SIGKILL):
        for pid in descendants(os.getpid()):
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        deadline = time.time() + 10
        while time.time() < deadline:
            try:
                while os.waitpid(-1, os.WNOHANG)[0] > 0:
                    pass
            except ChildProcessError:
                pass
            if not descendants(os.getpid()):
                return
            time.sleep(0.1)


def run_worker(args, work: str, root: str) -> tuple[int, str]:
    os.makedirs(os.path.join(work, "tmp"))
    os.makedirs(os.path.join(work, "spark-local"))
    # -Xms: a fixed heap (see README); -XX:-UsePerfData: no
    # /tmp/hsperfdata file, so nothing is written outside the checkout
    heap = "2g" if args.size == "normal" else "1g"
    jvm_opts = f"-Djava.io.tmpdir={work}/tmp -Xms{heap} -XX:-UsePerfData"
    conf = [
        "--conf", "spark.ui.showConsoleProgress=false",
        "--conf", f"spark.driver.extraJavaOptions={jvm_opts}",
    ]
    event_log = os.path.join(work, "eventlog")
    if args.trace:
        os.makedirs(event_log)
        os.makedirs(os.path.join(root, ".bench_traces"), exist_ok=True)
        conf += ["--conf", "spark.eventLog.enabled=true", "--conf", "spark.eventLog.rolling.enabled=false",
                 "--conf", "spark.eventLog.compress=false",
                 "--conf", f"spark.eventLog.dir=file://{event_log}"]
    env = dict(
        os.environ,
        PYTHONPATH=os.pathsep.join([root, HERE]),
        SPARK_GRAFT_CPUS=str(min(4, os.cpu_count() or 1)),
        SPARK_GRAFT_DRIVER_MEM=heap,
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        TMPDIR=os.path.join(work, "tmp"),
        SPARK_LAUNCHER_OPTS="-XX:-UsePerfData",
        PYSPARK_SUBMIT_ARGS=shlex.join(conf + ["pyspark-shell"]),
    )
    log = os.path.join(work, "driver.log")
    cmd = [
        sys.executable, os.path.join(HERE, "worker.py"),
        "--workload", args.workload, "--seed", str(args.seed), "--seconds", str(args.seconds),
        "--trace", str(args.trace), "--size", args.size, "--work", work,
        "--result", os.path.join(work, "result.json"), "--event-log", event_log,
        "--spans", os.path.join(root, ".bench_traces", f"{args.workload}-{args.seed}.jsonl"),
    ]
    with open(log, "w") as err:
        proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=err, stderr=err)
        try:
            code = proc.wait(timeout=WORKER_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            code = -1
            print(f"worker timed out after {WORKER_TIMEOUT_S} s", file=sys.stderr)
        finally:
            reap()
    return code, log


def fmt(v) -> str:
    return "n/a" if v is None else f"{v:.6g}"


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=("serve", "churn", "neardup", "all"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--size", choices=("normal", "tiny"), default="normal")
    args = ap.parse_args()
    if args.workload == "all" and args.size != "tiny":
        ap.error("--workload all is for --size tiny")

    # a terminated run still stops its worker (see run_worker's finally),
    # and the worker's orphans are reparented here (see reap)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "nimble_spark", "__init__.py")):
        print("run from the repository root: no nimble_spark/ package here", file=sys.stderr)
        return 2
    bench = spec()
    work = os.path.join(root, ".bench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    try:
        code, log = run_worker(args, work, root)
        with open(log) as f:
            lines = f.read().splitlines()
        if code != 0:
            print("\n".join(lines[-60:]), file=sys.stderr)
            print(f"worker exited with {code}", file=sys.stderr)
            return 1
        with open(os.path.join(work, "result.json")) as f:
            result = json.load(f)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass

    error_lines = sum(1 for line in lines if ERROR_LINE.match(line))
    host = result["host"]
    print(f"host: {host}")
    attempted = failed = 0
    metrics: dict = {}
    for r in result["runs"]:
        w = r["workload"]
        attempted += r["attempted"]
        failed += r["failed"]
        print(f"== {w}  seed={args.seed} seconds={args.seconds} trace={args.trace} "
              f"ops={r['summary']['ops']} failed={r['failed']}/{r['attempted']} "
              f"failed_ops_frac={r['failed'] / r['attempted']:.4g} driver ERROR lines={error_lines}")
        for k, v in list(r["e2e"].items()) + list(r["report"].items()):
            print(f"  {k:24s} {fmt(v):>12s} {unit_of(k)}")
        for kind, s in r["summary"]["per_kind"].items():
            print(f"  op {kind:22s} n={s['n']:<4d} p50={fmt(s['p50_s'])} s p90={fmt(s['p90_s'])} s "
                  f"cpu p50={fmt(s['cpu_p50_s'])} s")
        r["report"]["failed_ops_frac"] = r["failed"] / r["attempted"]
        if args.trace:
            r["layers"]["driver.error_lines"] = float(error_lines)
            for k, v in sorted(r["layers"].items()):
                print(f"  layer {k:52s} {fmt(v)}")
        prefix = f"{w}." if args.workload == "all" else ""
        wanted = bench["per_layer"] if args.trace else bench["end_to_end"]
        source = r["layers"] if args.trace else r["e2e"]
        for m in wanted:
            metrics[prefix + m["name"]] = {"value": source[m["name"]], "unit": m["unit"]}
    print("report: " + json.dumps({"seed": args.seed, "driver_error_lines": error_lines, **result}))
    correct = failed == 0 and all(
        isinstance(m["value"], (int, float)) for m in metrics.values())
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
