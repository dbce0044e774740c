"""The benchmark's own test: the tiny size runs all three workloads,
their output checks and the traced summaries in one session.

    python3 -m pytest perfbench/test_perfbench.py -q   (from the repo root)
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def run(*args: str) -> dict:
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "all", "--size", "tiny",
         "--seed", "5", "--seconds", "1", *args],
        cwd=ROOT, capture_output=True, text=True, timeout=170,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    return json.loads(out.stdout.splitlines()[-1])


def spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_tiny_untraced_reports_every_end_to_end_metric():
    res = run("--trace", "0")
    assert res["correct"] and res["failed"] == 0 and res["attempted"] > 0
    names = {f"{w['name']}.{m['name']}" for w in spec()["workloads"] for m in spec()["end_to_end"]}
    assert set(res["metrics"]) == names
    assert all(m["value"] > 0 for m in res["metrics"].values())


def test_tiny_traced_reports_every_per_layer_metric():
    res = run("--trace", "1")
    assert res["correct"]
    names = {f"{w['name']}.{m['name']}" for w in spec()["workloads"] for m in spec()["per_layer"]}
    assert set(res["metrics"]) == names
    m = {k: v["value"] for k, v in res["metrics"].items()}
    # each workload puts its work on its own layers
    assert m["serve.bloom_prune_files.py4j_calls"] > 0 and m["serve.merge_into.s"] == 0
    assert m["churn.merge_into.s"] > 0 and m["churn.write_table.files_added"] > 0
    assert m["neardup.q_minhash_lsh_pairs.exec_s"] > 0 and m["neardup.read_table.construct_s"] == 0
    assert m["neardup.spark.stages"] > 0
    # the verify step was found in each plan, and some candidates passed it
    from neardup import VERIFIED

    for q in VERIFIED:
        assert 0 < m[f"neardup.{q}.verified_frac"] <= 1, q


def test_refuses_to_run_without_the_program(tmp_path):
    """Outside a checkout (no nimble_spark/ package) it exits non-zero
    without printing a result."""
    out = subprocess.run(
        [sys.executable, os.path.join(ROOT, "perfbench", "run.py"), "--workload", "serve",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60,
    )
    assert out.returncode != 0 and out.stdout == ""
