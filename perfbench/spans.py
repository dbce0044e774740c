"""The traced run: spans around the calls into each layer, py4j round
trips, and Spark stage/task totals from a local event log.

Spans are recorded from the benchmark's side only. ``Tracer.install``
replaces the public functions of each layer module with wrappers, so a
call through the module attribute (the benchmark's own calls, and a
layer's calls into another layer that resolve the attribute at call
time) opens a span. A name another module bound at import time stays
unwrapped, and its time counts as the caller's self time. Spans are
kept in memory and summarised once, after the measured window; only
spans inside a timed op are kept.
"""

from __future__ import annotations

import functools
import glob
import importlib
import json
import os
import statistics
import time
from contextlib import contextmanager

# layer -> (module, public functions wrapped)
LAYERS = {
    "table": ("nimble_spark.sources.table", ("read_table", "read_manifest", "write_table", "verify_table")),
    "bloom": ("nimble_spark.sources.bloom", ("bloom_prune_files",)),
    "serde": ("nimble_spark.sources.serde", ("serve_lookups",)),
    "merge": ("nimble_spark.sources.merge", ("merge_into",)),
    "deletes": ("nimble_spark.sources.deletes", ("delete_rows", "read_with_deletes")),
    "compaction": ("nimble_spark.sources.compaction", ("compact_table", "vacuum_table")),
}
# self-time buckets: the layers above, the operators' constructors,
# Spark actions the benchmark triggers, and the op time no span covers
SELF_LAYERS = tuple(LAYERS) + ("operators", "spark", "other")


class Span:
    __slots__ = ("name", "layer", "op", "parent", "t0", "t1", "py4j", "attrs", "child_s")

    def __init__(self, name, layer, op, parent, t0, py4j):
        self.name, self.layer, self.op, self.parent = name, layer, op, parent
        self.t0, self.py4j, self.t1 = t0, py4j, None
        self.attrs: dict = {}
        self.child_s = 0.0

    @property
    def dur(self) -> float:
        return self.t1 - self.t0

    @property
    def self_s(self) -> float:
        return self.dur - self.child_s


class NullTracer:
    """Untraced run: every hook is a no-op."""

    enabled = False

    def begin_op(self, op_id, kind):
        pass

    def end_op(self):
        pass

    @contextmanager
    def span(self, name, layer):
        yield None


class Tracer:
    enabled = True

    def __init__(self, spark) -> None:
        self.spans: list[Span] = []
        self.stack: list[Span] = []
        self.op: str | None = None
        self.py4j = 0
        client = spark.sparkContext._gateway._gateway_client
        send = client.send_command

        def counted(*args, **kwargs):
            self.py4j += 1
            return send(*args, **kwargs)

        client.send_command = counted

    # -- spans ---------------------------------------------------------
    def begin_op(self, op_id: str, kind: str) -> None:
        self.op = op_id
        self._open(kind, "op")

    def end_op(self) -> None:
        while self.stack:
            self._close()
        self.op = None

    def _open(self, name: str, layer: str) -> Span:
        parent = self.stack[-1] if self.stack else None
        s = Span(name, layer, self.op, parent, time.perf_counter(), self.py4j)
        self.stack.append(s)
        return s

    def _close(self) -> Span:
        s = self.stack.pop()
        s.t1 = time.perf_counter()
        s.py4j = self.py4j - s.py4j
        if s.parent is not None:
            s.parent.child_s += s.dur
        self.spans.append(s)
        return s

    @contextmanager
    def span(self, name: str, layer: str):
        if self.op is None:
            yield None
            return
        s = self._open(name, layer)
        try:
            yield s
        finally:
            # a span closes even when the call raised; ops left open by
            # an exception are closed by end_op
            if self.stack and self.stack[-1] is s:
                self._close()

    def install(self) -> None:
        for layer, (modname, names) in LAYERS.items():
            mod = importlib.import_module(modname)
            for name in names:
                setattr(mod, name, self._wrapped(getattr(mod, name), name, layer))

    def _wrapped(self, fn, name: str, layer: str):
        @functools.wraps(fn)
        def inner(*args, **kwargs):
            with self.span(name, layer) as s:
                out = fn(*args, **kwargs)
                if s is not None and name == "bloom_prune_files" and out is not None:
                    s.attrs["kept"] = len(out)
                    s.attrs["files"] = len(args[1]["files"])
                return out

        return inner

    def take(self) -> list[Span]:
        """Hand over the spans recorded so far and start a fresh list."""
        spans, self.spans = self.spans, []
        return spans


def named(spans: list[Span], name: str) -> list[Span]:
    return [s for s in spans if s.name == name]


def median_of(xs: list[float]) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def self_time(spans: list[Span], passes: float) -> dict[str, float]:
    """Self time per layer for one pass: a span's duration
    minus the time its child spans cover. The op span's own self time
    is the part of an op no layer span covers ("other")."""
    out = {k: 0.0 for k in SELF_LAYERS}
    for s in spans:
        out["other" if s.layer == "op" else s.layer] += s.self_s
    return {f"self_s.{k}": v / passes if passes else 0.0 for k, v in out.items()}


# ---------------------------------------------------------------------------
# Spark event log
# ---------------------------------------------------------------------------

def read_event_log(log_dir: str) -> list[dict]:
    """Events of the (stopped) application's event log."""
    files = [p for p in glob.glob(os.path.join(log_dir, "*")) if not p.endswith(".inprogress")]
    if len(files) != 1:
        raise RuntimeError(f"expected one finished event log in {log_dir}, found {files}")
    with open(files[0]) as f:
        return [json.loads(line) for line in f if line.strip()]


def op_group(tag: str, kind: str, n: int) -> str:
    """Job group (and span op id) of a timed op."""
    return f"op:{tag}:{kind}:{n}"


def group_kind(group: str) -> str:
    return group.split(":")[2]


def _timed_in(group: str | None, tag: str) -> bool:
    return bool(group) and group.startswith(f"op:{tag}:")


def spark_totals(events: list[dict], tag: str, n_ops: int) -> dict[str, float]:
    """Stage and task totals over the timed ops of run ``tag``, per op
    (tasks' p50/max over every task). Stages reach an op through their
    job's group."""
    stage_group: dict[int, str] = {}
    for e in events:
        if e["Event"] == "SparkListenerJobStart":
            g = (e.get("Properties") or {}).get("spark.jobGroup.id")
            for sid in e.get("Stage IDs", []):
                stage_group[sid] = g
    stages = wall = 0.0
    task_s: list[float] = []
    shuffle_r = shuffle_w = spill = 0
    for e in events:
        ev = e["Event"]
        if ev == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            if _timed_in(stage_group.get(info["Stage ID"]), tag) and "Completion Time" in info:
                stages += 1
                wall += (info["Completion Time"] - info["Submission Time"]) / 1000.0
        elif ev == "SparkListenerTaskEnd":
            if not _timed_in(stage_group.get(e["Stage ID"]), tag):
                continue
            ti = e["Task Info"]
            task_s.append((ti["Finish Time"] - ti["Launch Time"]) / 1000.0)
            tm = e.get("Task Metrics") or {}
            sr = tm.get("Shuffle Read Metrics") or {}
            shuffle_r += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            shuffle_w += (tm.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
            spill += tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0)
    per = max(n_ops, 1)
    return {
        "spark.stages": stages / per,
        "spark.tasks": len(task_s) / per,
        "spark.stage_wall_s": wall / per,
        "spark.task_p50_s": statistics.median(task_s) if task_s else 0.0,
        "spark.task_max_s": max(task_s) if task_s else 0.0,
        "spark.shuffle_read_bytes": shuffle_r / per,
        "spark.shuffle_write_bytes": shuffle_w / per,
        "spark.spill_bytes": spill / per,
    }


def _metric_ids(node: dict, name: str) -> list[int]:
    return [m["accumulatorId"] for m in node.get("metrics", []) if m["name"] == name]


def _rows_into(node: dict) -> list[int]:
    """Row-count accumulator of what a node consumes: the first node
    down its first-child chain that counts output rows."""
    child = node["children"][0] if node.get("children") else None
    while child is not None:
        ids = _metric_ids(child, "number of output rows")
        if ids:
            return ids
        child = child["children"][0] if child.get("children") else None
    return []


def _verify_node(plan: dict) -> dict | None:
    """The verify step: breadth first from the root, the first Filter or
    join whose condition is a ``>=`` similarity threshold. The optimizer
    folds the near-dup operators' threshold filter into the join that
    attaches the second side's features, so it is usually a join."""
    queue = [plan]
    while queue:
        cur = queue.pop(0)
        name = cur.get("nodeName", "")
        if (name == "Filter" or name.endswith("Join")) and " >= " in cur.get("simpleString", ""):
            return cur
        queue.extend(cur.get("children", []))
    return None


def verified_fracs(events: list[dict], tag: str) -> dict[str, list[float]]:
    """Rows out of the verify filter / rows into it, per SQL execution
    of a timed op of run ``tag`` (keyed by op kind), from the final
    (adaptive) plan and its accumulators."""
    exec_group: dict[int, str] = {}
    plans: dict[int, dict] = {}
    acc: dict[int, int] = {}
    for e in events:
        ev = e["Event"]
        if ev == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            xid = props.get("spark.sql.execution.id")
            if xid is not None and _timed_in(props.get("spark.jobGroup.id"), tag):
                exec_group[int(xid)] = props["spark.jobGroup.id"]
        elif ev.endswith("SparkListenerSQLExecutionStart") or ev.endswith(
            "SparkListenerSQLAdaptiveExecutionUpdate"
        ):
            plans[e["executionId"]] = e["sparkPlanInfo"]
        elif ev == "SparkListenerStageCompleted":
            for a in e["Stage Info"].get("Accumulables", []):
                try:
                    acc[a["ID"]] = max(acc.get(a["ID"], 0), int(a["Value"]))
                except (TypeError, ValueError):
                    pass
    out: dict[str, list[float]] = {}
    for xid, group in exec_group.items():
        f = _verify_node(plans.get(xid, {}))
        if f is None:
            continue
        out_ids, in_ids = _metric_ids(f, "number of output rows"), _rows_into(f)
        if not out_ids or not in_ids:
            continue
        rows_in = acc.get(in_ids[0], 0)
        if rows_in:
            out.setdefault(group_kind(group), []).append(acc.get(out_ids[0], 0) / rows_in)
    return out
