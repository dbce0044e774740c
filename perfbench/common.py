"""Shared pieces of the benchmark: the closed-loop op runner, summary
statistics, host stamps, memory, and raw-byte accounting."""

from __future__ import annotations

import os
import statistics
import sys
import time
import traceback


def median(xs: list[float]) -> float | None:
    return statistics.median(xs) if xs else None


def p90(xs: list[float]) -> float | None:
    """The 90th percentile, only when at least ten samples lie beyond
    it (n >= 100); a p90 read off fewer samples is one or two ops."""
    if len(xs) < 100:
        return None
    return statistics.quantiles(xs, n=10)[-1]


def mean(xs: list[float]) -> float | None:
    return sum(xs) / len(xs) if xs else None


# Raw (user) bytes per row, the rawSize accounting bench.py uses for
# its write/scan MB/s: fixed-width types at their in-memory width,
# strings at their byte length.
_WIDTHS = {"int64": 8, "float64": 8, "int32": 4, "datetime64[D]": 4, "datetime64[us]": 8}


def raw_bytes(cols: dict) -> int:
    """Raw bytes of a dict of numpy columns (strings: UTF-8 length)."""
    total = 0
    for arr in cols.values():
        kind = str(arr.dtype)
        if kind in _WIDTHS:
            total += _WIDTHS[kind] * len(arr)
        elif arr.dtype.kind == "U":
            total += sum(len(s.encode()) for s in arr.tolist())
        else:
            raise TypeError(f"no raw width for dtype {kind}")
    return total


def _cpu_times() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


class HostStamp:
    """cpus, load average before/after and steal share over the run,
    so figures from different hosts are never compared unlabelled."""

    def __init__(self) -> None:
        self.load_before = os.getloadavg()
        self.cpu_before = _cpu_times()

    def finish(self) -> dict:
        cpu_after = _cpu_times()
        delta = [b - a for a, b in zip(self.cpu_before, cpu_after)]
        total = sum(delta) or 1
        steal = delta[7] if len(delta) > 7 else 0
        return {
            "cpus": os.cpu_count(),
            "cpus_usable": len(os.sched_getaffinity(0)),
            "loadavg_before": [round(x, 2) for x in self.load_before],
            "loadavg_after": [round(x, 2) for x in os.getloadavg()],
            "steal_pct": round(100.0 * steal / total, 3),
        }


def peak_rss_mb(pids: list[int]) -> float:
    """Sum of the peak resident sets (VmHWM) of the given processes."""
    kb = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
        except FileNotFoundError:
            pass
    return kb / 1024.0


def _proc_table() -> dict[int, tuple[int, str, int]]:
    """pid -> (parent pid, state, CPU ticks used) of every process."""
    table = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                with open(f"/proc/{name}/stat") as f:
                    fields = f.read().rsplit(")", 1)[1].split()
            except OSError:
                continue  # exited meanwhile
            table[int(name)] = (int(fields[1]), fields[0], int(fields[11]) + int(fields[12]))
    return table


def _tree(root: int, table: dict) -> list[int]:
    """``root``'s descendants in ``table``."""
    children: dict[int, list[int]] = {}
    for pid, (ppid, _, _) in table.items():
        children.setdefault(ppid, []).append(pid)
    out, todo = [], list(children.get(root, []))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def descendants(root: int) -> list[int]:
    """Live (non-zombie) descendants of ``root``."""
    table = _proc_table()
    return [pid for pid in _tree(root, table) if table[pid][1] != "Z"]


def tree_cpu_s(root: int) -> float:
    """CPU seconds (user + system) used so far by ``root`` and every
    descendant: the driver's Python, the JVM, Spark's Python workers."""
    table = _proc_table()
    ticks = sum(table[pid][2] for pid in [root, *_tree(root, table)] if pid in table)
    return ticks / os.sysconf("SC_CLK_TCK")


class Loop:
    """Closed loop from one client: the next op starts only after the
    previous one returned. Each op runs under its own Spark job group
    (so the event log attributes its stages) and inside the tracer's op
    span; its latency is the wall time of the call. A check runs after
    the timer stopped and counts a wrong answer as a failed op. The
    warm-up pass runs through a loop of its own (``warm``), whose
    figures are dropped but whose failures count."""

    def __init__(self, spark, tracer, seconds: float, tag: str, warm: bool = False) -> None:
        self.sc = spark.sparkContext
        self.tag = tag
        self.warm = warm
        self.tracer = tracer
        self.seconds = seconds
        self.lat: dict[str, list[float]] = {}
        self.cpu: dict[str, list[float]] = {}
        self.pid = os.getpid()
        self.attempted = 0
        self.failed = 0
        self.wrong = 0
        self.t_start = None
        self.n = 0

    def start(self) -> None:
        self.t_start = time.perf_counter()

    def expired(self) -> bool:
        return time.perf_counter() - self.t_start >= self.seconds

    def elapsed(self) -> float:
        return time.perf_counter() - self.t_start

    def op(self, kind: str, fn, check=None):
        from spans import op_group

        op_id = op_group(self.tag, kind, self.n)
        self.n += 1
        self.attempted += 1
        self.sc.setJobGroup(op_id, kind)
        self.tracer.begin_op(op_id, kind)
        cpu0 = tree_cpu_s(self.pid)
        t0 = time.perf_counter()
        try:
            result = fn()
        except Exception:
            self.failed += 1
            print(f"op {op_id} failed:", file=sys.stderr)
            traceback.print_exc()
            return None
        finally:
            dt = time.perf_counter() - t0
            cpu = tree_cpu_s(self.pid) - cpu0
            self.tracer.end_op()
            self.sc.setJobGroup("untimed", "untimed")
        self.lat.setdefault(kind, []).append(dt)
        self.cpu.setdefault(kind, []).append(cpu)
        if check is not None:
            problem = check(result)
            if problem:
                self.failed += 1
                self.wrong += 1
                print(f"op {op_id} wrong: {problem}", file=sys.stderr)
        return result

    def count_failure(self, what: str) -> None:
        """A check outside any single op (final table state) failed."""
        self.attempted += 1
        self.failed += 1
        self.wrong += 1
        print(f"check failed: {what}", file=sys.stderr)

    def summary(self, kinds: tuple[str, ...]) -> dict:
        """End-to-end figures shared by every workload.

        ``pass_s`` is the sum over the op kinds of each kind's median
        latency (every kind counts once, however many rounds a pass
        has), ``pass_cpu_s`` the same in CPU seconds of the whole
        process tree during the ops."""

        def priced(by_kind):
            if any(not by_kind.get(k) for k in kinds):
                return None
            return sum(median(by_kind[k]) for k in kinds)

        return {
            "pass_s": priced(self.lat),
            "pass_cpu_s": priced(self.cpu),
            "ops": sum(len(v) for v in self.lat.values()),
            "measured_s": self.elapsed(),
            "per_kind": {
                k: {"n": len(v), "p50_s": median(v), "p90_s": p90(v), "cpu_p50_s": median(self.cpu[k])}
                for k, v in sorted(self.lat.items())
            },
        }


def zipf_pick(rng, pool, n: int) -> list[int]:
    """``n`` values of ``pool`` with Zipf-skewed popularity (pool order
    is the popularity rank)."""
    return [int(x) for x in pool[(rng.zipf(1.3, n) - 1) % len(pool)]]


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs)


class Workload:
    """What the three workloads share. A subclass defines ``kinds`` (the
    op kinds; a pass runs ``rounds`` rounds of one op of each, and each
    kind is priced at the median of its ops), ``setup_reps``,
    ``setup(rep_dir)`` (timed, repeated), and one ``op_<kind>(loop)``
    per kind."""

    kinds: tuple[str, ...] = ()
    rounds = 1
    setup_reps = 3
    warmup_checks = False  # the warm-up produces what finish() checks

    def warmup(self, loop: Loop) -> None:
        """One untimed, checked round of one op of each kind. Without it
        the JIT compiles through the first measured ops (about 30% more
        CPU than the ops after them); a whole pass of two rounds would
        not fit the run's time budget."""
        for kind in self.order()[: len(self.kinds)]:
            self.op(loop, kind)

    def op(self, loop, kind: str) -> None:
        getattr(self, "op_" + kind)(loop)

    def __init__(self, spark, tracer, seed: int, work: str) -> None:
        import numpy as np

        self.spark, self.tracer, self.seed, self.work = spark, tracer, seed, work
        self.rng = np.random.default_rng([seed, 1])  # op order and keys
        self.last_df = None
        self.scan: list[dict] = []  # traced: scan totals of each point/range op

    def prepare(self) -> None:
        """Untimed work between set-up and warm-up."""

    def order(self) -> list[str]:
        """The op kinds of one pass, each round in a seeded order."""
        return [k for _ in range(self.rounds) for k in self.rng.permutation(self.kinds).tolist()]

    def cycle(self, loop: Loop) -> None:
        """One whole pass."""
        for kind in self.order():
            self.op(loop, kind)

    def collect(self, df):
        self.last_df = df
        with self.tracer.span("exec", "spark"):
            return df.collect()

    def run(self, loop: Loop, kind: str, fn, check):
        result = loop.op(kind, fn, check)
        if result is not None and not loop.warm:
            self.after_op(kind, result)
        return result

    def after_op(self, kind: str, result) -> None:
        """Bookkeeping after a measured op, outside its timer: traced,
        the executed plan's scan totals of a point or range read."""
        if self.tracer.enabled and kind in ("point", "range"):
            from nimble_spark.plans.scan_metrics import totals

            t = totals(self.last_df, execute=False)
            returned = len(result) if kind == "point" else result["n"]
            self.scan.append({**t, "returned": returned, "files": self.table_files()})

    def table_files(self) -> int:
        """Data files in the table the reads scan, now."""
        raise NotImplementedError

    def finish(self, loop: Loop) -> None:
        """End-of-run checks (untimed)."""

    def layers(self) -> dict:
        """Per-layer figures the workload gathers itself."""
        if not self.scan:
            return {}
        n_ret = sum(s["returned"] for s in self.scan)
        return {
            "scan.files_read_frac": median([s.get("numFiles", 0) / s["files"] for s in self.scan]),
            "scan.rows_read_per_row_returned": (
                sum(s.get("numOutputRows", 0) for s in self.scan) / n_ret if n_ret else 0.0),
            "scan.bytes_read": median([float(s.get("filesSize", 0)) for s in self.scan]),
        }

    @staticmethod
    def kind_stats(lat: dict, *wanted: str) -> dict:
        """``<kind>_p50_s`` / ``<kind>_p90_s`` from the raw latencies."""
        out = {}
        for name in wanted:
            kind, q = name.rsplit("_", 1)
            out[f"{name}_s"] = (median if q == "p50" else p90)(lat.get(kind, []))
        return out
