"""``serve``: a read-only mix against a lineitem-shaped table built in
set-up (clustered on ``k``, bloom index on ``a``). Nearly all the work
is on the read path: manifest, pruning, bloom, serde."""

from __future__ import annotations

import datetime
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from nimble_spark.sources import serde as ns
from nimble_spark.sources import table as nt

from common import Workload, dir_bytes, median, raw_bytes, zipf_pick

SIZES = {"normal": {"rows": 600_000, "files": 32}, "tiny": {"rows": 40_000, "files": 8}}
# op sizes, fixed so that every seed prices the same work (assumptions
# inside the ranges the benchmark's spec names; see README)
KEYS_PER_LOOKUP = 4
BATCH_REQUESTS = 300
RANGE_KEYS = 11_000
COLS = ["k", "a", "l_quantity", "l_extendedprice", "l_discount", "l_tax",
        "l_returnflag", "l_linestatus", "l_shipdate"]
EPOCH = datetime.date(1970, 1, 1)


def lineitem_rows(rng: np.random.Generator, n: int) -> dict:
    """``n`` lineitem-shaped rows: ``k`` an order-like key with ~4 lines
    per key, ``a`` a 40-bit part-like id, TPC-H value ranges."""
    return {
        "k": np.sort(rng.integers(0, n // 4, n)),
        "a": rng.integers(0, 1 << 40, n),
        "l_quantity": rng.integers(1, 51, n).astype("float64"),
        "l_extendedprice": np.round(rng.uniform(900.0, 105000.0, n), 2),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": rng.choice(np.array(["A", "N", "R"]), n),
        "l_linestatus": rng.choice(np.array(["F", "O"]), n),
        "l_shipdate": np.datetime64("1992-01-02") + rng.integers(0, 2526, n).astype("timedelta64[D]"),
    }


class Serve(Workload):
    # the seed shuffles the order inside each round. Two rounds a pass,
    # so each kind's median is over two ops: with one op a kind the wall
    # time of a pass spread 0.27 over ten seeds
    kinds = ("point", "secondary", "range", "batch", "full")
    rounds = 2
    setup_reps = 2

    def __init__(self, spark, tracer, seed: int, size: str, work: str) -> None:
        super().__init__(spark, tracer, seed, work)
        self.n, self.n_files = SIZES[size]["rows"], SIZES[size]["files"]
        self.batch_rows: list[int] = []

    # -- set-up --------------------------------------------------------
    def setup(self, rep_dir: str) -> None:
        """Generate the rows and build the table (timed, repeated)."""
        rows = lineitem_rows(np.random.default_rng([self.seed, 0]), self.n)
        raw = os.path.join(rep_dir, "raw.parquet")
        pq.write_table(pa.table(rows), raw, row_group_size=1 << 18)
        self.path = os.path.join(rep_dir, "lineitem")
        nt.write_table(
            self.spark.read.parquet(raw),
            self.path,
            nt.WriteOptions(
                cluster_by=["k"],
                n_cluster_files=self.n_files,
                bloom_cols=["a"],
                bloom_expected_ndv={"a": self.n // self.n_files},
            ),
        )
        self.rows = rows

    def prepare(self) -> None:
        """Key pools and the reference answers (untimed)."""
        rows, rng = self.rows, self.rng
        self.pool_k = rng.permutation(np.unique(rows["k"]))
        self.pool_a = rng.permutation(rows["a"])
        self.order_a = np.argsort(rows["a"], kind="stable")
        self.a_sorted = rows["a"][self.order_a]
        flags = rows["l_returnflag"]
        self.full_expect = {
            f: (int((flags == f).sum()), float(rows["l_quantity"][flags == f].sum()),
                float(rows["l_extendedprice"][flags == f].sum()))
            for f in np.unique(flags).tolist()
        }
        self.raw_table_bytes = raw_bytes(rows)
        self.disk_bytes = dir_bytes(self.path)
        self.manifest_files = len(nt.read_manifest(self.path)["files"])

    def table_files(self) -> int:
        return self.manifest_files

    def after_op(self, kind: str, result) -> None:
        super().after_op(kind, result)
        if kind == "batch":
            self.batch_rows.extend(r["n_rows"] for r in result)

    # -- ops -----------------------------------------------------------
    def _rows_at(self, idx) -> list[tuple]:
        r = self.rows
        return sorted(
            (int(r["k"][i]), int(r["a"][i]), float(r["l_quantity"][i]),
             float(r["l_extendedprice"][i]), float(r["l_discount"][i]), float(r["l_tax"][i]),
             str(r["l_returnflag"][i]), str(r["l_linestatus"][i]),
             EPOCH + datetime.timedelta(days=int(r["l_shipdate"][i].astype("int64"))))
            for i in idx
        )

    def _lookup(self, loop, kind: str, col: str, pool: np.ndarray, expect_idx) -> None:
        keys = zipf_pick(self.rng, pool, KEYS_PER_LOOKUP)

        def run():
            return self.collect(nt.read_table(self.spark, self.path, point_lookup=(col, keys)))

        def check(rows):
            got = sorted(tuple(r[c] for c in COLS) for r in rows)
            want = self._rows_at(expect_idx(keys))
            return None if got == want else f"{col} in {keys}: {len(got)} rows, want {len(want)}"

        self.run(loop, kind, run, check)

    def _k_idx(self, keys):
        k = self.rows["k"]
        return [i for v in set(keys)
                for i in range(np.searchsorted(k, v), np.searchsorted(k, v, side="right"))]

    def _a_idx(self, keys):
        return [int(self.order_a[i]) for v in set(keys)
                for i in range(np.searchsorted(self.a_sorted, v),
                               np.searchsorted(self.a_sorted, v, side="right"))]

    def op_point(self, loop) -> None:
        self._lookup(loop, "point", "k", self.pool_k, self._k_idx)

    def op_secondary(self, loop) -> None:
        self._lookup(loop, "secondary", "a", self.pool_a, self._a_idx)

    def op_range(self, loop) -> None:
        lo = int(self.pool_k[int(self.rng.integers(0, len(self.pool_k)))])
        hi = lo + RANGE_KEYS

        def run():
            df = nt.read_table(self.spark, self.path, range_scan=("k", lo, hi)).agg(
                F.count(F.lit(1)).alias("n"),
                F.sum("l_quantity").alias("q"),
                F.sum("l_extendedprice").alias("p"),
            )
            return self.collect(df)[0]

        def check(row):
            k = self.rows["k"]
            i, j = np.searchsorted(k, lo), np.searchsorted(k, hi, side="right")
            want_q = float(self.rows["l_quantity"][i:j].sum())
            want_p = float(self.rows["l_extendedprice"][i:j].sum())
            if row["n"] != j - i or (row["q"] or 0.0) != want_q:
                return f"range [{lo},{hi}]: n={row['n']} q={row['q']}, want {j - i} {want_q}"
            if abs((row["p"] or 0.0) - want_p) > 1e-9 * max(abs(want_p), 1.0):
                return f"range [{lo},{hi}]: price sum {row['p']} want {want_p}"
            return None

        self.run(loop, "range", run, check)

    def op_batch(self, loop) -> None:
        keys = zipf_pick(self.rng, self.pool_k, BATCH_REQUESTS)

        def run():
            req = self.spark.createDataFrame(list(enumerate(keys)), "request_id long, k long")
            df = ns.serve_lookups(self.spark, self.path, req, "k", ["l_quantity", "l_extendedprice"])
            return self.collect(df)

        def check(rows):
            if len(rows) != len(keys):
                return f"batch: {len(rows)} responses for {len(keys)} requests"
            k, q = self.rows["k"], self.rows["l_quantity"]
            for r in rows:
                v = keys[r["request_id"]]
                i, j = np.searchsorted(k, v), np.searchsorted(k, v, side="right")
                got = pa.ipc.open_stream(pa.py_buffer(r["payload"])).read_all()
                got_q = float(sum(got.column("l_quantity").to_pylist())) if got.num_rows else 0.0
                if r["n_rows"] != j - i or got.num_rows != j - i or got_q != float(q[i:j].sum()):
                    return f"batch request {r['request_id']} (k={v}): {r['n_rows']} rows, want {j - i}"
            return None

        self.run(loop, "batch", run, check)

    def op_full(self, loop) -> None:
        def run():
            df = (
                nt.read_table(self.spark, self.path, columns=["l_returnflag", "l_quantity", "l_extendedprice"])
                .groupBy("l_returnflag")
                .agg(F.count(F.lit(1)).alias("n"), F.sum("l_quantity").alias("q"),
                     F.sum("l_extendedprice").alias("p"))
            )
            return self.collect(df)

        def check(rows):
            got = {r["l_returnflag"]: (r["n"], r["q"], r["p"]) for r in rows}
            if set(got) != set(self.full_expect):
                return f"full: flags {sorted(got)}"
            for f, (n, q, p) in self.full_expect.items():
                gn, gq, gp = got[f]
                if gn != n or gq != q or abs(gp - p) > 1e-9 * abs(p):
                    return f"full: flag {f} got {got[f]} want {(n, q, p)}"
            return None

        self.run(loop, "full", run, check)

    # -- results -------------------------------------------------------
    def report(self, lat: dict) -> dict:
        full = median(lat.get("full", []))
        return {
            **self.kind_stats(lat, "point_p50", "point_p90", "secondary_p50",
                              "range_p50", "range_p90", "batch_p50"),
            "scan_rows_per_s": self.n / full if full else None,
            "bytes_per_user_byte": self.disk_bytes / self.raw_table_bytes,
        }

    def layers(self) -> dict:
        out = super().layers()
        if self.batch_rows:
            out["serve.rows_per_request"] = sum(self.batch_rows) / len(self.batch_rows)
        return out
