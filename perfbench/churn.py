"""``churn``: a seeded series of commits on a clustered table (appends,
``merge_into`` upserts over overlapping key ranges, ``delete_rows``),
with ``compact_table`` + ``vacuum_table`` once per pass, and the same
point and range reads as ``serve`` after every commit. Writes sit
beside reads: every read after a commit misses the version-keyed
manifest cache, and the file count grows until compaction.

A pandas model replays the same op sequence; every read is checked
against it, and so is the final table."""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from nimble_spark.sources import compaction as nc
from nimble_spark.sources import deletes as nd
from nimble_spark.sources import merge as nm
from nimble_spark.sources import table as nt

from common import Workload, dir_bytes, mean, median, p90, raw_bytes, zipf_pick

SIZES = {"normal": {"rows": 200_000, "files": 8}, "tiny": {"rows": 10_000, "files": 4}}
COMMITS = ("append", "merge", "delete")
VALUE_COLS = ["a", "qty", "price", "flag", "ver"]
# op sizes at normal scale, fixed so that every seed prices the same
# work (assumptions; see README)
APPEND_ROWS = 6_000
MERGE_SPAN_KEYS = 6_000
DELETE_KEYS = 550
RANGE_KEYS = 2_750
KEYS_PER_LOOKUP = 4
SCHEMA = "k long, a long, qty double, price double, flag string, ver long"


class Churn(Workload):
    # a round: the three commits in a seeded order, a point read after
    # the first and a range read after the second, then compaction and
    # vacuum. Two rounds a pass, so each kind's median is over two ops:
    # with one op a kind the wall time of a pass spread 0.3 over five
    # seeds
    kinds = COMMITS + ("point", "range", "compact", "vacuum")
    rounds = 2
    setup_reps = 2

    def __init__(self, spark, tracer, seed: int, size: str, work: str) -> None:
        super().__init__(spark, tracer, seed, work)
        self.n0, self.n_files = SIZES[size]["rows"], SIZES[size]["files"]
        self.scale = self.n0 / SIZES["normal"]["rows"]
        # timed ops only: raw bytes the commits carried, and bytes of
        # the data files commits and compactions added
        self.user_bytes = 0
        self.data_bytes_written = 0
        self.writes: dict[str, list[dict]] = {k: [] for k in ("append", "merge", "compact", "vacuum")}

    def _values(self, rng, keys: np.ndarray, ver: int) -> pd.DataFrame:
        n = len(keys)
        return pd.DataFrame({
            "k": keys.astype("int64"),
            "a": rng.integers(0, 1 << 40, n),
            "qty": rng.integers(1, 51, n).astype("float64"),
            "price": np.round(rng.uniform(900.0, 105000.0, n), 2),
            "flag": rng.choice(np.array(["A", "N", "R"]), n),
            "ver": np.full(n, ver, dtype="int64"),
        })

    @staticmethod
    def _raw(df: pd.DataFrame) -> int:
        return raw_bytes({c: df[c].to_numpy() if c != "flag" else df[c].to_numpy().astype("U1")
                          for c in df.columns})

    # -- set-up --------------------------------------------------------
    def setup(self, rep_dir: str) -> None:
        """Generate the initial rows (keys 0, 4, 8, ...) and build the
        clustered table (timed, repeated)."""
        rows = self._values(np.random.default_rng([self.seed, 0]), np.arange(self.n0) * 4, 0)
        self.path = os.path.join(rep_dir, "churn")
        nt.write_table(
            self.spark.createDataFrame(rows, SCHEMA),
            self.path,
            nt.WriteOptions(cluster_by=["k"], n_cluster_files=self.n_files),
        )
        self.model = rows.set_index("k")

    def prepare(self) -> None:
        self.data_rng = np.random.default_rng([self.seed, 2])
        self.next_key = self.n0 * 4
        self.used = np.zeros(self.next_key * 4, dtype=bool)
        self.used[self.model.index.to_numpy()] = True
        self.ver = 0
        self.pool = self.rng.permutation(self.model.index.to_numpy())
        m = nt.read_manifest(self.path)
        # files at or above half the target ride through compaction, so
        # the initial cluster ranges survive and only small files merge
        self.target_bytes = 2 * min(f["bytes"] for f in m["files"])
        self.files = {f["path"]: f["bytes"] for f in m["files"]}

    def order(self) -> list[str]:
        out = []
        for _ in range(self.rounds):
            first, second, third = self.rng.permutation(COMMITS).tolist()
            out += [first, "point", second, "range", third, "compact", "vacuum"]
        return out

    def _added_bytes(self) -> tuple[int, int, int]:
        """(files added, their bytes, files removed) since the last call."""
        m = nt.read_manifest(self.path)
        now = {f["path"]: f["bytes"] for f in m["files"]}
        added = {p: b for p, b in now.items() if p not in self.files}
        removed = len(set(self.files) - set(now))
        self.files = now
        return len(added), sum(added.values()), removed

    def _commit(self, loop, kind: str, fn, user_bytes: int, model_update) -> None:
        result = self.run(loop, kind, fn, None)
        if result is None:
            return  # failed: counted by the loop, model left as is
        model_update()
        n_added, b_added, n_removed = self._added_bytes()
        if loop.warm:
            return
        self.data_bytes_written += b_added
        self.user_bytes += user_bytes
        if kind in self.writes:
            self.writes[kind].append({"files_added": n_added, "bytes_added": b_added,
                                      "files_removed": n_removed, "user_bytes": user_bytes,
                                      "result": result})

    # -- commits -------------------------------------------------------
    def op_append(self, loop) -> None:
        n = int(APPEND_ROWS * self.scale) or 1
        keys = (self.next_key + 4 * np.arange(n))
        self.ver += 1
        rows = self._values(self.data_rng, keys, self.ver)

        def run():
            return nt.write_table(self.spark.createDataFrame(rows, SCHEMA), self.path, mode="append")

        def update():
            self.next_key = int(keys[-1]) + 4
            self._mark_used(keys)
            self.model = pd.concat([self.model, rows.set_index("k")])

        self._commit(loop, "append", run, self._raw(rows), update)

    def _mark_used(self, keys) -> None:
        top = int(keys.max()) + 1
        if top > len(self.used):
            self.used = np.concatenate([self.used, np.zeros(top * 2 - len(self.used), dtype=bool)])
        self.used[keys] = True

    def op_merge(self, loop) -> None:
        """Upsert over a key range: about half the live keys in it are
        updated, and never-used keys inside it are inserted."""
        rng = self.data_rng
        span = int(MERGE_SPAN_KEYS * self.scale) * 4 or 4
        lo = int(rng.integers(0, max(self.next_key - span, 1)))
        live = self.model.index.to_numpy()
        live = live[(live >= lo) & (live <= lo + span)]
        upd = live[rng.random(len(live)) < 0.5]
        cand = np.arange(lo, lo + span + 1)
        cand = cand[(cand % 4 != 0) & (cand < len(self.used))]
        cand = cand[~self.used[cand]]
        ins = rng.choice(cand, min(len(cand), max(len(upd) // 2, 1)), replace=False)
        self.ver += 1
        rows = self._values(rng, np.sort(np.concatenate([upd, ins])), self.ver)

        def run():
            return nm.merge_into(self.spark, self.path, self.spark.createDataFrame(rows, SCHEMA), "k")

        def update():
            self._mark_used(rows["k"].to_numpy())
            src = rows.set_index("k")
            self.model = pd.concat([self.model.drop(index=upd), src])

        self._commit(loop, "merge", run, self._raw(rows), update)

    def op_delete(self, loop) -> None:
        live = self.model.index.to_numpy()
        n = min(len(live), max(int(DELETE_KEYS * self.scale), 1))
        keys = self.data_rng.choice(live, n, replace=False)
        values = [int(x) for x in keys]

        def run():
            return nd.delete_rows(self.spark, self.path, "k", values)

        def update():
            self.model = self.model.drop(index=keys)

        self._commit(loop, "delete", run, 8 * n, update)

    def op_compact(self, loop) -> None:
        self._commit(loop, "compact",
                     lambda: nc.compact_table(self.spark, self.path, target_file_bytes=self.target_bytes),
                     0, lambda: None)

    def op_vacuum(self, loop) -> None:
        self._commit(loop, "vacuum", lambda: nc.vacuum_table(self.path, min_age_s=0), 0, lambda: None)

    # -- reads ---------------------------------------------------------
    def _expect(self, keys) -> list[tuple]:
        hit = self.model.loc[self.model.index.intersection(keys)].reset_index()
        return sorted(hit[["k"] + VALUE_COLS].itertuples(index=False, name=None))

    def op_point(self, loop) -> None:
        keys = zipf_pick(self.rng, self.pool, KEYS_PER_LOOKUP)

        def run():
            return self.collect(nd.read_with_deletes(self.spark, self.path, point_lookup=("k", keys)))

        def check(rows):
            got = sorted(tuple(r[c] for c in ["k"] + VALUE_COLS) for r in rows)
            want = self._expect(keys)
            return None if got == want else f"point {keys}: {len(got)} rows, want {len(want)}"

        self.run(loop, "point", run, check)

    def op_range(self, loop) -> None:
        lo = int(self.rng.integers(0, self.next_key))
        hi = lo + 4 * int(RANGE_KEYS * self.scale)

        def run():
            df = nd.read_with_deletes(self.spark, self.path, range_scan=("k", lo, hi)).agg(
                F.count(F.lit(1)).alias("n"), F.sum("qty").alias("q"), F.sum("price").alias("p"))
            return self.collect(df)[0]

        def check(row):
            idx = self.model.index.to_numpy()
            sel = self.model[(idx >= lo) & (idx <= hi)]
            want_p = float(sel["price"].sum())
            if row["n"] != len(sel) or (row["q"] or 0.0) != float(sel["qty"].sum()):
                return f"range [{lo},{hi}]: n={row['n']} want {len(sel)}"
            if abs((row["p"] or 0.0) - want_p) > 1e-9 * max(abs(want_p), 1.0):
                return f"range [{lo},{hi}]: price sum {row['p']} want {want_p}"
            return None

        self.run(loop, "range", run, check)

    def table_files(self) -> int:
        return len(self.files)

    # -- results -------------------------------------------------------
    def finish(self, loop) -> None:
        """The final table equals the model (row count and an
        order-insensitive row hash), and verify_table finds nothing."""
        got = nd.read_with_deletes(self.spark, self.path).toPandas()
        want = self.model.reset_index()[["k"] + VALUE_COLS]
        got = got[["k"] + VALUE_COLS]
        if len(got) != len(want):
            loop.count_failure(f"final table has {len(got)} rows, model {len(want)}")
        elif (pd.util.hash_pandas_object(got, index=False).sum()
              != pd.util.hash_pandas_object(want, index=False).sum()):
            loop.count_failure("final table rows differ from the model")
        bad = nt.verify_table(self.path)
        if bad:
            loop.count_failure(f"verify_table: {bad[:3]}")
        self.live_raw = self._raw(want)
        self.disk_bytes = dir_bytes(self.path)
        self.pending = len(nd.pending_mask_batches(self.path))

    def report(self, lat: dict) -> dict:
        commits = [x for k in COMMITS for x in lat.get(k, [])]
        commit_s = sum(commits)
        return {
            **self.kind_stats(lat, "point_p50", "point_p90", "range_p50", "range_p90"),
            "commit_p50_s": median(commits),
            "commit_p90_s": p90(commits),
            "ingest_mb_s": self.user_bytes / 1e6 / commit_s if commit_s else None,
            "write_amp": self.data_bytes_written / self.user_bytes if self.user_bytes else None,
            "bytes_per_user_byte": self.disk_bytes / self.live_raw,
        }

    def layers(self) -> dict:
        out = {**super().layers(), "deletes.pending_batches": float(self.pending)}
        ap, mg, cp, vc = (self.writes[k] for k in ("append", "merge", "compact", "vacuum"))
        if ap:
            ws = [w["result"]["write_stats"] for w in ap]
            out["write_table.data_s"] = median([x["write_wall_ms"] / 1e3 for x in ws])
            out["write_table.manifest_s"] = median([x["manifest_wall_ms"] / 1e3 for x in ws])
            out["write_table.files_added"] = mean([w["files_added"] for w in ap])
            out["write_table.bytes_added"] = mean([w["bytes_added"] for w in ap])
        if mg:
            out["merge_into.files_rewritten"] = mean([w["files_removed"] for w in mg])
            out["merge_into.bytes_rewritten_per_source_byte"] = (
                sum(w["bytes_added"] for w in mg) / sum(w["user_bytes"] for w in mg))
        if cp:
            out["compact_table.files_before"] = mean([w["result"]["files_before"] for w in cp])
            out["compact_table.files_after"] = mean([w["result"]["files_after"] for w in cp])
            out["compact_table.bytes_rewritten"] = mean([w["bytes_added"] for w in cp])
        if vc:
            out["vacuum_table.files_removed"] = mean([len(w["result"]) for w in vc])
        return out
