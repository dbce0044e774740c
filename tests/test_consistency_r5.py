"""Round-5 consistency fixes (advisor findings): streaming offset
monotonicity across restarts, atomic stale-lock break, publish-first
copy-on-write commits, locked maintenance operations, real vacuum
trash paths, and the manifest metadata cache
(dwio/nimble/tablet/MetadataCache.h analogue)."""

from __future__ import annotations

import json
import os
import threading
import time

import pytest
from pyspark.sql import types as T

from nimble_spark.sources.table import (
    WriteOptions,
    read_manifest,
    read_table,
    table_write_lock,
    write_table,
)
from tests.conftest import SF_SMALL


def _small_table(spark, path, n=200):
    df = spark.range(n).selectExpr("id AS k", "id * 2 AS v", "CAST(id % 7 AS STRING) AS tag")
    return write_table(df, path, WriteOptions())


# ---------------------------------------------------------------- streaming


def _schema():
    return T.StructType(
        [
            T.StructField("k", T.LongType()),
            T.StructField("v", T.LongType()),
            T.StructField("tag", T.StringType()),
        ]
    )


def _append(spark, path, lo, hi):
    df = spark.range(lo, hi).selectExpr("id AS k", "id * 2 AS v", "CAST(id % 7 AS STRING) AS tag")
    write_table(df, path, WriteOptions(), mode="append")


def test_stream_reader_restart_offset_never_regresses(spark, tmpdir):
    """Restart protocol (traced against Spark's actual call order): a
    checkpointed query re-plans its last batch via partitions(K', K)
    BEFORE the first latestOffset(), which must then never fall below
    K — under the old `_served = -1` init it returned min(-1+N,
    latest), regressing the WAL and replaying processed commits."""
    from nimble_spark.sources.datasource import NimbleStreamReader

    path = f"{tmpdir}/stream_restart"
    _small_table(spark, path)
    for i in range(4):
        _append(spark, path, 1000 * (i + 1), 1000 * (i + 1) + 10)
    latest = len(read_manifest(path).get("commits", [])) - 1
    assert latest >= 4

    # Restart with everything committed: Spark replans (K, K] first.
    k = latest - 1
    r = NimbleStreamReader(path, _schema(), max_commits_per_trigger=1)
    r.partitions({"commit": k}, {"commit": k})
    off = r.latestOffset()["commit"]
    assert off == k + 1  # throttled AND monotone: one commit past K

    # Restart with a WAL-pending batch (K-1, K]: same guarantee.
    r2 = NimbleStreamReader(path, _schema(), max_commits_per_trigger=1)
    r2.partitions({"commit": k - 1}, {"commit": k})
    assert r2.latestOffset()["commit"] >= k


def test_stream_reader_fresh_start_is_throttled(spark, tmpdir):
    """Fresh query (no checkpoint → no partitions() before the first
    latestOffset): rate limiting applies from batch 0, preserving the
    deterministic one-commit-per-batch replay q_stream_late_data's
    watermark trajectory depends on."""
    from nimble_spark.sources.datasource import NimbleStreamReader

    path = f"{tmpdir}/stream_fresh"
    _small_table(spark, path)
    for i in range(3):
        _append(spark, path, 100 * (i + 1), 100 * (i + 1) + 5)

    r = NimbleStreamReader(path, _schema(), max_commits_per_trigger=1)
    assert r.latestOffset()["commit"] == 0  # first batch: commit 0 only
    r.initialOffset()
    assert r.latestOffset()["commit"] == 1  # then one commit per trigger


def test_stream_reader_regressed_window_self_heals(spark, tmpdir):
    """Defense in depth for a hypothetical Spark path that calls
    latestOffset() on a restarted reader BEFORE any seeding callback:
    the emitted offset may sit below the checkpoint, but the resulting
    end<start window serves ZERO partitions (no duplicate rows), the
    window seeds the high-water mark at the checkpoint, and offsets
    are monotone ≥ checkpoint from then on."""
    from nimble_spark.sources.datasource import NimbleStreamReader

    path = f"{tmpdir}/stream_regressed"
    _small_table(spark, path)
    for i in range(5):
        _append(spark, path, 100 * (i + 1), 100 * (i + 1) + 5)
    k = len(read_manifest(path).get("commits", [])) - 1  # checkpointed position

    r = NimbleStreamReader(path, _schema(), max_commits_per_trigger=1)
    off = r.latestOffset()["commit"]  # unseeded: may regress below K
    assert off < k
    parts = r.partitions({"commit": k}, {"commit": off})  # end < start
    assert parts == []  # empty batch — nothing replays
    # the window seeded the mark at K: strictly monotone from here
    assert r.latestOffset()["commit"] >= k


def test_stream_restart_exactly_once_end_to_end(spark, tmpdir):
    """Full restart drill through the real engine: run a throttled
    stream to completion against a checkpoint, stop it, append new
    commits, restart from the same checkpoint — every row arrives
    exactly once and the post-restart drain stays one-commit-per-batch."""
    from nimble_spark.sources.datasource import register_nimble_source

    path = f"{tmpdir}/e2e_restart"
    out = f"{tmpdir}/e2e_restart_out"
    ckpt = f"{tmpdir}/e2e_restart_ckpt"
    _small_table(spark, path, n=100)
    _append(spark, path, 100, 200)
    register_nimble_source(spark)

    def run():
        q = (
            spark.readStream.format("nimble")
            .option("maxCommitsPerTrigger", "1")
            .load(path)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .start()
        )
        q.processAllAvailable()
        q.stop()
        return [p["numInputRows"] for p in q.recentProgress if p["numInputRows"] > 0]

    assert run() == [100, 100]  # fresh: throttled from batch 0
    _append(spark, path, 200, 250)
    _append(spark, path, 250, 300)
    assert run() == [50, 50]  # restart: no replay, still throttled
    got = spark.read.parquet(out)
    assert got.count() == 300  # exactly once
    assert got.select("k").distinct().count() == 300


# ------------------------------------------------------------------- locks


def test_stale_lock_break_single_winner(tmpdir):
    """N waiters racing over one stale lockfile: exactly one critical
    section at a time (the rename-based break cannot delete the
    winner's fresh lock the way a stat/unlink TOCTOU could)."""
    path = f"{tmpdir}/locked_table"
    os.makedirs(path, exist_ok=True)
    lock_path = f"{path}.__commit.lock"
    with open(lock_path, "w") as fh:
        fh.write("crashed@0")
    past = time.time() - 10_000
    os.utime(lock_path, (past, past))

    inside = 0
    max_inside = 0
    guard = threading.Lock()
    errors: list[Exception] = []

    def worker():
        nonlocal inside, max_inside
        try:
            with table_write_lock(path, timeout_s=20.0):
                with guard:
                    inside += 1
                    max_inside = max(max_inside, inside)
                time.sleep(0.01)
                with guard:
                    inside -= 1
        except Exception as e:  # noqa: BLE001
            errors.append(e)

    threads = [threading.Thread(target=worker) for _ in range(8)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors
    assert max_inside == 1
    assert not os.path.exists(lock_path)


def test_maintenance_ops_hold_write_lock(spark, tmpdir):
    """vacuum/compact/compact_deletes serialize behind the table write
    lock like every other mutation."""
    from nimble_spark.sources.compaction import vacuum_table

    path = f"{tmpdir}/vacuum_locked"
    _small_table(spark, path)

    done = threading.Event()
    result: list = []

    def run_vacuum():
        result.append(vacuum_table(path))
        done.set()

    with table_write_lock(path):
        t = threading.Thread(target=run_vacuum)
        t.start()
        # blocked while we hold the lock
        assert not done.wait(0.6)
    assert done.wait(10)
    t.join()
    assert result and isinstance(result[0], list)


# --------------------------------------------------- publish-first rewrite


def test_rewrite_manifest_never_references_missing_files(spark, tmpdir, monkeypatch):
    """At the commit point (manifest publish) of a copy-on-write
    rewrite, every file referenced by BOTH the outgoing and the
    incoming manifest exists on disk — the crash window where the live
    manifest pointed at already-trashed files is gone."""
    import nimble_spark.sources.merge as merge_mod
    # the copy-on-write publisher lives in table.py
    import nimble_spark.sources.table as table_mod

    path = f"{tmpdir}/cow_publish_first"
    _small_table(spark, path)

    real_publish = table_mod._write_manifest
    checked: list[int] = []

    def checking_publish(p, manifest, **kwargs):
        for source in (read_manifest(p), manifest):
            for f in source["files"]:
                assert os.path.exists(os.path.join(p, f["path"])), f["path"]
        checked.append(1)
        real_publish(p, manifest, **kwargs)

    monkeypatch.setattr(table_mod, "_write_manifest", checking_publish)
    merge_mod.update_where(spark, path, "k < 50", {"v": "v + 1000"})
    assert checked  # the instrumented publish actually ran

    out = read_table(spark, path)
    assert out.filter("k < 50 AND v = k * 2 + 1000").count() == 50
    assert out.filter("k >= 50 AND v = k * 2").count() == 150
    # replaced files landed in trash AFTER the publish
    trash = os.path.join(path, "_nimble", "trash")
    assert os.path.isdir(trash)


def test_vacuum_reports_real_trash_paths(spark, tmpdir):
    from nimble_spark.sources.compaction import vacuum_table
    from nimble_spark.sources.merge import update_where

    path = f"{tmpdir}/vacuum_paths"
    _small_table(spark, path)
    update_where(spark, path, "k < 10", {"v": "0"})
    trash_dir = os.path.join(path, "_nimble", "trash")
    on_disk = {
        os.path.normpath(os.path.relpath(os.path.join(r, f), path))
        for r, _d, fs in os.walk(trash_dir)
        for f in fs
        if f.endswith(".parquet")
    }
    assert on_disk
    removed = vacuum_table(path)
    # every reported trash path is a path that really existed, root-relative
    assert on_disk <= set(removed)
    assert all(not p.startswith("_trash") for p in removed)


# ----------------------------------------------------------- manifest cache


def test_manifest_cache_one_parse_per_version(spark, tmpdir, monkeypatch):
    import nimble_spark.sources.table as table_mod

    path = f"{tmpdir}/cached_manifest"
    _small_table(spark, path)

    parses = {"n": 0}
    real_loads = json.loads

    def counting_loads(s, *a, **k):
        parses["n"] += 1
        return real_loads(s, *a, **k)

    # read_manifest parses via json.loads over the metadata-FS seam
    monkeypatch.setattr(table_mod.json, "loads", counting_loads)
    table_mod._MANIFEST_CACHE.clear()
    before = parses["n"]
    for _ in range(10):
        m1 = read_manifest(path)
    assert parses["n"] - before == 1  # one parse across 10 reads

    # a commit (append) publishes a new manifest version → exactly one
    # more parse, and the cache serves the NEW content
    _append(spark, path, 5000, 5005)
    before = parses["n"]
    m2 = read_manifest(path)
    read_manifest(path)
    assert parses["n"] - before == 1
    assert m2["rows"] == m1["rows"] + 5


def test_stream_sink_multi_batch_keeps_prior_batches(spark, tmpdir):
    """The streaming SINK shares one writer (one job token) across
    micro-batches: batch N's commit-time debris sweep must not delete
    batch N-1's committed files (they match the token but live in the
    prior manifest). Drives a throttled nimble→nimble pipe so the sink
    commits 3 separate batches, then checks every batch's rows
    survived."""
    from nimble_spark.sources.datasource import register_nimble_source

    src_path = f"{tmpdir}/sink_src"
    dst_path = f"{tmpdir}/sink_dst"
    ckpt = f"{tmpdir}/sink_ckpt"
    _small_table(spark, src_path, n=100)
    _append(spark, src_path, 100, 200)
    _append(spark, src_path, 200, 300)
    register_nimble_source(spark)

    q = (
        spark.readStream.format("nimble")
        .option("maxCommitsPerTrigger", "1")
        .load(src_path)
        .writeStream.format("nimble")
        .option("path", dst_path)
        .option("checkpointLocation", ckpt)
        .start()
    )
    q.processAllAvailable()
    q.stop()

    m = read_manifest(dst_path)
    assert m["rows"] == 300
    assert len(m.get("commits", [])) == 3  # one commit per micro-batch
    out = read_table(spark, dst_path)
    assert out.count() == 300
    assert out.select("k").distinct().count() == 300
    for f in m["files"]:
        assert os.path.exists(os.path.join(dst_path, f["path"]))


def test_compaction_is_not_a_data_change(spark, tmpdir):
    """A compaction rewrites bytes, not rows (Delta-OPTIMIZE
    semantics): its commit carries data_change=false, so (a) the CDC
    feed and a live stream across it emit NOTHING new, while (b) a
    snapshot AT the compact commit still reconstructs the full table
    (files + removed are applied), and (c) a stream that was BEHIND
    the compaction still replays the pre-compact commits from the
    tombstoned trash copies."""
    from nimble_spark.sources.compaction import compact_table
    from nimble_spark.sources.datasource import register_nimble_source
    from nimble_spark.sources.table import read_changes

    path = f"{tmpdir}/compact_cdc"
    _small_table(spark, path, n=100)
    _append(spark, path, 100, 200)
    _append(spark, path, 200, 300)
    pre = len(read_manifest(path).get("commits", []))

    summary = compact_table(spark, path, target_file_bytes=64 * 1024 * 1024)
    assert summary["files_after"] < summary["files_before"]
    m = read_manifest(path)
    commits = m.get("commits", [])
    assert len(commits) == pre + 1
    assert commits[-1]["mode"] == "compact"
    assert commits[-1]["data_change"] is False

    # (a) CDC feed: nothing changed since the last data commit
    assert read_changes(spark, path, since_commit=pre - 1).count() == 0

    # (b) snapshot at the compact commit == the live table
    snap = read_table(spark, path, as_of_commit=len(commits) - 1)
    assert snap.count() == 300

    # (c) a stream starting from scratch replays the 3 DATA commits
    # (from trash tombstones) and skips the compact commit entirely
    register_nimble_source(spark)
    out = f"{tmpdir}/compact_cdc_out"
    q = (
        spark.readStream.format("nimble")
        .option("maxCommitsPerTrigger", "1")
        .load(path)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", f"{tmpdir}/compact_cdc_ckpt")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    got = spark.read.parquet(out)
    assert got.count() == 300  # no re-emission of compacted rows
    assert got.select("k").distinct().count() == 300
