"""Multi-writer / crash-window end-to-end drills for the round-5
consistency fixes: concurrent appends + maintenance never lose a
commit, and a crash between manifest publish and trash move leaves
the table fully readable (publish-first ordering).

These are the failure scenarios the advisor flagged (lock TOCTOU,
unlocked compaction, trash-before-publish); the unit tests in
test_consistency_r5.py pin each mechanism — these drills prove the
composed system under real interleaving.
"""

from __future__ import annotations

import os
import threading

import pytest

from pyspark.sql import functions as F

from nimble_spark.sources.table import (
    WriteOptions,
    read_manifest,
    read_table,
    write_table,
)

# Long-running fuzz/soak/drill tier: excluded from the driver-window
# default run (pytest.ini addopts); the FULL suite (-m "") remains the
# builder's round-exit gate.
pytestmark = pytest.mark.slow


def test_concurrent_appends_and_vacuum_lose_nothing(spark, tmpdir):
    """8 threads × 3 appends each, racing a vacuum loop: every row of
    every append survives into the final manifest (a lost commit —
    the lock-failure signature — would drop a whole 100-row slab)."""
    from nimble_spark.sources.compaction import vacuum_table

    path = f"{tmpdir}/contended"
    base = spark.range(100).selectExpr("id AS k", "id AS v")
    write_table(base, path, WriteOptions())

    errors: list[Exception] = []

    def appender(tid: int):
        try:
            for j in range(3):
                lo = 1000 * (tid + 1) + 100 * j
                df = spark.range(lo, lo + 100).selectExpr("id AS k", "id AS v")
                write_table(df, path, WriteOptions(), mode="append")
        except Exception as e:  # noqa: BLE001
            errors.append(e)

    def vacuumer():
        try:
            for _ in range(4):
                vacuum_table(path)
        except Exception as e:  # noqa: BLE001
            errors.append(e)

    threads = [threading.Thread(target=appender, args=(t,)) for t in range(8)]
    threads.append(threading.Thread(target=vacuumer))
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors, errors[:3]

    m = read_manifest(path)
    expect = 100 + 8 * 3 * 100
    assert m["rows"] == expect
    got = read_table(spark, path)
    assert got.count() == expect
    assert got.select("k").distinct().count() == expect  # no dup, no loss
    # commit log accounted every append exactly once
    assert len(m.get("commits", [])) == 1 + 8 * 3


def test_crash_between_publish_and_trash_leaves_table_readable(spark, tmpdir, monkeypatch):
    """Simulate a writer crash in the publish→trash window of a
    copy-on-write rewrite: the live manifest must already be the new
    version and fully readable; the not-yet-trashed replaced files are
    unreferenced debris that vacuum reclaims."""
    import nimble_spark.sources.merge as merge_mod
    # the copy-on-write publisher lives in table.py
    import nimble_spark.sources.table as table_mod

    path = f"{tmpdir}/crashy"
    df = spark.range(200).selectExpr("id AS k", "id * 2 AS v")
    write_table(df, path, WriteOptions())

    real_rename = os.rename
    state = {"published": False}

    def crashing_rename(src, dst):
        # the only renames AFTER the manifest publish are the
        # trash-tombstone moves — crash on the first one
        if state["published"] and "/trash/" in dst.replace(os.sep, "/"):
            raise OSError("simulated crash during trash move")
        return real_rename(src, dst)

    real_publish = table_mod._write_manifest

    def tracking_publish(p, manifest, **kwargs):
        real_publish(p, manifest, **kwargs)
        state["published"] = True

    monkeypatch.setattr(table_mod, "_write_manifest", tracking_publish)
    monkeypatch.setattr(merge_mod.os, "rename", crashing_rename)
    try:
        merge_mod.update_where(spark, path, "k < 50", {"v": "v + 7"})
    except OSError:
        pass  # the simulated crash
    monkeypatch.undo()

    # the commit LANDED (publish-first): new values visible, table reads
    out = read_table(spark, path)
    assert out.count() == 200
    assert out.filter("k < 50 AND v = k * 2 + 7").count() == 50
    m = read_manifest(path)
    for f in m["files"]:
        assert os.path.exists(os.path.join(path, f["path"]))

    # the stranded replaced files are unreferenced debris; vacuum
    # reclaims them and the table still reads identically
    from nimble_spark.sources.compaction import vacuum_table

    removed = vacuum_table(path, min_age_s=0.0)
    assert removed  # the un-trashed originals were collected
    assert read_table(spark, path).filter("v = k * 2 + 7").count() == 50


def test_compaction_crash_before_source_delete_is_safe(spark, tmpdir, monkeypatch):
    """compact_table publishes the merged manifest BEFORE tombstoning
    the merged-away sources into trash; a crash in the tombstone loop
    leaves the table reading the compacted state exactly, with the
    stragglers still at their original paths (where historical reads
    resolve them) as vacuum-able debris."""
    import nimble_spark.sources.compaction as comp

    path = f"{tmpdir}/compact_crashy"
    for j in range(6):  # six tiny commits → six small files
        df = spark.range(100 * j, 100 * (j + 1)).selectExpr("id AS k", "id AS v")
        write_table(df, path, WriteOptions(), mode="append" if j else "overwrite")
    before = read_table(spark, path)
    assert before.count() == 600

    real_rename = os.rename
    calls = {"n": 0}

    def crashing_rename(src, dst):
        # sources tombstone via rename into _nimble/trash — crash on
        # the second move, stranding the rest at their original paths
        if "/trash/" in dst.replace(os.sep, "/") and src.endswith(".parquet"):
            calls["n"] += 1
            if calls["n"] == 2:
                # NOT OSError: the loop deliberately swallows OSError
                # per file ("already gone"); a process crash doesn't
                raise RuntimeError("simulated crash mid tombstone-move")
        return real_rename(src, dst)

    monkeypatch.setattr(comp.os, "rename", crashing_rename)
    with pytest.raises(RuntimeError, match="simulated crash"):
        comp.compact_table(spark, path, target_file_bytes=64 * 1024 * 1024)
    monkeypatch.undo()
    assert calls["n"] == 2  # the simulated crash actually fired

    m = read_manifest(path)
    # the publish landed: manifest is the compacted one and fully readable
    assert any("compact-" in f["path"] for f in m["files"])
    out = read_table(spark, path)
    assert out.count() == 600
    assert out.select("k").distinct().count() == 600
    for f in m["files"]:
        assert os.path.exists(os.path.join(path, f["path"]))
    # stragglers are unreferenced; vacuum reclaims, table unchanged
    from nimble_spark.sources.compaction import vacuum_table

    vacuum_table(path, min_age_s=0.0)
    assert read_table(spark, path).count() == 600


def test_compaction_preserves_manifest_order_and_row_range(spark, tmpdir):
    """Merged files take their bin's first-member POSITION in the
    manifest (order is the authority, not filenames), so row_range
    reads over a compacted clustered table stay range-ordered."""
    from nimble_spark.sources.compaction import compact_table

    path = f"{tmpdir}/compact_order"
    df = spark.range(1000).selectExpr("id AS k", "id * 3 AS v")
    write_table(df, path, WriteOptions(cluster_by=["k"], n_cluster_files=5))
    r = compact_table(spark, path, target_file_bytes=64 * 1024 * 1024)
    assert r["files_after"] < r["files_before"]
    m = read_manifest(path)
    # cluster range order still strictly increasing across the manifest
    bounds = [(f["min"]["k"], f["max"]["k"]) for f in m["files"]]
    for (_lo1, hi1), (lo2, _hi2) in zip(bounds, bounds[1:]):
        assert hi1 <= lo2
    # row_range addresses rows in manifest (range) order
    got = read_table(spark, path, row_range=(100, 110))
    assert sorted(r["k"] for r in got.collect()) == list(range(100, 110))

    # an APPEND after compaction must not scramble the compacted
    # entries' positions (prior-manifest order is the authority even
    # though compact-* names sort differently from part-* names)
    extra = spark.range(5000, 5100).selectExpr("id AS k", "id * 3 AS v")
    write_table(extra, path, WriteOptions(), mode="append")
    m2 = read_manifest(path)
    assert [f["path"] for f in m2["files"][: len(m["files"])]] == [
        f["path"] for f in m["files"]
    ]
    got = read_table(spark, path, row_range=(100, 110))
    assert sorted(r["k"] for r in got.collect()) == list(range(100, 110))


def test_concurrent_appends_on_sharded_manifest(spark, tmpdir, monkeypatch):
    """The contended-append drill repeated with the manifest FORCED
    sharded (low threshold + tiny pages): every commit repaginates
    under the lock, prior-page reuse (identity tier first, sha
    fallback) runs concurrently with other writers' materializations,
    and the final paged manifest must carry every row exactly once.
    Guards the repagination fast paths against interleaving bugs the
    single-writer tests can't see."""
    import nimble_spark.sources.table as tbl

    monkeypatch.setattr(tbl, "SHARD_FILE_THRESHOLD", 4)
    monkeypatch.setattr(tbl, "MANIFEST_PAGE_SIZE", 3)

    path = f"{tmpdir}/contended_sharded"
    base = spark.range(100).selectExpr("id AS k", "id AS v")
    write_table(base, path, WriteOptions())

    errors: list[Exception] = []

    def appender(tid: int):
        try:
            for j in range(3):
                lo = 1000 * (tid + 1) + 100 * j
                df = spark.range(lo, lo + 100).selectExpr("id AS k", "id AS v")
                write_table(df, path, WriteOptions(), mode="append")
        except Exception as e:  # noqa: BLE001
            errors.append(e)

    threads = [threading.Thread(target=appender, args=(t,)) for t in range(6)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors, errors[:3]

    # the manifest ended up (and stayed) sharded
    import json as _json

    with open(os.path.join(path, tbl.MANIFEST_DIR, tbl.MANIFEST_NAME)) as fh:
        raw = _json.load(fh)
    assert "file_pages" in raw and "files" not in raw

    m = read_manifest(path)
    expect = 100 + 6 * 3 * 100
    assert m["rows"] == expect
    got = read_table(spark, path)
    assert got.count() == expect
    assert got.select("k").distinct().count() == expect  # no dup, no loss
    assert len(m.get("commits", [])) == 1 + 6 * 3
