"""The one copy-on-write rewrite path (table._stage_rewrite +
table._publish_rewrite) that merge_into, update_where,
overwrite_partitions, compact_table, the incremental recluster and
deepen_clone share: a rewrite replaces files, never the table's
metadata, its bloom index or its vacuum story."""

from __future__ import annotations

import os
import shutil
import tempfile
import time

import pytest

from nimble_spark.sources.table import (
    MANIFEST_DIR,
    STAGING_DIR,
    WriteOptions,
    read_manifest,
    read_table,
    write_table,
)


@pytest.fixture(scope="module")
def tmpdir():
    d = tempfile.mkdtemp(prefix="nimble_cow_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _df(spark, rows):
    return spark.createDataFrame(list(rows), "k LONG, v LONG, a LONG")


def test_merge_and_update_keep_table_metadata(spark, tmpdir):
    """user_metadata, column_attributes and write_stats are table
    properties: a merge or an update replaces files, not them."""
    from nimble_spark.sources.merge import merge_into, update_where

    path = f"{tmpdir}/meta"
    attrs = {"v": {"unit": "ms"}}
    write_table(
        _df(spark, [(k, k, k) for k in range(40)]).repartition(4),
        path,
        WriteOptions(user_metadata={"owner": "x"}, column_attributes=attrs),
    )

    def check(m):
        assert m["user_metadata"]["owner"] == "x"
        assert m["column_attributes"] == attrs
        assert m["write_stats"]["n_files"] == len(m["files"])
        assert m["write_stats"]["total_bytes"] == sum(f["bytes"] for f in m["files"])

    merge_into(spark, path, _df(spark, [(3, 300, 3), (100, 1, 1)]), key="k")
    check(read_manifest(path))
    update_where(spark, path, "k >= 30", {"v": "v + 1"})
    check(read_manifest(path))
    assert read_table(spark, path).count() == 41


def test_merge_rewritten_files_keep_bloom_filters(spark, tmpdir):
    """Files a merge writes carry the table's bloom index: a probe for
    an absent value prunes every file, a merged key is still found."""
    from nimble_spark.sources.bloom import bloom_prune_files
    from nimble_spark.sources.merge import merge_into

    path = f"{tmpdir}/bloom"
    write_table(
        _df(spark, [(k, k, k * 7) for k in range(4000)]).repartition(4, "k"),
        path,
        WriteOptions(bloom_cols=["a"]),
    )
    absent = [-1, -5, 10**12]
    assert bloom_prune_files(spark, read_manifest(path), path, "a", absent) == []

    merge_into(spark, path, _df(spark, [(k, -k, 10**9 + k) for k in range(0, 400, 20)]), key="k")
    m = read_manifest(path)
    assert any("merge-" in f["path"] for f in m["files"])
    assert bloom_prune_files(spark, m, path, "a", absent) == []
    kept = bloom_prune_files(spark, m, path, "a", [10**9 + 40])
    assert kept
    got = read_table(spark, path, point_lookup=("a", [10**9 + 40]))
    assert [r["k"] for r in got.collect()] == [40]


def test_vacuum_sweeps_stale_rewrite_staging(spark, tmpdir):
    """A rewrite that died before its move-in finished leaves a dir
    under _nimble/staging; vacuum reclaims it once older than the
    grace, and leaves a fresh one (a live rewrite's) alone."""
    from nimble_spark.sources.compaction import vacuum_table

    path = f"{tmpdir}/staging"
    write_table(_df(spark, [(k, k, k) for k in range(10)]), path, WriteOptions())
    root = os.path.join(path, MANIFEST_DIR, STAGING_DIR)
    stale, fresh = os.path.join(root, "merge-stale"), os.path.join(root, "merge-fresh")
    for d in (stale, fresh):
        os.makedirs(d)
        open(os.path.join(d, "part-00000.parquet"), "w").close()
    old = time.time() - 3600
    os.utime(stale, (old, old))

    removed = vacuum_table(path, min_age_s=600.0)
    assert not os.path.exists(stale)
    assert os.path.isdir(fresh)
    assert os.path.join(MANIFEST_DIR, STAGING_DIR, "merge-stale") in removed
    assert read_table(spark, path).count() == 10
