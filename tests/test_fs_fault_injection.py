"""Systematic crash-point injection over the metadata protocol.

The reference proves writer crash-safety with interrupted-write tests
(dwio/nimble/velox/tests/VeloxWriterTests.cpp exercises flush/close
failure paths); the table-format analogue here is a CRASH-POINT SWEEP:
every lifecycle mutation runs once per possible metadata-FS crash
boundary — the k-th mutating call (write_atomic / move / delete /
delete_tree / makedirs) raises and the FS then plays dead (every later
call fails too, like a killed process) — and after every single crash
point the invariants must hold:

  * the table reads as EXACTLY the pre-op state or the post-op state —
    never a torn mix, never unreadable (read_manifest's not-found path
    runs repair_interrupted_swap, so recovery is part of the read);
  * if the crash landed before the publish (pre-state observed), a
    plain RETRY of the same op through the debris must succeed and
    land the post-state;
  * VACUUM on the crashed-then-converged table reclaims the debris
    without changing the view.

Scope: the metadata protocol only. Data-plane writes (Spark/pyarrow
parquet IO) ride Spark's own committers and are not routed through
MetadataFS. Mask publishes ARE injectable since r11: publish_mask_batch
commits a batch with one atomic marker write through the seam (the
VERDICT r10 #2 fix — before, the Spark parquet write alone made the
batch visible and a crash mid-job-commit could leave a PARTIAL mask
applied), so delete_rows / delete_where / a deletes-only apply_changes
window sweep like every other mutation. Vacuum-of-a-clean-table
(nothing to do) remains a retry/cleanup step, not an injection target.

The exception-based "crash" is one step weaker than SIGKILL: unwinding
releases the commit lock (a real crash leaves it for the stale-break
path, drilled in test_multiprocess_lock.py). Everything else — partial
staging dirs, missing table dirs mid-swap, half-moved trash,
orphaned pages — is the real on-disk state a kill would leave.

Both FS personalities run the sweep: LocalFS (atomic rename) and
ObjectStoreSimFS (copy+delete move, no directory rename — MORE crash
boundaries, including mid-copy ones rename never has).
"""

from __future__ import annotations

import os
import shutil

import pytest

from nimble_spark.sources.alter import alter_table
from nimble_spark.sources.compaction import (
    compact_table,
    recluster_table,
    vacuum_table,
)
from nimble_spark.sources.deletes import (
    compact_deletes,
    delete_rows,
    delete_where,
    read_with_deletes,
)
from nimble_spark.sources.fs import LocalFS, ObjectStoreSimFS, set_fs
from nimble_spark.sources.merge import apply_changes, merge_into, update_where
from nimble_spark.sources.table import (
    WriteOptions,
    read_manifest,
    rollback_table,
    write_table,
)

# Long-running fuzz/soak/drill tier: excluded from the driver-window
# default run (pytest.ini addopts); the FULL suite (-m "") remains the
# builder's round-exit gate.
pytestmark = pytest.mark.slow

MUTATIONS = frozenset(
    {"write_atomic", "move", "delete", "delete_tree", "makedirs",
     "write_if_version"}
)
_ALL = (
    "read_bytes", "write_atomic", "exists", "version", "mtime",
    "list_dir", "walk", "makedirs", "move", "delete", "delete_tree",
    "write_if_version",
)


class InjectedCrash(RuntimeError):
    """Deliberately NOT an OSError: the pinned best-effort swallows
    (tests/test_exception_swallows.py) catch OSError, and a simulated
    crash must never be 'handled' — dead processes don't continue."""


class CrashFS:
    """Wraps a delegate MetadataFS; the ``fail_at``-th MUTATING call
    raises BEFORE touching storage (``after=True``: after touching it
    — the crash-past-the-last-write boundary), then the FS plays dead:
    every subsequent call of any kind raises too."""

    def __init__(self, inner, fail_at: int = 0, after: bool = False):
        self.inner = inner
        self.fail_at = fail_at
        self.after = after
        self.mutations = 0
        self.dead = False


def _forward(name):
    def call(self, *args, **kwargs):
        if self.dead:
            raise InjectedCrash(f"dead FS: {name}")
        if name in MUTATIONS:
            self.mutations += 1
            if self.mutations == self.fail_at and not self.after:
                self.dead = True
                raise InjectedCrash(f"crash before mutation #{self.fail_at}: {name}")
            out = getattr(self.inner, name)(*args, **kwargs)
            if self.mutations == self.fail_at:  # after=True path
                self.dead = True
                raise InjectedCrash(f"crash after mutation #{self.fail_at}: {name}")
            return out
        return getattr(self.inner, name)(*args, **kwargs)

    return call


for _name in _ALL:
    setattr(CrashFS, _name, _forward(_name))


def _lock(self, table_path, **kwargs):
    # The lock itself is not a crash target (its O_EXCL create is not a
    # table mutation; unwinding releases it anyway — see module doc).
    return self.inner.commit_lock(table_path, **kwargs)


CrashFS.commit_lock = _lock
CrashFS.supports_atomic_dir_move = property(
    lambda self: self.inner.supports_atomic_dir_move
)
CrashFS.supports_cas_publish = property(
    lambda self: getattr(self.inner, "supports_cas_publish", False)
)


# ---------------------------------------------------------------------------
# the op matrix
# ---------------------------------------------------------------------------

def _df(spark, rows):
    return spark.createDataFrame(list(rows), "k LONG, v LONG")


def _build(spark, path):
    """Two commits, clustered, synopses declared — every protocol
    surface (cluster index, stats sidecars, NDV/SUM synopses, multi-
    commit history) is present so a crash can tear any of them."""
    write_table(
        _df(spark, [(k, k * 10) for k in range(12)]),
        path,
        WriteOptions(
            cluster_by=["k"], n_cluster_files=2,
            ndv_columns=["k"], sum_columns=["v"],
        ),
    )
    write_table(
        _df(spark, [(k, k * 10) for k in range(12, 18)]),
        path,
        WriteOptions(),
        mode="append",
    )


def _ops(spark):
    """name -> (setup|None, op). Each op is retry-safe from the
    pre-state by construction (same batch / same predicate)."""
    return {
        "append": (
            None,
            lambda p: write_table(
                _df(spark, [(100, 1), (101, 2)]), p, WriteOptions(), mode="append"
            ),
        ),
        "update": (
            None,
            lambda p: update_where(spark, p, "k >= 9", {"v": "v + 1"}),
        ),
        "merge": (
            None,
            lambda p: merge_into(spark, p, _df(spark, [(3, 999), (200, 5)]), key="k"),
        ),
        "compact_deletes": (
            lambda p: delete_rows(spark, p, "k", [2, 4]),
            lambda p: compact_deletes(spark, p),
        ),
        # mask publishes (r11): the batch is INVISIBLE until the atomic
        # marker write — a crash at any boundary leaves the pre-state
        # (never a partially-applied mask), retry publishes a fresh batch
        "delete_rows": (
            None,
            lambda p: delete_rows(spark, p, "k", [2, 4]),
        ),
        "delete_where": (
            None,
            lambda p: delete_where(spark, p, "k", "k >= 15"),
        ),
        "apply_changes_deletes": (
            None,
            lambda p: apply_changes(
                spark,
                p,
                spark.createDataFrame(
                    [(5, 50, 99, "delete"), (6, 60, 99, "delete")],
                    "k LONG, v LONG, _commit LONG, _change_type STRING",
                ),
                "k",
            ),
        ),
        "compact": (
            None,
            lambda p: compact_table(spark, p, target_file_bytes=64 * 1024 * 1024),
        ),
        # the fixture's appended keys sit past the clustered ranges, so
        # the setup appends keys inside both of them: the incremental
        # recluster then rewrites exactly those two overlap components
        "recluster_incremental": (
            lambda p: write_table(
                _df(spark, [(2, 1), (9, 2)]), p, WriteOptions(), mode="append"
            ),
            lambda p: recluster_table(spark, p, incremental=True),
        ),
        "alter_rename": (
            None,
            lambda p: alter_table(p, rename={"v": "val"}),
        ),
        "rollback": (
            None,
            lambda p: rollback_table(spark, p, commit=0),
        ),
        # overwrite of an EXISTING table rides the staged swap (r8:
        # the in-place Spark overwrite cleared the old generation
        # before publishing the new manifest — a crash between lost
        # the table outright, old data deleted, new unpublished)
        "overwrite": (
            None,
            lambda p: write_table(
                _df(spark, [(500, 1), (501, 2)]), p, WriteOptions(),
                mode="overwrite",
            ),
        ),
    }


def _state(spark, path):
    """(columns, row multiset, referenced file count, pending masks) —
    the observable table state. File count and mask flag distinguish
    the pre/post states of physical-only ops (compact preserves every
    row; compact_deletes only materializes masks), and a torn manifest
    mixing old and new file generations fails the file-count equality
    even when rows happen to match. Reading also proves the manifest
    parses and any interrupted swap self-repairs."""
    df = read_with_deletes(spark, path)
    cols = tuple(sorted(df.columns))
    rows = sorted(tuple(r[c] for c in cols) for r in df.collect())
    from nimble_spark.sources.deletes import has_pending_masks

    n_files = len(read_manifest(path)["files"])
    return (cols, rows, n_files, has_pending_masks(path))


def _count_mutations(spark, base_fs, pristine, path, setup, op):
    """Dry-run the op on a counting (never-failing) FS; returns
    (n_mutations, post_state)."""
    shutil.rmtree(path, ignore_errors=True)
    shutil.copytree(pristine, path)
    if setup:
        setup(path)
    cfs = CrashFS(base_fs, fail_at=0)
    prev = set_fs(cfs)
    try:
        op(path)
    finally:
        set_fs(prev)
    return cfs.mutations, _state(spark, path)


def _sweep(spark, tmpdir, base_fs, op_name):
    setup, op = _ops(spark)[op_name]
    pristine = os.path.join(str(tmpdir), "pristine")
    _build(spark, pristine)
    work = os.path.join(str(tmpdir), "work")

    total, post = _count_mutations(spark, base_fs, pristine, work, setup, op)
    assert total >= 1, f"{op_name}: no metadata mutations to inject into"

    # pre-state: pristine + setup (the state the op starts from)
    shutil.rmtree(work, ignore_errors=True)
    shutil.copytree(pristine, work)
    if setup:
        setup(work)
    pre = _state(spark, work)
    assert pre != post, f"{op_name}: op must change observable state"

    # every before-boundary, plus the after-the-last-write boundary
    trials = [(k, False) for k in range(1, total + 1)] + [(total, True)]
    for fail_at, after in trials:
        shutil.rmtree(work, ignore_errors=True)
        shutil.copytree(pristine, work)
        if setup:
            setup(work)
        tag = f"{op_name}@{'post' if after else 'pre'}-mutation-{fail_at}"

        prev = set_fs(CrashFS(base_fs, fail_at=fail_at, after=after))
        crashed = False
        try:
            op(work)
        except InjectedCrash:
            crashed = True
        finally:
            set_fs(prev)
        assert crashed, f"{tag}: op swallowed the injected crash"

        # 1) never torn, never unreadable
        got = _state(spark, work)
        assert got in (pre, post), f"{tag}: torn state {got}"

        # 2) retry through the debris converges on the post-state
        if got == pre:
            op(work)
        assert _state(spark, work) == post, f"{tag}: retry diverged"

        # 3) vacuum reclaims debris without changing the view, and the
        # manifest still parses afterwards
        vacuum_table(work, min_age_s=0.0)
        assert _state(spark, work) == post, f"{tag}: vacuum changed the view"
        assert read_manifest(work)["rows"] >= 0


OP_NAMES = ["append", "update", "merge", "compact_deletes", "compact",
            "recluster_incremental", "alter_rename", "rollback", "overwrite",
            "delete_rows", "delete_where", "apply_changes_deletes"]


@pytest.mark.parametrize("op_name", OP_NAMES)
def test_crash_sweep_local_fs(spark, tmpdir, op_name):
    _sweep(spark, tmpdir, LocalFS(), op_name)


@pytest.mark.parametrize("op_name", OP_NAMES)
def test_crash_sweep_object_store_semantics(spark, tmpdir, op_name):
    """The same sweep under copy+delete moves and no directory rename —
    strictly more crash boundaries (a move can die between its copy
    and its delete, leaving the object in both places)."""
    _sweep(spark, tmpdir, ObjectStoreSimFS(), op_name)


def test_crash_during_crash_recovery(spark, tmpdir):
    """Second-order sweep: crash compact_deletes (the staged-swap
    rewrite) at representative points, then crash VACUUM — which runs
    repair_interrupted_swap — at every one of ITS mutation points, and
    require a final clean vacuum to still converge. Recovery must be
    as re-runnable as the op it recovers."""
    base_fs = ObjectStoreSimFS()
    setup, op = _ops(spark)["compact_deletes"]
    pristine = os.path.join(str(tmpdir), "pristine")
    _build(spark, pristine)
    work = os.path.join(str(tmpdir), "work")

    total, post = _count_mutations(spark, base_fs, pristine, work, setup, op)
    shutil.rmtree(work, ignore_errors=True)
    shutil.copytree(pristine, work)
    setup(work)
    pre = _state(spark, work)

    for fail_at in sorted({1, max(1, total // 2), total}):
        # count the recovery's own mutations at this crash point
        def _crashed_table():
            shutil.rmtree(work, ignore_errors=True)
            shutil.copytree(pristine, work)
            setup(work)
            prev = set_fs(CrashFS(base_fs, fail_at=fail_at))
            try:
                with pytest.raises(InjectedCrash):
                    op(work)
            finally:
                set_fs(prev)

        _crashed_table()
        cfs = CrashFS(base_fs, fail_at=0)
        prev = set_fs(cfs)
        try:
            vacuum_table(work, min_age_s=0.0)
        finally:
            set_fs(prev)
        rec_total = cfs.mutations

        for rec_fail in range(1, rec_total + 1):
            _crashed_table()
            prev = set_fs(CrashFS(base_fs, fail_at=rec_fail))
            try:
                vacuum_table(work, min_age_s=0.0)
            except InjectedCrash:
                pass
            finally:
                set_fs(prev)
            # doubly-crashed table: still never torn...
            got = _state(spark, work)
            assert got in (pre, post), (
                f"op@{fail_at}, recovery@{rec_fail}: torn {got}"
            )
            # ...and a clean vacuum + retry still converges
            vacuum_table(work, min_age_s=0.0)
            if _state(spark, work) == pre:
                op(work)
            assert _state(spark, work) == post, (
                f"op@{fail_at}, recovery@{rec_fail}: no convergence"
            )


def test_pyds_overwrite_publish_first(spark, tmpdir):
    """df.write.format('nimble').mode('overwrite') on an existing
    table is publish-first: a crash at the manifest publish leaves the
    OLD generation fully readable (the old ordering swept the old
    files before publishing — a crash left a live manifest pointing at
    deleted files); a crash during the post-publish sweep leaves the
    NEW table live with old-generation debris for vacuum."""
    # The DS write/commit phases run in Spark's Python workers, out of
    # reach of this process's FS seam — drive the COMMIT directly (the
    # write phase is plain per-task parquet staging) so the crash can
    # be injected at its metadata mutations.
    import pyarrow as pa
    import pyarrow.parquet as pq

    from nimble_spark.sources.datasource import NimbleWriteMessage, NimbleWriter

    path = os.path.join(str(tmpdir), "t")
    _build(spark, path)
    pre = _state(spark, path)

    def _stage():
        w = NimbleWriter(path, overwrite=True)
        rel = f"pyds-{w.job_token}-deadbeef.parquet"
        pq.write_table(
            pa.table({"k": [700, 701], "v": [7, 8]}), os.path.join(path, rel)
        )
        return w, [NimbleWriteMessage(rel_path=rel, rows=2)]

    # crash exactly at the manifest publish (first metadata mutation
    # of the commit: the old-generation sweep now runs after it)
    w, msgs = _stage()
    prev = set_fs(CrashFS(LocalFS(), fail_at=1))
    try:
        with pytest.raises(InjectedCrash):
            w.commit(msgs)
    finally:
        set_fs(prev)
    assert _state(spark, path) == pre, "old generation must survive"

    # a crash DURING the post-publish sweep leaves the new table live
    w, msgs = _stage()
    prev = set_fs(CrashFS(LocalFS(), fail_at=3))
    try:
        with pytest.raises(InjectedCrash):
            w.commit(msgs)
    finally:
        set_fs(prev)
    got = _state(spark, path)
    assert sorted(got[1]) == [(700, 7), (701, 8)], got[1]
    # ...and vacuum reclaims the old-generation debris
    vacuum_table(path, min_age_s=0.0)
    assert _state(spark, path) == got


def test_pyds_overwrite_consumes_pending_masks(spark, tmpdir):
    """Pre-existing delete masks die with the replaced table: before
    the consumed_masks fence, a pyds overwrite left the mask dirs
    live (its sweep excludes _nimble) and they silently swallowed
    matching keys in the NEW data."""
    from nimble_spark.sources.datasource import register_nimble_source
    from nimble_spark.sources.deletes import has_pending_masks

    register_nimble_source(spark)
    path = os.path.join(str(tmpdir), "t")
    _build(spark, path)
    delete_rows(spark, path, "k", [3, 5])
    assert has_pending_masks(path)

    # overwrite with rows REUSING a masked key — it must be visible
    _df(spark, [(3, 333), (99, 9)]).write.format("nimble").mode(
        "overwrite"
    ).save(path)
    assert not has_pending_masks(path)
    got = _state(spark, path)
    assert sorted(got[1]) == [(3, 333), (99, 9)], got[1]


# ---------------------------------------------------------------------------
# partitioned-table sweep: partition directories add makedirs/move
# boundaries the flat table never hits, and overwrite_partitions (the
# idempotent-backfill primitive) gets its own crash drill
# ---------------------------------------------------------------------------

def _pdf(spark, rows):
    return spark.createDataFrame(list(rows), "k LONG, v LONG, p LONG")


def _build_partitioned(spark, path):
    write_table(
        _pdf(spark, [(k, k * 10, k % 3) for k in range(12)]),
        path,
        WriteOptions(partition_by=["p"], ndv_columns=["k"], sum_columns=["v"]),
    )
    write_table(
        _pdf(spark, [(k, k * 10, k % 3) for k in range(12, 18)]),
        path,
        WriteOptions(partition_by=["p"]),
        mode="append",
    )


def _part_ops(spark):
    from nimble_spark.sources.merge import overwrite_partitions

    return {
        "append": lambda p: write_table(
            _pdf(spark, [(100, 1, 0), (101, 2, 4)]), p,
            WriteOptions(partition_by=["p"]), mode="append",
        ),
        "update": lambda p: update_where(spark, p, "k >= 9", {"v": "v + 1"}),
        "overwrite_partitions": lambda p: overwrite_partitions(
            spark, _pdf(spark, [(200, 5, 1), (201, 6, 1)]), p
        ),
        "compact": lambda p: compact_table(
            spark, p, target_file_bytes=64 * 1024 * 1024
        ),
    }


@pytest.mark.parametrize("op_name", ["append", "update",
                                     "overwrite_partitions", "compact"])
@pytest.mark.parametrize("fs_kind", ["local", "objsim"])
def test_crash_sweep_partitioned(spark, tmpdir, fs_kind, op_name):
    base_fs = LocalFS() if fs_kind == "local" else ObjectStoreSimFS()
    op = _part_ops(spark)[op_name]
    pristine = os.path.join(str(tmpdir), "pristine")
    _build_partitioned(spark, pristine)
    work = os.path.join(str(tmpdir), "work")

    total, post = _count_mutations(spark, base_fs, pristine, work, None, op)
    assert total >= 1, f"{op_name}: nothing to inject into"

    shutil.rmtree(work, ignore_errors=True)
    shutil.copytree(pristine, work)
    pre = _state(spark, work)
    assert pre != post

    for fail_at in range(1, total + 1):
        shutil.rmtree(work, ignore_errors=True)
        shutil.copytree(pristine, work)
        tag = f"partitioned/{fs_kind}/{op_name}@{fail_at}"
        prev = set_fs(CrashFS(base_fs, fail_at=fail_at))
        try:
            with pytest.raises(InjectedCrash):
                op(work)
        finally:
            set_fs(prev)
        got = _state(spark, work)
        assert got in (pre, post), f"{tag}: torn state {got}"
        if got == pre:
            op(work)
        assert _state(spark, work) == post, f"{tag}: retry diverged"
        vacuum_table(work, min_age_s=0.0)
        assert _state(spark, work) == post, f"{tag}: vacuum changed the view"


@pytest.mark.parametrize("op_name", ["compact_deletes", "overwrite"])
def test_crash_sweep_fsspec_adapter(spark, tmpdir, op_name):
    """The sweep's rewrite-heavy ops on the fsspec adapter
    (FsspecFS over the in-repo contract double): crash recovery must
    hold through a THIRD-PARTY FS API shape — copy+rm moves, no
    directory rename, republish rewrites — not just in-repo impls."""
    from nimble_spark.sources.fs_fsspec import FsspecFS, _MiniLocalFsspec

    _sweep(spark, tmpdir, FsspecFS(_MiniLocalFsspec()), op_name)


def test_stream_batch_replay_exactly_once(spark, tmpdir):
    """foreachBatch is at-least-once: a crash between the table's
    manifest publish and Spark's checkpoint write REPLAYS the batch.
    append_stream_batch records (stream_sink, stream_batch_id) inside
    the atomic publish, so the replay is detected and skipped — and a
    crash BEFORE the publish leaves no marker, so that replay lands
    the rows exactly once."""
    from nimble_spark.streaming.sink import append_stream_batch

    path = os.path.join(str(tmpdir), "t")
    ckpt = os.path.join(str(tmpdir), "ckpt")

    b0 = _df(spark, [(1, 10), (2, 20)])
    b1 = _df(spark, [(3, 30), (4, 40)])

    assert append_stream_batch(b0, 0, path, ckpt) is True
    # replay of a COMMITTED batch (crash after publish): skipped
    assert append_stream_batch(b0, 0, path, ckpt) is False
    assert sorted(_state(spark, path)[1]) == [(1, 10), (2, 20)]

    # crash DURING batch 1's publish → no marker lands
    prev = set_fs(CrashFS(LocalFS(), fail_at=1))
    try:
        with pytest.raises(InjectedCrash):
            append_stream_batch(b1, 1, path, ckpt)
    finally:
        set_fs(prev)
    assert sorted(_state(spark, path)[1]) == [(1, 10), (2, 20)]
    # the replay after restart lands batch 1 exactly once
    assert append_stream_batch(b1, 1, path, ckpt) is True
    assert append_stream_batch(b1, 1, path, ckpt) is False
    assert sorted(_state(spark, path)[1]) == [
        (1, 10), (2, 20), (3, 30), (4, 40)
    ]
    # a different checkpoint (a DIFFERENT stream) is its own sink:
    # same batch id must not be confused with the first stream's
    assert append_stream_batch(
        _df(spark, [(9, 90)]), 1, path, os.path.join(str(tmpdir), "ckpt2")
    ) is True
    assert (9, 90) in _state(spark, path)[1]


def test_ds_stream_batch_id_stamp_is_atomic(spark, tmpdir):
    """The DS stream sink's replay check reads batch_id from the
    commit log; the stamp must ride the commit's OWN publish — a
    separate stamp-publish left a crash window where the data
    committed but the stamp didn't, so the replay appended twice."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from nimble_spark.sources.datasource import (
        NimbleStreamWriter,
        NimbleWriteMessage,
    )

    path = os.path.join(str(tmpdir), "t")
    w = NimbleStreamWriter(path)

    _n = [0]

    def _stage(rows):
        # unique name per attempt, like real task-attempt uuids
        _n[0] += 1
        rel = f"pyds-{w._delegate.job_token}-a{_n[0]}.parquet"
        pq.write_table(
            pa.table({"k": [r[0] for r in rows], "v": [r[1] for r in rows]}),
            os.path.join(path, rel),
        )
        return [NimbleWriteMessage(rel_path=rel, rows=len(rows))]

    b0 = _stage([(1, 10), (2, 20)])
    w.commit(b0, 0)
    m = read_manifest(path)
    assert m["commits"][-1]["batch_id"] == 0  # stamped IN the commit
    # replay of batch 0: dropped — and even a replay message naming
    # the COMMITTED file (name reuse) must not delete live data
    w.commit(b0, 0)
    assert read_manifest(path)["rows"] == 2
    assert os.path.exists(os.path.join(path, b0[0].rel_path))
    back = spark.read.parquet(os.path.join(path, b0[0].rel_path))
    assert back.count() == 2

    # crash anywhere inside batch 1's commit → either the publish
    # carried the stamp (replay skips) or nothing landed (replay
    # commits once) — never a stampless committed batch
    msgs = _stage([(3, 30)])
    prev = set_fs(CrashFS(LocalFS(), fail_at=1))
    try:
        with pytest.raises(InjectedCrash):
            w.commit(msgs, 1)
    finally:
        set_fs(prev)
    m = read_manifest(path)
    for c in m.get("commits", []):
        assert "batch_id" in c, f"stampless commit: {c}"
    w.commit(_stage([(3, 30)]), 1)
    w.commit(_stage([(3, 30)]), 1)  # and the replay after success
    assert read_manifest(path)["rows"] == 3


def test_ds_stream_sink_cas_path(spark, tmpdir):
    """r10 (VERDICT r9 #8): on a 'cas'-disciplined table over a
    conditional-PUT store, the stream sink's micro-batch commit goes
    LOCK-FREE — the replay check and the publish are made atomic by
    gating write_if_version on the root version observed before the
    check. Re-runs the lock path's stamp-atomicity + replay + crash
    drills on this path, plus the property the lock path cannot give:
    a CAS tagger racing the sink commit loses nothing."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from nimble_spark.sources.datasource import (
        NimbleStreamWriter,
        NimbleWriteMessage,
    )
    from nimble_spark.sources.table import table_properties, tag_commit

    path = os.path.join(str(tmpdir), "t_cas")
    w = NimbleStreamWriter(path)

    _n = [0]

    def _stage(rows):
        _n[0] += 1
        rel = f"pyds-{w._delegate.job_token}-c{_n[0]}.parquet"
        pq.write_table(
            pa.table({"k": [r[0] for r in rows], "v": [r[1] for r in rows]}),
            os.path.join(path, rel),
        )
        return [NimbleWriteMessage(rel_path=rel, rows=len(rows))]

    # batch 0 bootstraps through the lock path (no manifest yet), then
    # the table is stamped 'cas' — every later sink commit is lock-free
    w.commit(_stage([(1, 10), (2, 20)]), 0)
    tag_commit(path, "seed", optimistic=True)
    assert table_properties(path)["nimble.commit.root_discipline"] == "cas"

    b1 = _stage([(3, 30)])
    w.commit(b1, 1)
    m = read_manifest(path)
    assert m["commits"][-1]["batch_id"] == 1  # stamped IN the publish
    assert m["rows"] == 3
    # replay of batch 1: dropped, committed file untouched
    w.commit(b1, 1)
    assert read_manifest(path)["rows"] == 3
    assert os.path.exists(os.path.join(path, b1[0].rel_path))

    # crash anywhere inside batch 2's CAS commit → either the publish
    # carried the stamp or nothing landed — never a stampless commit
    msgs = _stage([(4, 40)])
    prev = set_fs(CrashFS(LocalFS(), fail_at=1))
    try:
        with pytest.raises(InjectedCrash):
            w.commit(msgs, 2)
    finally:
        set_fs(prev)
    for c in read_manifest(path).get("commits", []):
        assert "batch_id" in c, f"stampless commit: {c}"
    w.commit(_stage([(4, 40)]), 2)
    w.commit(_stage([(4, 40)]), 2)  # replay after success: dropped
    assert read_manifest(path)["rows"] == 4

    # a CAS tagger racing the sink: publish interleaving loses neither
    # (the sink's lost CAS attempt re-reads and re-applies)
    import threading

    errs = []

    def _tagger():
        try:
            for i in range(8):
                tag_commit(path, f"race{i}", optimistic=True)
        except Exception as e:  # noqa: BLE001
            errs.append(e)

    th = threading.Thread(target=_tagger)
    th.start()
    for b in range(3, 9):
        w.commit(_stage([(b * 10, b)]), b)
    th.join(timeout=120)
    assert not errs
    m = read_manifest(path)
    assert m["rows"] == 10  # 4 + six 1-row batches
    assert {f"race{i}" for i in range(8)} <= set(m.get("tags", {}))
    batch_ids = [c.get("batch_id") for c in m["commits"]]
    assert batch_ids == sorted(set(batch_ids)), "dup or lost batch"


def test_data_plane_write_failure_leaves_table_intact(spark, tmpdir):
    """The OTHER crash surface — the Spark job itself dying mid-write
    (executor loss, task exception) before any metadata mutation. The
    failed job's partial output lives under _temporary (never visible
    to manifest-true readers or the directory scan), the manifest is
    untouched, and the next append through the debris must land
    exactly its own rows."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType

    path = os.path.join(str(tmpdir), "t")
    _build(spark, path)
    pre = _state(spark, path)

    @F.udf(returnType=LongType())
    def boom(k):
        if k == 900:
            raise RuntimeError("injected task failure")
        return k

    bad = _df(spark, [(900, 1), (901, 2)]).withColumn("k", boom("k"))
    with pytest.raises(Exception):
        write_table(bad, path, WriteOptions(), mode="append")
    assert _state(spark, path) == pre, "failed job must be invisible"

    write_table(_df(spark, [(300, 3)]), path, WriteOptions(), mode="append")
    got = _state(spark, path)
    assert sorted(got[1]) == sorted(pre[1] + [(300, 3)])
    vacuum_table(path, min_age_s=0.0)
    assert _state(spark, path) == got


def test_append_refuses_shrunken_table(spark, tmpdir):
    """A prior committed file deleted OUTSIDE the engine must fail the
    next append loudly — before the guard, the directory-scan manifest
    build silently published the table minus the missing file's rows."""
    path = os.path.join(str(tmpdir), "t")
    _build(spark, path)
    victim = read_manifest(path)["files"][0]["path"]
    os.remove(os.path.join(path, victim))
    with pytest.raises(RuntimeError, match="shrunken"):
        write_table(_df(spark, [(300, 3)]), path, WriteOptions(), mode="append")
