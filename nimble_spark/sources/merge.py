"""Batch MERGE INTO (copy-on-write upsert) for nimble_spark tables.

The streaming sink (streaming/sink.py) gives merge-ON-READ: blind
appends + latest-per-key resolution at scan time. This module is the
complementary merge-ON-WRITE: matched target rows are replaced by
their source row, unmatched source rows are inserted, and — the part
that matters at 100 TB — only the files that actually contain a
matched key are rewritten. Matching uses the same per-file pruning
metadata the indexes use, so a merge touching 0.1% of keys rewrites
~0.1% of files, not the table.

The reference's mutation story is scan-time delete masks
(SelectiveNimbleReader; sources/deletes.py here); MERGE is the
table-layer operation a lakehouse builds on top, kept append-consistent
with the manifest commit log (commit mode="merge", removed files
recorded AND retained in the metadata trash until vacuum, so time
travel and CDC replays across the rewrite stay readable)."""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from nimble_spark.sources.table import (
    BUCKET_COL,
    WriteOptions,
    _plan_parquet,
    _publish_rewrite,
    _restore_aliases,
    _stage_rewrite,
    read_manifest,
    read_table,
)


def _to_logical(df: DataFrame, manifest: dict) -> DataFrame:
    """Physical file scan → the table's logical view: schema mapping
    applied AND schema-completed (an affected file may predate an
    alter_table ADD — its missing logical fields fill as typed nulls,
    exactly as a read would surface them)."""
    return _restore_aliases(df, manifest, complete=True)


def _to_physical(df: DataFrame, manifest: dict) -> DataFrame:
    """Logical → physical names before staging a rewrite's rows:
    files must stay physically consistent with the manifest schema
    (alter.py renames are metadata-only — the stored name never
    changes until a FULL rewrite materializes the mapping)."""
    renames = (manifest.get("schema_mapping") or {}).get("renames") or {}
    to_phys = {l: p for p, l in renames.items() if l in df.columns}
    return df.withColumnsRenamed(to_phys) if to_phys else df


def _reject_aliased(manifest: dict) -> None:
    """Copy-on-write rewrites read and rewrite raw files; a table
    stored with dedup_columns omits its duplicate columns physically,
    so a partial rewrite would produce a mixed layout the alias
    restore cannot describe. Materialize first (full rewrite via
    write_table(read_table(...)) or compact_deletes), then mutate."""
    if manifest.get("column_aliases"):
        raise ValueError(
            "table stores deduplicated columns (column_aliases in the "
            "manifest); copy-on-write rewrites require materialized "
            "columns - rewrite the table without dedup_columns first"
        )


def _guard_pending_masks(
    spark: SparkSession,
    path: str,
    what: str,
    source: DataFrame | None = None,
    rewritten_cols: set[str] | None = None,
) -> None:
    """Delete masks are VALUE sets (deletes.py), so a copy-on-write
    rewrite composes with them cleanly: masked rows ride through into
    the new files where the still-standing mask keeps hiding them —
    no resurrection. Exactly two compositions are hazardous, and both
    raise EXPLICITLY instead of silently corrupting reads:

    (a) a merge whose SOURCE carries a masked value would commit a
        row the standing mask swallows at every subsequent read —
        probed per pending mask column via a broadcast semi-join
        ``limit(1).count()`` (masks are broadcast-small by design;
        the probe only runs while masks are pending);
    (b) an update rewriting a MASK COLUMN's values moves rows into /
        out of the mask's shadow unpredictably — rejected by column
        name, no data read."""
    from nimble_spark.sources.deletes import DELETES_DIR, pending_mask_batches

    root = os.path.join(path, DELETES_DIR)
    # PENDING batches only (consumed_masks fence): batches a published
    # rewrite already materialized no longer shadow anything
    pending = pending_mask_batches(path)
    if not pending:
        return
    # dir names are mask-time names; map to CURRENT logical names
    # (alter.py renames don't move directories)
    try:
        _ren = (
            read_manifest(path, materialize=False).get("schema_mapping") or {}
        ).get("renames") or {}
    except (OSError, KeyError, ValueError):
        _ren = {}
    batches_of: dict[str, list[str]] = {}
    for b in pending:
        d, _, batch = b.partition("/")
        batches_of.setdefault(d, []).append(batch)
    dir_of = {_ren.get(d, d): d for d in batches_of}
    mask_cols = list(dir_of)
    if rewritten_cols is not None:
        hit = sorted(set(mask_cols) & rewritten_cols)
        if hit:
            raise ValueError(
                f"{what} rewrites mask column(s) {hit} while delete masks "
                "are pending — updated values would move rows into/out of "
                "the mask's shadow; run compact_deletes first"
            )
    if source is None:
        return
    for mc in mask_cols:
        if mc not in source.columns:
            continue
        mdir = os.path.join(root, dir_of[mc])
        mask = spark.read.parquet(
            *[os.path.join(mdir, d) for d in batches_of[dir_of[mc]]]
        ).toDF(mc)  # stored under the write-time name; bind to current
        swallowed = (
            source.select(mc)
            .join(F.broadcast(mask.select(mc).distinct()), mc, "left_semi")
            .limit(1)
            .count()
        )
        if swallowed:
            raise ValueError(
                f"{what} source carries value(s) masked by a pending delete "
                f"on {mc!r} — the standing mask would silently swallow the "
                "merged row; run compact_deletes first or drop those rows "
                "from the source"
            )


def merge_into(
    spark: SparkSession,
    path: str,
    source: DataFrame,
    key: str,
    opts: WriteOptions | None = None,
) -> dict:
    """MERGE ``source`` into the table at ``path`` on ``key``:
    WHEN MATCHED → replace the target row with the source row,
    WHEN NOT MATCHED → insert the source row. Returns the manifest.

    Copy-on-write at file granularity:

    1. Affected files = target files holding at least one source key,
       found by a distributed semi-join of the target scan (with
       ``input_file_name``) against the source keys — the source is
       never collected; only the distinct FILE list (metadata,
       bounded by file count) reaches the driver.
    2. Rewrite = (affected-file rows anti-join source keys) ∪ source.
       Unaffected files are untouched bytes and keep their manifest
       entries verbatim (no re-hash).
    3. Commit (table._stage_rewrite, table._publish_rewrite — the
       path every copy-on-write rewrite shares): the new files stage
       under ``_nimble/staging`` with the table's writer options and
       move in under fresh names; only they are described; the
       manifest publishes with a ``mode="merge"`` commit-log entry,
       and only then do the replaced files move to the retention
       trash. A reader holding the old manifest still resolves the
       old files until the atomic manifest rename lands.

    Directory-shaped layouts: Hive partitions and hash buckets are
    PRESERVED — rewritten rows are staged with the table's own
    partitionBy layout (buckets recomputed with the writer's exact
    hash) and moved under their directories, so every pruning path
    stays exactly as selective after the merge. Merging ON the
    bucket key additionally prunes the DISCOVERY scan to the
    candidate bucket directories (≤ n_buckets of metadata at the
    driver) — a 0.1%-of-keys merge on a bucketed 100 TB table scans
    only the buckets those keys hash to. ``cut`` files (whole groups
    per file) still raise: a partial rewrite cannot re-cut without
    re-shuffling the whole table. Stats-shaped indexes (cluster
    ranges, sorted fence) carry forward — per-file min/max stays
    correct on mixed layouts — and the new files carry the table's
    bloom filters.
    """
    manifest = read_manifest(path)
    _reject_aliased(manifest)
    _guard_pending_masks(spark, path, "merge_into", source=source)
    pidx = manifest.get("indexes", {})
    if "cut" in pidx:
        raise ValueError(
            "merge_into does not preserve the cut layout (whole groups "
            "per file need a full re-shuffle); compact to a plain table "
            "first or use the streaming upsert sink"
        )
    tgt = read_table(spark, path)
    if key not in tgt.columns:
        raise ValueError(f"merge key {key!r} not in table schema {tgt.columns}")
    if sorted(source.columns) != sorted(tgt.columns):
        raise ValueError(
            f"source schema {sorted(source.columns)} must match target "
            f"{sorted(tgt.columns)}"
        )
    # Align source TYPES to the table schema before anything hashes or
    # stores them: xxhash64 is width-sensitive (an INT source key
    # hashes differently from the declared LONG for the same value),
    # so a type-mismatched key would compute wrong bucket ordinals —
    # missed matches in discovery, and rewritten rows landing in
    # directories the table's point lookups never read. Only LOSSLESS
    # widenings are cast implicitly; anything else raises — a blanket
    # non-ANSI cast would silently wrap an out-of-range value or null
    # an unparseable one and commit the corruption.
    from nimble_spark.sources.table import _safe_widening

    tgt_types = {f.name: f.dataType for f in tgt.schema.fields}
    src_types = {f.name: f.dataType for f in source.schema.fields}
    aligned = []
    for c in tgt.columns:
        st, tt = src_types[c].simpleString(), tgt_types[c].simpleString()
        if st == tt:
            aligned.append(F.col(c))
        elif _safe_widening(st, tt):
            aligned.append(F.col(c).cast(tgt_types[c]).alias(c))
        else:
            raise ValueError(
                f"source column {c!r} type {st} does not losslessly widen "
                f"to the table's {tt}; cast the source explicitly"
            )
    source = source.select(*aligned)
    keys = source.select(key).distinct()

    # 1. affected-file discovery: distributed semi-join, then a
    # file-granularity distinct — bounded metadata on the driver
    # (≤ number of table files), same class as the sorted-index file
    # list in table.py. Merging on the hash index key narrows the
    # scan itself first: the source keys' bucket set (≤ n_buckets
    # values — bounded metadata) prunes to the candidate directories
    # before any data byte is read.
    h = pidx.get("hash")
    if h and h["key"] == key and manifest.get("files"):
        hit = {
            r["b"]
            for r in keys.select(
                F.pmod(F.xxhash64(F.col(key)), F.lit(h["n_buckets"])).alias("b")
            )
            .distinct()
            .collect()
        }
        cand = [
            f["path"]
            for f in manifest["files"]
            # None = outside any bucket dir (shouldn't happen on a
            # bucketed table, but conservatively keep such files as
            # candidates rather than silently skipping their keys)
            if (b := _bucket_of(f["path"])) in hit or b is None
        ]
        scan = (
            _to_logical(
                _plan_parquet(
                    spark, [os.path.join(path, f) for f in cand], path, "merge discovery", manifest
                ),
                manifest,
            ).select(*tgt.columns)
            if cand
            else tgt.limit(0)
        )
    else:
        scan = tgt
    affected = _affected_files(
        path,
        scan.withColumn("_f", F.input_file_name()).join(keys, key, "left_semi"),
        manifest,
    )

    # 2. the rewrite set: survivors of affected files + every source row
    cols = tgt.columns
    if affected:
        # _plan_parquet, not a raw reader: partition values exist only
        # as directory strings, and re-inferring their type here would
        # REWRITE '01' as the integer 1 — durable corruption, not a
        # read-side glitch (see table._plan_parquet).
        aff_df = _to_logical(
            _plan_parquet(
                spark, [os.path.join(path, f) for f in affected], path, "merge rewrite", manifest
            ),
            manifest,
        ).select(*cols)
        new_rows = aff_df.join(keys, key, "left_anti").unionByName(source.select(*cols))
    else:
        new_rows = source.select(*cols)

    staged = _stage_rewrite(
        spark, path, manifest, _to_physical(new_rows, manifest), "merge",
        compression=(opts or WriteOptions()).compression,
    )
    return _publish_rewrite(path, manifest, affected, {None: staged}, "merge")


def _bucket_of(rel: str) -> int | None:
    """Bucket ordinal of a manifest relpath (``__nimble_bucket=N/...``),
    None for files outside a bucket directory (kept candidates)."""
    for seg in os.path.normpath(rel).split(os.sep)[:-1]:
        if seg.startswith(f"{BUCKET_COL}="):
            try:
                return int(seg.split("=", 1)[1])
            except ValueError:
                return None
    return None


def _affected_files(
    path: str, matched: DataFrame, manifest: dict | None = None
) -> list[str]:
    """Distinct FILE list of the rows in ``matched``, which must
    already carry a ``_f`` = input_file_name() column ATTACHED AT THE
    SCAN (input_file_name is task-input state — evaluated after a
    shuffle it returns ''). Bounded metadata on the driver (≤ table
    file count). Returned paths are in the MANIFEST's namespace: when
    ``manifest`` is given, each discovered real path maps back to the
    entry path that produced it — relpaths for local files, absolute
    paths for a shallow clone's foreign entries (a bare relpath of a
    foreign file would be '../…' and match no entry, so the rewrite
    would double its surviving rows)."""
    rows = matched.select("_f").distinct().collect()
    root = os.path.realpath(path)
    entry_of: dict[str, str] = {}
    for e in (manifest or {}).get("files", []):
        real = os.path.realpath(os.path.join(path, e["path"]))
        entry_of[real] = os.path.normpath(e["path"])
    out = []
    for r in rows:
        p = r["_f"]
        if p.startswith("file:"):
            p = p[len("file:"):]
        real = os.path.realpath(p)
        out.append(entry_of.get(real, os.path.relpath(real, root)))
    return out


def update_where(
    spark: SparkSession,
    path: str,
    condition,
    set_exprs: dict[str, str],
    opts: WriteOptions | None = None,
) -> dict:
    """SQL ``UPDATE … SET … WHERE …`` analogue, copy-on-write at file
    granularity: only files containing a row matching ``condition``
    are rewritten, with ``set_exprs`` (column → SQL expression)
    applied to matching rows and everything else copied through.
    ``condition`` is a SQL boolean expression string pushed into the
    discovery scan, so pruning metadata (cluster ranges, blooms)
    limits which files are even inspected. Hive partitions and hash
    buckets are preserved like merge_into — updating a layout column
    MOVES the updated rows to their new directory (the staged
    partitionBy re-derives every row's directory from its
    post-update values); ``cut`` layouts raise."""
    manifest = read_manifest(path)
    _reject_aliased(manifest)
    _guard_pending_masks(spark, path, "update_where", rewritten_cols=set(set_exprs))
    pidx = manifest.get("indexes", {})
    if "cut" in pidx:
        raise ValueError(
            "update_where does not preserve the cut layout; "
            "compact to a plain table first"
        )
    tgt = read_table(spark, path)
    cond = F.expr(condition)
    affected = _affected_files(
        path, tgt.withColumn("_f", F.input_file_name()).filter(cond), manifest
    )
    if not affected:
        return manifest
    # _plan_parquet keeps partition values at their declared type —
    # a raw re-inferring reader here would REWRITE '01' as 1.
    aff_df = _to_logical(
        _plan_parquet(
            spark, [os.path.join(path, f) for f in affected], path, "update rewrite", manifest
        ),
        manifest,
    ).select(*tgt.columns)
    updated = aff_df.withColumns(
        {c: F.when(cond, F.expr(e)).otherwise(F.col(c)) for c, e in set_exprs.items()}
    )
    staged = _stage_rewrite(
        spark, path, manifest, _to_physical(updated, manifest), "update",
        compression=(opts or WriteOptions()).compression,
    )
    return _publish_rewrite(path, manifest, affected, {None: staged}, "update")


def overwrite_partitions(
    spark: SparkSession,
    df: DataFrame,
    path: str,
    opts: WriteOptions | None = None,
) -> dict:
    """Dynamic partition overwrite: atomically replace ONLY the Hive
    partition directories whose values appear in ``df``; every other
    partition keeps its bytes and its manifest entry verbatim. The
    idempotent-backfill primitive — re-running a day's pipeline
    replaces that day, never touching the rest of the table. The new
    rows go through the copy-on-write path merge and update share,
    which logs a commit with the added/removed files."""
    manifest = read_manifest(path)
    _reject_aliased(manifest)
    if manifest.get("schema_mapping"):
        # incoming rows speak logical names; files store physical
        gone = set(manifest["schema_mapping"].get("dropped", []))
        bad = sorted(c for c in df.columns if c in gone)
        if bad:
            raise ValueError(
                f"overwrite_partitions writes to dropped column(s) {bad}"
            )
        # same alter contract as write_table's append path: a stale
        # producer still speaking pre-rename PHYSICAL names must fail
        # loudly, never silently land data under a renamed-away column
        renames = manifest["schema_mapping"].get("renames") or {}
        stale = sorted(c for c in df.columns if c in renames)
        if stale:
            raise ValueError(
                f"overwrite_partitions uses pre-rename physical name(s) "
                f"{stale}; use the logical names "
                f"({ {p: l for p, l in renames.items() if p in stale} })"
            )
        df = _to_physical(df, manifest)
    pidx = manifest.get("indexes", {})
    pkeys = (pidx.get("partition") or {}).get("keys")
    if not pkeys:
        raise ValueError("overwrite_partitions requires a partition_by table")
    # Which partitions does df replace? The distinct partition tuples
    # — bounded by partition count, driver-side metadata (the same
    # knowledge Spark's dynamic mode derives before its swap). Values
    # compare as their Hive-rendered strings against the manifest
    # paths' parsed segments (URL-unescaped; bool renders true/false).
    def _render(v):
        if v is None:
            return None
        if isinstance(v, bool):
            return "true" if v else "false"
        return str(v)

    from nimble_spark.sources.datasource import _path_partition_values

    part_vals = {
        tuple(_render(r[k]) for k in pkeys)
        for r in df.select(*pkeys).distinct().collect()
    }
    affected = [
        os.path.normpath(e["path"])
        for e in manifest["files"]
        if tuple(_path_partition_values(e["path"]).get(k) for k in pkeys)
        in part_vals
    ]
    # Stage-then-publish like every copy-on-write rewrite: the new
    # files stage under _nimble/staging and move in under unique names,
    # the manifest publishes FIRST (replaced files intact until the
    # commit point), and the replaced files then retire to the
    # retention trash — snapshot reads across the backfill keep
    # resolving, and a crash at ANY boundary leaves the old or the new
    # table, never a manifest referencing deleted bytes. (Spark's
    # in-place dynamic partitionOverwriteMode deletes the replaced
    # partition BEFORE the manifest publish — a torn window.)
    staged = _stage_rewrite(
        spark, path, manifest, df, "overwrite_partitions",
        compression=(opts or WriteOptions()).compression,
    )
    return _publish_rewrite(
        path, manifest, affected, {None: staged}, "overwrite_partitions"
    )


def apply_changes(
    spark: SparkSession,
    path: str,
    changes: DataFrame,
    key: str,
    opts: WriteOptions | None = None,
) -> dict:
    """Apply a CDC window into a target table — the Delta 'APPLY
    CHANGES INTO' pattern, shipping as code the consumer contract
    ``read_changes`` documents as prose: reduce the feed per key to
    its NEWEST event (highest ``_commit``; insert beats delete within
    one commit), upsert the insert-winners, mask the delete-winners.

    ``changes`` is a ``read_changes(..., with_commit=True,
    with_change_type=True)`` frame — or any frame carrying
    ``_commit`` BIGINT and ``_change_type`` in {'insert','delete'} —
    e.g. a downstream-transformed feed. Within one call a key is
    applied exactly once, whatever its event history in the window:
    delete@5 + insert@7 → the new row lands; insert@5 + delete@7 →
    the key is masked.

    Pending delete masks on the target do NOT compose with upserts
    (a mask hides its key by value until materialized, so the upsert
    would land invisible — the dedup-table landmine documented on
    merge_into): when the target has pending masks and this window
    carries inserts, the masks are materialized first
    (``compact_deletes`` — a rewrite, priced accordingly).

    Scale shape: the winner reduction is ONE window shuffle on key
    over the change window (O(changed rows), never O(table)); upserts
    go through merge_into's file-granular copy-on-write; the delete
    winners persist as a DISTRIBUTED mask batch (delete_where's path —
    no key ever reaches the driver). Returns the final manifest.

    Atomicity (ADVICE r10 #2): the whole mask-materialize → upsert →
    mask-write span holds the table write lock (this function is
    ``_serialize_writes``-wrapped, so it calls the UNWRAPPED inner
    mutations — the lock is not reentrant). Before that, the trailing
    mask write ran unlocked: racing a staged-swap rewrite it landed in
    the directory about to be renamed away and the deletes were
    silently lost, and a concurrent mutation could interleave between
    the upsert and the mask."""
    from nimble_spark.sources.deletes import (
        compact_deletes,
        has_pending_masks,
        publish_mask_batch,
    )
    from pyspark.sql.window import Window

    need = {"_commit", "_change_type"}
    missing = need - set(changes.columns)
    if missing:
        raise ValueError(
            f"apply_changes needs {sorted(need)} columns (from "
            f"read_changes(with_commit=True, with_change_type=True)); "
            f"missing {sorted(missing)}"
        )
    rank = F.when(F.col("_change_type") == "insert", 1).otherwise(0)
    # Final tiebreaker (ADVICE r10 #4): a feed carrying several events
    # of the SAME type for one key within ONE commit (e.g. a
    # downstream-transformed window) used to tie on (_commit, rank) and
    # row_number picked an arbitrary row — nondeterministic applied
    # value. A content hash over every column makes the pick a pure
    # function of the feed's rows; fully-identical duplicates still tie
    # but then every winner is the same row.
    tiebreak = F.xxhash64(*[F.col(c) for c in changes.columns])
    w = Window.partitionBy(key).orderBy(
        F.col("_commit").desc(), rank.desc(), tiebreak.desc()
    )
    winners = (
        changes.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
    ups = winners.filter(F.col("_change_type") == "insert").drop(
        "_commit", "_change_type"
    )
    dels = winners.filter(F.col("_change_type") == "delete").select(key).distinct()

    if ups.head(1):
        if has_pending_masks(path):
            compact_deletes.__wrapped__(spark, path)
        merge_into.__wrapped__(spark, path, ups, key, opts)
    if dels.head(1):
        publish_mask_batch(dels, path, key)
    return read_manifest(path)


def _replay_window_alters(
    dst: str, src_commits: list[dict], cursor: int, key: str
) -> str:
    """Bring a replica to the source's current logical schema by
    replaying the sync window's ``alter`` commits onto it, in commit
    order; returns the replication key's CURRENT name (renames
    followed). Each replay is IDEMPOTENT against the replica's live
    schema — a crash between the replay and the cursor publish leaves
    half the alters applied, and the retry must skip those instead of
    re-raising (rename of a now-absent column, re-add of a present
    one). A key DROPPED in the window refuses loudly: its change
    events exist in the feed but cannot be attributed to replica rows
    — applying them under any other column would be silent
    misattribution."""
    from nimble_spark.sources.alter import _JSON_TYPE, alter_table
    from nimble_spark.sources.table import logical_field_names

    window = sorted(
        (
            c
            for c in src_commits
            if c.get("mode") == "alter" and int(c.get("commit", -1)) > cursor
        ),
        key=lambda c: int(c.get("commit", 0)),
    )
    for c in window:
        a = c.get("alter") or {}
        if key in (a.get("drop") or []):
            raise ValueError(
                f"source dropped the replication key {key!r} (alter at "
                f"commit {c.get('commit')}); its change events cannot be "
                f"attributed — re-bootstrap the replica on a surviving "
                f"key into a fresh path"
            )
        key = (a.get("rename") or {}).get(key, key)
        m = read_manifest(dst, materialize=False)
        live = set(logical_field_names(m))
        ren = (m.get("schema_mapping") or {}).get("renames") or {}
        declared = {
            ren.get(f["name"], f["name"]): f.get("type")
            for f in m["schema"]["fields"]
        }
        rename = {
            o: n for o, n in (a.get("rename") or {}).items() if o in live
        }
        drop = [x for x in (a.get("drop") or []) if x in live]
        add = {n: t for n, t in (a.get("add") or {}).items() if n not in live}
        # widen values are DDL simpleStrings; schema fields store the
        # JSON spelling (bigint↔long, int↔integer) — compare in JSON
        widen = {
            x: t
            for x, t in (a.get("widen") or {}).items()
            if x in live and declared.get(x) != _JSON_TYPE.get(t, t)
        }
        if rename or drop or add or widen:
            alter_table(dst, rename=rename, drop=drop, add=add, widen=widen)
    return key


def replicate_table(
    spark: SparkSession,
    src: str,
    dst: str,
    key: str,
    opts: WriteOptions | None = None,
) -> dict:
    """Incremental table replication over the CDC feed — call it on a
    schedule and the replica converges with O(changed data) work and
    ZERO external state: the sync cursor lives in the replica's own
    property bag (``nimble.replica.synced_commit``), so a restarted
    job resumes exactly where the last successful apply committed
    (cursor and data publish under the same table, read back from the
    same root).

    First call (no replica / no cursor): BOOTSTRAP — snapshot-copy the
    source's current state and record its head commit. Later calls:
    ``read_changes(since_commit=cursor)`` with commit provenance and
    typed events, applied through :func:`apply_changes` (per-key
    newest-event reduction; rollback removals arrive as deletes).
    Already-synced calls are no-ops. If the cursor fell behind the
    source's ``expire_snapshots`` fold, read_changes refuses loudly —
    re-bootstrap by replicating into a fresh path (the folded delta is
    unrecoverable; silently re-copying everything into a live replica
    would masquerade as an incremental sync).

    Returns {"mode", "rows_applied", "synced_commit"}.

    History-rewrite fence: a FULL rewrite of the source
    (``compact_deletes`` / full ``recluster_table`` /
    ``materialize_columns``) resets its commit log, so a cursor from
    the old history would silently no-op (or worse, read a different
    history's commits) — the cursor therefore carries a FINGERPRINT of
    the source entry it points at, and any mismatch (or a source head
    behind the cursor) refuses with the re-bootstrap instruction.
    Expiry is fine: ``expire_snapshots`` keeps commit numbers stable
    (a folded cursor entry legitimately becomes the ``expire_base``).

    Schema evolution ACROSS the window (r11, VERDICT r10 #1):
    ``read_changes`` presents every row in the source's CURRENT
    logical schema (historical files resolve through the live rename/
    widen map — the reference's offset-stable evolution reads,
    dwio/nimble/velox/SchemaReader.h:27-39: missing columns read as
    null), so before the data applies the replica is brought to that
    schema by replaying the window's ``alter`` commits onto it —
    idempotently, so a crash between the replay and the cursor publish
    retries cleanly. A replication key renamed in the window follows
    the rename (pass either name); a key DROPPED on the source refuses
    loudly — its events are unattributable, never misapplied.

    Delta analogue: a CDF-driven downstream table; at 100 TB this is
    the continuous-refresh shape — the source's commit log bounds
    every sync to the changed files, never a full rescan."""
    import json as _json

    from nimble_spark.sources.table import (
        _next_commit,
        read_changes,
        set_table_property,
        table_properties,
        write_table,
    )

    src_commits = read_manifest(src).get("commits", [])
    src_head = _next_commit(src_commits) - 1

    def _fp(ci: int) -> str | None:
        for c in src_commits:
            if int(c.get("commit", -1)) == ci:
                return _json.dumps(
                    [c.get("mode"), c.get("files_added"), c.get("rows_added")]
                )
        return None

    cursor: int | None = None
    stored_fp: str | None = None
    try:
        props = table_properties(dst)
        if "nimble.replica.synced_commit" in props:
            if props.get("nimble.replica.of", src) != src:
                raise ValueError(
                    f"{dst} replicates {props['nimble.replica.of']!r}, "
                    f"not {src!r} — refusing to cross the streams"
                )
            cursor = int(props["nimble.replica.synced_commit"])
            stored_fp = props.get("nimble.replica.cursor_fp")
    except (OSError, KeyError):
        cursor = None  # no replica yet: bootstrap below

    if cursor is not None:
        cur_fp = _fp(cursor)
        folded = cur_fp is not None and '"expire_base"' in cur_fp
        if cursor > src_head or (
            stored_fp is not None and cur_fp is not None
            and cur_fp != stored_fp and not folded
        ):
            raise ValueError(
                f"replica cursor (commit {cursor}) does not match the "
                f"source's commit log (head {src_head}) — the source's "
                f"history was rewritten (compact_deletes / full recluster "
                f"reset the log); re-bootstrap by replicating into a "
                f"fresh path"
            )

    from nimble_spark.sources.deletes import has_pending_masks, read_with_deletes

    if cursor is None:
        # Bootstrap from the VISIBLE state (ADVICE r10 #3): read_table
        # includes mask-hidden rows; a replica seeded with them starts
        # diverged and no later sync repairs it (delete masks produce
        # no commit entry, so the CDC feed never delivers them).
        snap = read_with_deletes(spark, src)
        write_table(snap, dst, opts or WriteOptions())
        rows = read_manifest(dst)["rows"]
        mode = "bootstrap"
    else:
        if has_pending_masks(src):
            # Masks are commit-log-invisible: a sync would report
            # noop/incremental while the replica silently diverges from
            # the source's visible state — refuse loudly instead
            # (ADVICE r10 #3). compact_deletes resets the source's
            # history, so the replica then needs a fresh-path
            # re-bootstrap (the history-rewrite fence enforces it).
            raise ValueError(
                f"source {src} has pending delete masks, which produce "
                f"no CDC events — an incremental sync would silently "
                f"diverge; run compact_deletes(src) and re-bootstrap "
                f"the replica into a fresh path"
            )
        if cursor >= src_head:
            return {"mode": "noop", "rows_applied": 0, "synced_commit": cursor}
        # build the feed FIRST: read_changes raises this sync's fences
        # (expired cursor, fold boundary, merged-away files) before the
        # replica is touched — only then replay the window's alters
        feed = read_changes(
            spark, src, since_commit=cursor,
            with_commit=True, with_change_type=True,
        )
        key = _replay_window_alters(dst, src_commits, cursor, key)
        # One scan of the changed files per sync (VERDICT r10 #1 nit):
        # the count and apply_changes' window reduction share the
        # persisted feed instead of each re-reading the change window.
        feed = feed.persist()
        try:
            rows = feed.count()
            apply_changes(spark, dst, feed, key, opts)
        finally:
            feed.unpersist()
        mode = "incremental"
    set_table_property(dst, "nimble.replica.of", src)
    set_table_property(dst, "nimble.replica.key", key)
    set_table_property(dst, "nimble.replica.synced_commit", str(src_head))
    head_fp = _fp(src_head)
    if head_fp is not None:
        set_table_property(dst, "nimble.replica.cursor_fp", head_fp)
    return {"mode": mode, "rows_applied": int(rows), "synced_commit": src_head}


def _serialize_writes(fn, path_pos: int):
    """Every mutation holds the table write lock for its whole
    read-discover-rewrite-commit span: concurrent mutations (or a
    mutation racing an append) serialize instead of last-wins-ing the
    manifest and silently dropping the loser's commit. See
    table_write_lock for the object-store translation."""
    import functools

    from nimble_spark.sources.table import table_write_lock

    @functools.wraps(fn)
    def inner(*args, **kwargs):
        path = kwargs.get("path") or args[path_pos]
        with table_write_lock(path):
            return fn(*args, **kwargs)

    return inner


merge_into = _serialize_writes(merge_into, 1)
update_where = _serialize_writes(update_where, 1)
overwrite_partitions = _serialize_writes(overwrite_partitions, 2)
# apply_changes holds the lock for its WHOLE materialize→upsert→mask
# span (ADVICE r10 #2) and calls the unwrapped inner mutations — the
# table lock is not reentrant.
apply_changes = _serialize_writes(apply_changes, 1)
