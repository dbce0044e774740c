"""Table cloning — the Delta CLONE analogue over the manifest layer.

``clone_table(shallow=True)`` creates a ZERO-COPY clone: a new table
whose manifest references the source's data files by absolute path
(foreign entries) — no data bytes move, so cloning a 100 TB table is
a metadata-only operation (the dev/test-sandbox and experiment-fork
primitive). ``shallow=False`` copies the whole tree — a physical
fork carrying full history, tags and trash.

Reference parity: the reference format has no multi-file table layer,
so cloning has no direct analogue there; the capability matches the
lakehouse surface this table layer mirrors elsewhere (Delta SHALLOW/
DEEP CLONE, Iceberg snapshot-ref forks) — same layer as the tags /
rollback / CDC surface in sources/table.py.

How foreign entries compose with the rest of the engine:

- Every read path resolves entries via ``os.path.join(root, path)``,
  which returns an absolute entry unchanged — scans, pruning, point
  lookups, CDC and time travel all work on clones with no special
  casing. ``_plan_parquet`` drops Spark's ``basePath`` when a listed
  file escapes the table root (shallow clones refuse partitioned
  layouts, so no partition column depends on it).
- Appends land local files next to the foreign entries
  (``_build_manifest`` keeps foreign reuse entries live by absolute
  existence, and raises if the source was rewritten/vacuumed out from
  under the clone — the documented shallow-clone dependency).
- Physical rewrites (merge/update/compact/incremental-recluster)
  treat a foreign file like any other replaced file EXCEPT the bytes
  never move: the manifest drops the entry, the rewritten rows land
  under the clone's root, and the source file stays untouched where
  historical reads still resolve it. A rewrite therefore naturally
  LOCALIZES whatever it touches.
- ``deepen_clone`` localizes everything at once: each foreign file is
  copied under the clone's root and spliced in place via the shared
  rewrite publisher (a data_change=false commit — CDC consumers
  never re-see rows because bytes moved). After it, the clone has no
  dependency on the source.
- Vacuum only walks the clone's own directory — it can never reclaim
  source bytes. Rolling back past a deepen re-attaches the clone to
  the source files (they are the pre-deepen snapshot).

Refused for shallow clones: Hive-partitioned / hash-bucketed / cut
layouts (partition values live in directory names under the SOURCE
root — foreign paths would break directory-shaped planning and
layout-preserving rewrites). Deep clones carry any layout.
"""

from __future__ import annotations

import os
import shutil
import uuid

from pyspark.sql import SparkSession

from nimble_spark.sources.table import (
    MANIFEST_DIR,
    _fold_column_stats,
    _layout_stats,
    _write_manifest,
    read_manifest,
    table_write_lock,
)

_DELETES_SUBDIR = os.path.join(MANIFEST_DIR, "deletes")


def clone_table(
    spark: SparkSession, src: str, dst: str, shallow: bool = True
) -> dict:
    """Clone the table at ``src`` into the (non-existent) ``dst``.

    Shallow: metadata-only — the new manifest references the source's
    current snapshot by absolute path; history squashes to ONE
    ``mode="clone"`` commit (the source's commit log references trash
    files under the SOURCE root that vacuum there may reclaim — a
    clone must not promise history it does not own). Tags are dropped
    for the same reason; pending delete masks are COPIED (they are
    value sets, metadata-sized) so the clone reads exactly what the
    source reads. Stats-shaped indexes (cluster/zorder ranges, footer
    blooms) carry — the bounds live in the entries and the blooms live
    in the data bytes. The sorted-index sidecar is dropped (its fence
    would mismatch anyway and the probe falls back to stats pruning).

    Deep: a full physical fork — the entire tree is copied, so
    history, tags, trash and every index sidecar carry verbatim; only
    transient lock state is excluded."""
    if os.path.exists(dst) and os.listdir(dst):
        raise ValueError(f"clone destination {dst} already exists and is not empty")
    # Hold the SOURCE's commit lock across the snapshot capture: the
    # manifest read plus the mask-directory copy (shallow) or the whole
    # tree copy (deep) must see ONE consistent source version — without
    # it a concurrent delete_rows can add a mask the captured manifest
    # never saw (clone reads rows the source never deletes), and
    # compact_deletes' staged swap can replace the source dir mid-copy
    # (dangling every foreign entry immediately).
    with table_write_lock(src):
        m = read_manifest(src)

        if not shallow:
            os.makedirs(os.path.dirname(os.path.abspath(dst)) or ".", exist_ok=True)
            # Physical fork: copy everything except transient lock state.
            def _ignore(d: str, names: list[str]) -> set[str]:
                return {
                    n
                    for n in names
                    if n == "lock" or n.startswith("lock-tomb-") or n.endswith(".lock")
                }

            shutil.copytree(src, dst, ignore=_ignore, dirs_exist_ok=True)
            out = read_manifest(dst, materialize=False)
            # never mutate the shared per-version manifest cache entry
            return dict(out, user_metadata=out.get("user_metadata") or {})

        idx = m.get("indexes", {}) or {}
        for k in ("partition", "hash", "cut"):
            if k in idx:
                raise ValueError(
                    f"shallow clone of a {k}-layout table is not supported: "
                    f"the layout lives in directory names under the SOURCE "
                    f"root (foreign paths would break directory-shaped "
                    f"planning); use clone_table(shallow=False)"
                )

        src_abs = os.path.abspath(src)
        entries = [
            dict(e, path=os.path.normpath(os.path.join(src_abs, e["path"])))
            for e in m["files"]
        ]
        carried_idx = {k: idx[k] for k in ("cluster", "zorder", "bloom") if k in idx}
        manifest = {
            "format_version": 1,
            "stats_gen": m.get("stats_gen", 1),
            "schema": m["schema"],
            "column_attributes": m.get("column_attributes"),
            "rows": m["rows"],
            "files": entries,
            "column_stats": _fold_column_stats(entries),
            "indexes": carried_idx,
            "user_metadata": {
                **(m.get("user_metadata") or {}),
                "clone.source": src_abs,
                "clone.source_commit": str(len(m.get("commits", [])) - 1),
                "clone.shallow": "true",
            },
            "write_stats": _layout_stats(entries),
            "commits": [
                {
                    "commit": 0,
                    "mode": "clone",
                    "files_added": len(entries),
                    "rows_added": int(m["rows"]),
                    "files": sorted(e["path"] for e in entries),
                }
            ],
        }
        for k in (
            "constraints",
            "column_aliases",
            "logical_columns",
            "schema_mapping",
            "ndv_columns",
            "sum_columns",
            "histogram_columns",
        ):
            if m.get(k):
                manifest[k] = m[k]
        os.makedirs(os.path.join(dst, MANIFEST_DIR), exist_ok=True)
        # Pending delete masks are part of what the source READS AS —
        # copy them (metadata-sized value sets) so clone reads match
        # source reads at clone time, and later mask mutations stay
        # independent.
        src_masks = os.path.join(src, _DELETES_SUBDIR)
        if os.path.isdir(src_masks):
            shutil.copytree(src_masks, os.path.join(dst, _DELETES_SUBDIR))
        _write_manifest(dst, manifest)
        return manifest


def foreign_files(manifest: dict) -> list[str]:
    """The manifest's foreign (absolute-path, shallow-clone) entries."""
    return [f["path"] for f in manifest.get("files", []) if os.path.isabs(f["path"])]


def deepen_clone(spark: SparkSession, path: str) -> dict:
    """Localize every foreign entry of a shallow clone: copy the bytes
    under the clone's root and splice each entry in place (order,
    stats and index bounds carry verbatim — the bytes are identical).
    Publishes ONE ``mode="deepen"`` data_change=false commit through
    the publisher every copy-on-write rewrite shares
    (table._publish_rewrite): snapshot replays apply it, CDC and
    streaming consumers skip it (no row changed). After this commit
    the clone has no dependency on the source table; rolling back past
    it re-attaches to the source files (they ARE the pre-deepen
    snapshot, readable for as long as the source keeps them)."""
    from nimble_spark.sources.table import _publish_rewrite

    with table_write_lock(path):
        m = read_manifest(path)
        foreign = [f for f in m["files"] if os.path.isabs(f["path"])]
        if not foreign:
            return m
        entries_at: dict[str, list[dict]] = {}
        staged: list[str] = []
        try:
            for e in foreign:
                local_rel = f"deepen-{uuid.uuid4().hex[:12]}.parquet"
                dst = os.path.join(path, local_rel)
                shutil.copy2(e["path"], dst)
                staged.append(dst)
                # identical bytes — the entry carries verbatim, only
                # the path changes
                entries_at[os.path.normpath(e["path"])] = [
                    dict(e, path=local_rel)
                ]
        except Exception:
            for p in staged:  # abort clean: nothing was published
                try:
                    os.remove(p)
                except OSError:
                    pass  # best-effort abort cleanup: the copy never
                    # published, so a leftover is unreferenced debris
                    # vacuum's age-gated sweep reclaims
            raise
        return _publish_rewrite(
            path,
            m,
            [e["path"] for e in foreign],
            entries_at,
            "deepen",
            data_change=False,
            user_md={"clone.deepened_files": str(len(foreign))},
        )
