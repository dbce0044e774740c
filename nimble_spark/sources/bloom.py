"""Bloom-filter index probing (SURVEY §2.4 BloomFilter row).

The reference attaches split-block bloom filters to its index streams
(dwio/nimble/index/BloomFilter.h:34) so point lookups on unsorted,
unbucketed data can skip whole stripes without touching values. The
Spark-native analogue: parquet's own column-level bloom filters,
written via ``parquet.bloom.filter.enabled#col`` (WriteOptions.
bloom_cols) and probed through the JVM's ParquetFileReader — a
metadata-only read (footer + bloom bytes, no data pages). On unsorted
data every file's min/max spans the key domain, so blooms are the
only skip mechanism.

The index answers one question — "can this file hold any of these
keys?" — along one path:

* one reader: ``_footer_blooms`` opens a data file once and returns
  its key column's bloom per row group and parquet primitive type, or
  "cannot veto" when a row group has no bloom. The footer probe,
  ``build_bloom_sidecar`` and ``explain_pruning`` all use it;
* one hash per probe value per call: each value is encoded to
  parquet's plain bytes in Python and hashed once with parquet's own
  ``XxHash``, the hash ``BlockSplitBloomFilter`` used when writing;
* one loop: ``_kept`` keeps a file when any of its blooms may hold any
  probe hash, reading the blooms from the sidecar when it covers every
  manifest file, else from the footers.

Only the (Spark type, primitive) pairs in ``_PLAIN`` are encoded. Any
other key type (decimal, timestamp), a probe value of another Python
type, or a file storing another primitive cannot veto: the file is
kept. No data rows ever reach the driver.
"""

from __future__ import annotations

import datetime
import numbers
import os
import struct
from typing import Any, Callable, Iterable

from pyspark.sql import SparkSession

SIDECAR_DIR = os.path.join("_nimble", "index", "bloom")

_EPOCH = datetime.date(1970, 1, 1)
_I32 = struct.Struct("<i").pack

# Key's Spark type -> (parquet primitive it is written as, Python probe
# types, parquet plain encoding). The bloom hashes exactly these bytes.
_PLAIN: dict[str, tuple[str, Any, Callable[[Any], bytes]]] = {
    "long": ("INT64", numbers.Integral, struct.Struct("<q").pack),
    "integer": ("INT32", numbers.Integral, _I32),
    "short": ("INT32", numbers.Integral, _I32),
    "byte": ("INT32", numbers.Integral, _I32),
    "date": ("INT32", datetime.date, lambda v: _I32((v - _EPOCH).days)),
    "float": ("FLOAT", float, struct.Struct("<f").pack),
    "double": ("DOUBLE", float, struct.Struct("<d").pack),
    "string": ("BINARY", str, lambda v: v.encode("utf-8")),
    "binary": ("BINARY", (bytes, bytearray), bytes),
}


def _probe_hashes(spark: SparkSession, types: Any, encode, values: list) -> list[int] | None:
    """Each probe value's bloom hash, or None when any value cannot be
    encoded exactly — the probe then cannot veto any file."""
    xx = spark._jvm.org.apache.parquet.column.values.bloomfilter.XxHash()
    hashes = []
    for v in values:
        # bool is an int and datetime a date to isinstance, not to Spark
        if isinstance(v, (bool, datetime.datetime)) or not isinstance(v, types):
            return None
        # Spark equates 0.0 with -0.0 and NaN with NaN; the bloom hashed bits
        if isinstance(v, float) and (v == 0 or v != v):
            return None
        try:
            hashes.append(xx.hashBytes(encode(v)))
        except (struct.error, OverflowError):  # out of the column's range
            return None
    return hashes


def _footer_blooms(spark: SparkSession, column: str) -> Callable[[str], tuple | None]:
    """The one footer reader: returns ``read(path)``, which opens a data
    file once and gives ``(primitive, blooms)`` — the column's parquet
    primitive type name and its bloom per row group — or None ("cannot
    veto") when the file lacks the column or any row group lacks a
    bloom. JVM classes are resolved once here, not per file."""
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    Path = jvm.org.apache.hadoop.fs.Path
    InputFile = jvm.org.apache.parquet.hadoop.util.HadoopInputFile
    Reader = jvm.org.apache.parquet.hadoop.ParquetFileReader

    def read(path: str) -> tuple | None:
        reader = Reader.open(InputFile.fromPath(Path(path), conf))
        try:
            blocks = reader.getRowGroups()
            primitive, ci, blooms = None, None, []
            for bi in range(blocks.size()):
                cols = blocks.get(bi).getColumns()
                if ci is None:
                    # chunks follow the schema's leaf order in every row group
                    ci = next(
                        (i for i in range(cols.size())
                         if cols.get(i).getPath().toDotString() == column),
                        None,
                    )
                    if ci is None:
                        return None
                kcol = cols.get(ci)
                # null when the chunk was written without a bloom
                bloom = reader.readBloomFilter(kcol)
                if bloom is None:
                    return None
                if primitive is None:
                    primitive = kcol.getPrimitiveType().getPrimitiveTypeName().name()
                blooms.append(bloom)
            return primitive, blooms
        finally:
            reader.close()

    return read


def _sidecar_blooms(
    spark: SparkSession, root: str, manifest: dict, key: str
) -> dict[str, tuple] | None:
    """``{file: (primitive, blooms)}`` from the sidecar, or None when it
    is absent or does not cover every manifest file (e.g. after
    compaction rewrote files)."""
    import pyarrow.parquet as pa_pq

    sc_path = os.path.join(root, SIDECAR_DIR, f"{key}.parquet")
    if not os.path.exists(sc_path):
        return None
    t = pa_pq.read_table(sc_path, columns=["file", "bloom", "primitive"]).to_pydict()
    if not {os.path.normpath(f["path"]) for f in manifest["files"]} <= set(t["file"]):
        return None
    B = spark._jvm.org.apache.parquet.column.values.bloomfilter.BlockSplitBloomFilter
    by_file: dict[str, tuple] = {}
    for fname, blob, primitive in zip(t["file"], t["bloom"], t["primitive"]):
        by_file.setdefault(fname, (primitive, []))[1].append(B(blob))
    return by_file


def _kept(
    spark: SparkSession, manifest: dict, root: str, key: str, values: list, files: list[str]
) -> list[str]:
    """The one membership loop: those of `files` (manifest-relative
    paths) whose blooms may hold any probe value. A file that cannot
    be vetoed — no bloom, another primitive, an unencodable key type
    or probe value — is kept."""
    fields = manifest.get("schema", {}).get("fields", [])
    spark_type = next((f["type"] for f in fields if f["name"] == key), None)
    spec = _PLAIN.get(spark_type) if isinstance(spark_type, str) else None
    if spec is None or (hashes := _probe_hashes(spark, spec[1], spec[2], values)) is None:
        return list(files)
    sidecar = _sidecar_blooms(spark, root, manifest, key)
    read = _footer_blooms(spark, key) if sidecar is None else None
    keep = []
    for rel in files:
        got = sidecar[os.path.normpath(rel)] if read is None else read(os.path.join(root, rel))
        if (
            got is None
            or got[0] != spec[0]
            or any(bloom.findHash(h) for bloom in got[1] for h in hashes)
        ):
            keep.append(rel)
    return keep


def build_bloom_sidecar(spark: SparkSession, path: str, column: str) -> int:
    """Extract every (file, row-group) bloom bitset for `column` into
    ONE sidecar parquet under ``_nimble/index/bloom/<column>.parquet``
    — the reference's separately-stored index stream
    (dwio/nimble/index/BloomFilter.h: blooms live in the index
    stripes, not the data). Probes then read a single small file
    instead of opening every data footer: at 10⁶ files that is the
    difference between one read and a million. A file that cannot
    veto (a row group without a bloom) is left out, so the sidecar
    does not cover the table and probes fall back to the footers.
    Returns the number of blooms captured. Size the bitsets with
    ``WriteOptions.bloom_expected_ndv`` — the parquet default is
    1 MB per bloom; a right-sized one is KBs."""
    import pyarrow as pa
    import pyarrow.parquet as pa_pq

    from nimble_spark.sources.table import read_manifest

    read = _footer_blooms(spark, column)
    Bytes = spark._jvm.java.io.ByteArrayOutputStream
    files, rgs, blobs, prims = [], [], [], []
    for f in read_manifest(path)["files"]:
        got = read(os.path.join(path, f["path"]))
        if got is None:
            continue
        primitive, blooms = got
        for rg, bloom in enumerate(blooms):
            baos = Bytes()
            bloom.writeTo(baos)
            files.append(os.path.normpath(f["path"]))
            rgs.append(rg)
            blobs.append(bytes(baos.toByteArray()))
            prims.append(primitive)
    out_dir = os.path.join(path, SIDECAR_DIR)
    os.makedirs(out_dir, exist_ok=True)
    table = pa.table({"file": files, "rg": rgs, "bloom": blobs, "primitive": prims})
    pa_pq.write_table(table, os.path.join(out_dir, f"{column}.parquet"), compression="zstd")
    return len(blobs)


def explain_pruning(
    spark: SparkSession,
    path: str,
    key: str,
    lo: Any = None,
    hi: Any = None,
    values: list | None = None,
) -> list[dict]:
    """Dry-run the file-skipping decision for a predicate on `key`
    across every index tier, without reading any data: per file,
    report whether it would be kept and which tier vetoed it
    (``range`` = cluster/zorder min-max, ``bloom`` = bloom veto,
    ``kept`` = must be read). The "why is my query reading 10k
    files" debugging tool — the reference's index-selection trace
    made queryable."""
    from nimble_spark.sources.table import read_manifest

    m = read_manifest(path)
    idx = m.get("indexes", {})
    range_keys = list((idx.get("cluster") or {}).get("keys", [])) + list(
        (idx.get("zorder") or {}).get("keys", [])
    )
    bloom_keys = (idx.get("bloom") or {}).get("keys", [])
    if values is not None:
        vlist = list(values)
        plo, phi = min(vlist), max(vlist)
    else:
        vlist, plo, phi = None, lo, hi
    verdicts = {}
    for f in m["files"]:
        verdict = "kept"
        if key in range_keys or (f["min"].get(key) is not None):
            fmin, fmax = f["min"].get(key), f["max"].get(key)
            if fmin is not None and (
                (phi is not None and fmin > phi) or (plo is not None and fmax < plo)
            ):
                verdict = "range"
        verdicts[f["path"]] = verdict
    if vlist is not None and key in bloom_keys:
        candidates = [p for p, v in verdicts.items() if v == "kept"]
        kept = set(_kept(spark, m, path, key, vlist, candidates))
        verdicts.update({p: "bloom" for p in candidates if p not in kept})
    return [{"file": p, "kept": v == "kept", "pruned_by": v} for p, v in verdicts.items()]


def bloom_prune_files(
    spark: SparkSession, manifest: dict, root: str, key: str, values: Iterable[Any]
) -> list[str] | None:
    """File list for a point lookup on a bloom-indexed column, or None
    when the table has no bloom index on `key` (caller falls back to
    min/max pruning). Files whose blooms definitively exclude every
    probe value are skipped. Probes prefer the sidecar index (one
    small read); footer probing is the fallback."""
    bloom_keys = manifest.get("indexes", {}).get("bloom", {}).get("keys", [])
    if key not in bloom_keys:
        return None
    files = [f["path"] for f in manifest["files"]]
    return [os.path.join(root, p) for p in _kept(spark, manifest, root, key, list(values), files)]
