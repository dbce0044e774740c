"""Deduplication operators for training-data pipelines —
exact, MinHash+LSH, n-gram Jaccard, SimHash — over `documents`.

Scale design (the part that matters at 100 TB):
- exact dedup is a hash-groupBy on a 16-byte digest, never on the
  full text (shuffle moves digests, not documents);
- near-dup candidate generation goes through an inverted index
  (explode shingles / LSH band buckets) so cost is
  O(sum of postings²  per bucket), never O(n²) over the corpus;
- MinHash signatures compress each document to k×int64 before any
  shuffle — the verify step joins signatures, not texts.

Everything is built from md5-derived integer hashes so the DuckDB
oracle reproduces results exactly (see functions/text_fns.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from nimble_spark.functions.text_fns import (
    hash32_sql_duck,
    hash32b_sql_duck,
    hash60_sql_duck,
    hash60_sql_spark,
    shingles_sql_duck,
    shingles_sql_spark,
)
from nimble_spark.functions.exact import rnd
from nimble_spark.registry import register
from nimble_spark.tables import load

R4 = 4
N_MINHASH = 8
JACCARD_THR = 0.4

_TOKS_DUCK = "string_split_regex(trim(text), '\\s+')"
_TOKS_SPARK = "split(trim(text), '\\\\s+')"


# ---------------------------------------------------------------------------
# Exact dedup
# ---------------------------------------------------------------------------


@register(
    "q_dedup_exact",
    oracle="""
    SELECT md5(text) AS content_hash,
           MIN(doc_id) AS keep_id,
           COUNT(*)    AS n_copies
    FROM documents
    GROUP BY md5(text)
    """,
    category="dedup",
)
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: group by content digest, keep the earliest doc.
    The shuffle key is the 16-byte md5, not the document text."""
    d = load(spark, sf_dir, "documents")
    return (
        d.select(F.md5("text").alias("content_hash"), "doc_id")
        .groupBy("content_hash")
        .agg(F.min("doc_id").alias("keep_id"), F.count(F.lit(1)).alias("n_copies"))
    )


@register(
    "q_dedup_normalized",
    oracle="""
    WITH n AS (
      SELECT doc_id,
             md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS h
      FROM documents
    )
    SELECT h AS content_hash, MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
    FROM n GROUP BY h
    HAVING COUNT(*) >= 1
    """,
    category="dedup",
)
def q_dedup_normalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalized exact dedup: lowercase + whitespace-collapse before
    hashing (catches trivially-reformatted copies)."""
    d = load(spark, sf_dir, "documents")
    norm = F.regexp_replace(F.lower(F.trim("text")), r"\s+", " ")
    return (
        d.select(F.md5(norm).alias("content_hash"), "doc_id")
        .groupBy("content_hash")
        .agg(F.min("doc_id").alias("keep_id"), F.count(F.lit(1)).alias("n_copies"))
    )


# ---------------------------------------------------------------------------
# MinHash signatures + LSH
# ---------------------------------------------------------------------------


# One md5 yields four independent 32-bit hashes (disjoint 8-hex-char
# slices) — 8 minhashes cost 2 md5 passes per shingle, not 8. The md5
# hex arrays are MATERIALIZED as separate projection columns (h0/h1):
# Spark has no CSE across higher-order-function lambdas, and
# CollapseProject won't inline a non-cheap alias referenced 4×, so the
# expensive md5 transform runs once and the 8 array_min slices are
# cheap substr/conv passes over the cached arrays.


def _mh_spark(j: int) -> str:
    seed, off = j // 4, 1 + 8 * (j % 4)
    return (
        f"array_min(transform(h{seed}, x -> "
        f"CAST(conv(substr(x, {off}, 8), 16, 10) AS BIGINT)))"
    )


def _mh_duck(j: int) -> str:
    seed, off = j // 4, 1 + 8 * (j % 4)
    return (
        f"list_min(list_transform(h{seed}, x -> "
        f"CAST(concat('0x', substr(x, {off}, 8)) AS BIGINT)))"
    )


def _minhash_cols_spark() -> list[F.Column]:
    return [F.expr(_mh_spark(j)).alias(f"mh{j}") for j in range(N_MINHASH)]


def _minhash_cols_duck() -> str:
    return ",\n             ".join(f"{_mh_duck(j)} AS mh{j}" for j in range(N_MINHASH))


def _md5_arrays_spark(df: DataFrame, keep: list[str]) -> DataFrame:
    """Project the two per-shingle md5 hex arrays (one per seed)."""
    return df.select(
        *keep,
        F.expr("transform(sh, s -> md5(concat('0|', s)))").alias("h0"),
        F.expr("transform(sh, s -> md5(concat('1|', s)))").alias("h1"),
    )


_MD5_ARRAYS_DUCK = """
    hh AS (
      SELECT doc_id, sh,
             list_transform(sh, s -> md5(concat('0|', s))) AS h0,
             list_transform(sh, s -> md5(concat('1|', s))) AS h1
      FROM sh_t
    )
"""


_SHINGLE_CTE_DUCK = f"""
    WITH t AS (SELECT doc_id, {_TOKS_DUCK} AS toks FROM documents),
    sh_t AS (SELECT doc_id, list_distinct({shingles_sql_duck("toks")}) AS sh FROM t)
"""


def _shingled(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents").withColumn("toks", F.expr(_TOKS_SPARK))
    return d.withColumn("sh", F.array_distinct(F.expr(shingles_sql_spark("toks"))))


@register(
    "q_minhash_signatures",
    oracle=f"""
    {_SHINGLE_CTE_DUCK},
    {_MD5_ARRAYS_DUCK}
    SELECT doc_id,
             {_minhash_cols_duck()}
    FROM hh
    """,
    category="dedup",
)
def q_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash signatures: k=8 permutation-free min-hashes over distinct
    word 3-gram shingles. Each doc compresses to 8×int64 before any
    shuffle — the signature table is what LSH joins at scale.

    Physical shape: explode the shingle array and run the 2 md5 + 8
    substr/conv hashes as flat codegen'd projections, then groupBy
    doc_id with 8 integer MINs. Array-lambda passes (array_min over
    transform) evaluate interpreted outside whole-stage codegen; the
    explode+agg form keeps every hash inside codegen and gets map-side
    partial mins, so the shuffle carries 8 ints per doc either way
    (measured ~25% faster at sf0.1; values are identical — integer
    MIN is order-independent — so the oracle is unchanged).
    explode_outer keeps <3-token docs as all-NULL signatures, exactly
    the array_min(empty)=NULL the oracle computes."""
    return _sig_from_shingles(_shingled(spark, sf_dir).select("doc_id", "sh"))


def _sig_from_shingles(sh_df: DataFrame) -> DataFrame:
    """MinHash signatures from a (doc_id, sh) shingle frame — the body
    of q_minhash_signatures, factored so pair pipelines can feed it a
    SHARED (checkpointed) shingle base instead of re-tokenizing."""
    sh = sh_df.select("doc_id", F.explode_outer("sh").alias("s"))
    hashed = sh.select(
        "doc_id",
        F.md5(F.concat(F.lit("0|"), "s")).alias("m0"),
        F.md5(F.concat(F.lit("1|"), "s")).alias("m1"),
    )
    mins = [
        F.min(
            F.expr(
                f"CAST(conv(substr(m{j // 4}, {1 + 8 * (j % 4)}, 8), 16, 10) AS BIGINT)"
            )
        ).alias(f"mh{j}")
        for j in range(N_MINHASH)
    ]
    return hashed.groupBy("doc_id").agg(*mins)


# Hot-bucket skew cap: a band bucket holding B docs emits B² candidate
# pairs, and boilerplate-heavy corpora (license headers, templates)
# concentrate millions of near-identical docs into a handful of
# buckets — one such bucket stalls the whole join at 100 TB. Buckets
# larger than the cap are dropped from candidate generation: their
# members are boilerplate whose duplication is better handled by exact
# / normalized dedup, and near-dup pairs inside them usually co-occur
# in some smaller bucket of another band. The cap is applied
# IDENTICALLY in the DuckDB oracle, so the differential gate checks
# the capped semantics, not an approximation of the uncapped ones.
_LSH_BUCKET_CAP = 64

_LSH_PAIRS_DUCK = f"""
    {_SHINGLE_CTE_DUCK},
    {_MD5_ARRAYS_DUCK},
    sig AS (
      SELECT doc_id,
             list_distinct(list_transform(sh, s -> {hash60_sql_duck("s")})) AS sh,
             {_minhash_cols_duck()}
      FROM hh
    ),
    bands AS (
      SELECT doc_id, sh, 0 AS band, md5(concat(mh0, '_', mh1)) AS bh FROM sig
      UNION ALL
      SELECT doc_id, sh, 1, md5(concat(mh2, '_', mh3)) FROM sig
      UNION ALL
      SELECT doc_id, sh, 2, md5(concat(mh4, '_', mh5)) FROM sig
      UNION ALL
      SELECT doc_id, sh, 3, md5(concat(mh6, '_', mh7)) FROM sig
    ),
    capped AS (
      SELECT doc_id, sh, band, bh FROM bands
      QUALIFY COUNT(*) OVER (PARTITION BY band, bh) <= {_LSH_BUCKET_CAP}
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
             a.sh AS sh_a, b.sh AS sh_b
      FROM capped a JOIN capped b
        ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id
    ),
    verified AS (
      SELECT id_a, id_b,
             CAST(len(list_intersect(sh_a, sh_b)) AS DOUBLE) /
               (len(sh_a) + len(sh_b) - len(list_intersect(sh_a, sh_b))) AS jac
      FROM cand
    )
    SELECT id_a, id_b, FLOOR((jac) * 10000 + 0.5) / 10000 AS jaccard
    FROM verified WHERE jac >= {JACCARD_THR}
"""


def lsh_near_pairs(
    sig: DataFrame,
    shingles: DataFrame,
    bucket_cap: int = _LSH_BUCKET_CAP,
) -> DataFrame:
    """MinHash-LSH near-duplicate pairs from a signature table
    (doc_id, mh0..mh7) and a shingle table (doc_id, sh): 4 bands × 2
    rows banding → hot-bucket cap → bucket-join candidates → exact
    Jaccard verify ≥ 0.4.

    Scale shape: the join is on (band, band_hash) buckets; only
    same-bucket pairs are verified, and buckets larger than
    ``bucket_cap`` are excluded (boilerplate skew control — see
    _LSH_BUCKET_CAP). The verify joins shingle arrays back by doc_id
    instead of carrying them through the band shuffle (signatures
    stay 8 ints wide in flight).

    The verify runs on 60-bit shingle hashes, not raw n-gram strings
    (hash-then-distinct, mirrored in the oracle so the rare collision
    merges identically on both engines): the two verify joins ship
    arrays of longs and array_intersect compares 8-byte values —
    Jaccard depends only on set sizes, so results are unchanged."""
    from pyspark.sql.window import Window

    shingles = shingles.withColumn(
        "sh",
        F.array_distinct(F.expr(f"transform(sh, s -> {hash60_sql_spark('s')})")),
    )

    # Explode one struct array instead of unioning 4 selects: the
    # minhash pipeline is evaluated once, not once per band.
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.md5(F.concat_ws("_", f"mh{2*b}", f"mh{2*b+1}")).alias("bh"),
            )
            for b in range(4)
        ]
    )
    bands = sig.select("doc_id", F.explode(band_structs).alias("bb")).select(
        "doc_id", F.col("bb.band").alias("band"), F.col("bb.bh").alias("bh")
    )
    # Bucket-size cap via a window over the same (band, bh) keys the
    # join shuffles on — the count rides the join's own Exchange.
    # (No parallelism pin here: unlike the uncapped hyperplane-LSH
    # variant, the bucket cap bounds every bucket's pair output, so
    # AQE's coalescing of the tiny band shuffle cannot serialize an
    # explosion — measured r11: pinning only added task overhead.)
    bands = (
        bands.withColumn("__bn", F.count(F.lit(1)).over(Window.partitionBy("band", "bh")))
        .filter(F.col("__bn") <= bucket_cap)
        .drop("__bn")
    )

    # shuffle_hash (not broadcast) on the self-join: both sides then
    # need the identical Exchange(band, bh), which Spark deduplicates
    # via ReusedExchange — the minhash pipeline is evaluated ONCE
    # instead of once per join side.
    a = bands.hint("shuffle_hash").alias("a")
    b = bands.hint("shuffle_hash").alias("b")
    cand = (
        a.join(b, (F.col("a.band") == F.col("b.band")) & (F.col("a.bh") == F.col("b.bh")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
        .distinct()
    )
    # Verify-attach: pairs are the (capped-)quadratic side, the
    # per-doc hashed shingle sets the small one. Spark's broadcast
    # threshold picks the attach strategy: below it the sets broadcast
    # and the Jaccard verify runs map-side; the set table is
    # O(corpus), so past it (or unestimated) the planner falls back to
    # a shuffle join instead of OOMing the driver at 100 TB.
    cand = (
        cand.join(shingles.select(F.col("doc_id").alias("id_a"), F.col("sh").alias("sh_a")), "id_a")
        .join(shingles.select(F.col("doc_id").alias("id_b"), F.col("sh").alias("sh_b")), "id_b")
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    jac = inter.cast("double") / (F.size("sh_a") + F.size("sh_b") - inter)
    return (
        cand.select("id_a", "id_b", jac.alias("jac"))
        .filter(F.col("jac") >= JACCARD_THR)
        .select("id_a", "id_b", rnd("jac", 4).alias("jaccard"))
    )


@register("q_minhash_lsh_pairs", oracle=_LSH_PAIRS_DUCK, category="dedup")
def q_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-duplicate pairs over the documents corpus —
    see lsh_near_pairs for the banding/cap/verify shape. One shingle
    base feeds both the signature pipeline and the verify-set table."""
    base = _shingled(spark, sf_dir).select("doc_id", "sh")
    return lsh_near_pairs(_sig_from_shingles(base), base)


# ---------------------------------------------------------------------------
# Persisted signature index — dedup state as a table
# ---------------------------------------------------------------------------

_SIG_INDEX_DUCK = f"""
    {_SHINGLE_CTE_DUCK},
    {_MD5_ARRAYS_DUCK},
    sig AS (
      SELECT doc_id,
             list_distinct(list_transform(sh, s -> {hash60_sql_duck("s")})) AS shh,
             {_minhash_cols_duck()}
      FROM hh
    ),
    bands AS (
      SELECT doc_id, shh, 0 AS band, md5(concat(mh0, '_', mh1)) AS bh FROM sig
      UNION ALL
      SELECT doc_id, shh, 1, md5(concat(mh2, '_', mh3)) FROM sig
      UNION ALL
      SELECT doc_id, shh, 2, md5(concat(mh4, '_', mh5)) FROM sig
      UNION ALL
      SELECT doc_id, shh, 3, md5(concat(mh6, '_', mh7)) FROM sig
    ),
    cand AS (
      SELECT DISTINCT b.doc_id AS bid, c.doc_id AS cid,
             b.shh AS sh_b, c.shh AS sh_c
      FROM bands b JOIN bands c ON b.band = c.band AND b.bh = c.bh
      WHERE b.doc_id % 2 = 1 AND c.doc_id % 2 = 0
    ),
    ver AS (
      SELECT bid, cid,
             CAST(len(list_intersect(sh_b, sh_c)) AS DOUBLE)
             / (len(sh_b) + len(sh_c) - len(list_intersect(sh_b, sh_c))) AS jac
      FROM cand
    )
    SELECT bid AS doc_id, COUNT(*) AS n_candidates,
           COUNT(CASE WHEN jac >= {JACCARD_THR} THEN 1 END) AS n_verified,
           MIN(CASE WHEN jac >= {JACCARD_THR} THEN cid END) AS best_match
    FROM ver GROUP BY bid
"""


@register("q_signature_index_probe", oracle=_SIG_INDEX_DUCK, category="dedup")
def q_signature_index_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Probe a PERSISTED MinHash signature index: the corpus half's
    signatures + hashed shingle sets are written once as a table
    (write-once cached like every roundtrip query), then the batch
    half probes the STORED index — proving dedup state survives as a
    table and the daily ingest never recomputes corpus signatures.
    The index write clusters on doc_id; the probe joins on band
    hashes and verifies Jaccard from the stored shingle arrays.
    Oracle recomputes both sides directly — the persisted roundtrip
    must be value-identical to the in-flight computation."""
    from nimble_spark.sources.cache import ensure_cached
    from nimble_spark.sources.table import WriteOptions, read_table, write_table

    def _corpus_index(spark, sf_dir):
        sig = q_minhash_signatures(spark, sf_dir).filter(F.col("doc_id") % 2 == 0)
        shh = (
            _shingled(spark, sf_dir)
            .filter(F.col("doc_id") % 2 == 0)
            .select(
                "doc_id",
                F.array_distinct(
                    F.expr(f"transform(sh, s -> {hash60_sql_spark('s')})")
                ).alias("shh"),
            )
        )
        return sig.join(shh, "doc_id")

    path = ensure_cached(
        sf_dir,
        "minhash_sig_index",
        ["documents"],
        lambda tmp: write_table(
            _corpus_index(spark, sf_dir), tmp, WriteOptions(cluster_by=["doc_id"])
        ),
    )
    stored = read_table(spark, path)

    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.md5(F.concat_ws("_", f"mh{2*b}", f"mh{2*b+1}")).alias("bh"),
            )
            for b in range(4)
        ]
    )

    def _bands(sig: DataFrame) -> DataFrame:
        return sig.select(
            "doc_id", "shh", F.explode(band_structs).alias("bb")
        ).select("doc_id", "shh", F.col("bb.band").alias("band"), F.col("bb.bh").alias("bh"))

    batch_sig = q_minhash_signatures(spark, sf_dir).filter(F.col("doc_id") % 2 == 1)
    batch_shh = (
        _shingled(spark, sf_dir)
        .filter(F.col("doc_id") % 2 == 1)
        .select(
            "doc_id",
            F.array_distinct(
                F.expr(f"transform(sh, s -> {hash60_sql_spark('s')})")
            ).alias("shh"),
        )
    )
    probe = _bands(batch_sig.join(batch_shh, "doc_id"))
    corpus = _bands(stored)
    # Candidate ids only through the distinct (arrays are functionally
    # determined by the ids, so de-duplicating (bid, cid) is identical
    # to the oracle's DISTINCT over ids+arrays — with 16-byte rows in
    # the shuffle instead of shingle arrays); arrays join back after.
    cand_ids = (
        probe.drop("shh")
        .alias("b")
        .join(
            corpus.drop("shh").alias("c"),
            (F.col("b.band") == F.col("c.band")) & (F.col("b.bh") == F.col("c.bh")),
        )
        .select(F.col("b.doc_id").alias("bid"), F.col("c.doc_id").alias("cid"))
        .distinct()
    )
    cand = cand_ids.join(
        batch_shh.select(F.col("doc_id").alias("bid"), F.col("shh").alias("sh_b")),
        "bid",
    ).join(
        stored.select(F.col("doc_id").alias("cid"), F.col("shh").alias("sh_c")),
        "cid",
    )
    inter = F.size(F.array_intersect("sh_b", "sh_c"))
    jac = inter.cast("double") / (F.size("sh_b") + F.size("sh_c") - inter)
    verified = F.when(jac >= JACCARD_THR, F.col("cid"))
    return (
        cand.groupBy(F.col("bid").alias("doc_id"))
        .agg(
            F.count(F.lit(1)).alias("n_candidates"),
            F.count(verified).alias("n_verified"),
            F.min(verified).alias("best_match"),
        )
    )


# ---------------------------------------------------------------------------
# Incremental (batch-vs-corpus) dedup — the continuous-ingest shape
# ---------------------------------------------------------------------------

_INCR_DEDUP_DUCK = f"""
    {_SHINGLE_CTE_DUCK},
    {_MD5_ARRAYS_DUCK},
    sig AS (
      SELECT doc_id,
             list_distinct(list_transform(sh, s -> {hash60_sql_duck("s")})) AS shh,
             {_minhash_cols_duck()}
      FROM hh
    ),
    bands AS (
      SELECT doc_id, shh, 0 AS band, md5(concat(mh0, '_', mh1)) AS bh FROM sig
      UNION ALL
      SELECT doc_id, shh, 1, md5(concat(mh2, '_', mh3)) FROM sig
      UNION ALL
      SELECT doc_id, shh, 2, md5(concat(mh4, '_', mh5)) FROM sig
      UNION ALL
      SELECT doc_id, shh, 3, md5(concat(mh6, '_', mh7)) FROM sig
    ),
    cand AS (
      SELECT DISTINCT b.doc_id AS bid, c.doc_id AS cid,
             b.shh AS sh_b, c.shh AS sh_c
      FROM bands b JOIN bands c ON b.band = c.band AND b.bh = c.bh
      WHERE b.doc_id % 2 = 1 AND c.doc_id % 2 = 0
    ),
    near AS (
      SELECT bid, MIN(cid) AS near_id
      FROM cand
      WHERE CAST(len(list_intersect(sh_b, sh_c)) AS DOUBLE)
            / (len(sh_b) + len(sh_c) - len(list_intersect(sh_b, sh_c)))
            >= {JACCARD_THR}
      GROUP BY bid
    ),
    ex AS (
      SELECT b.doc_id AS bid, MIN(c.doc_id) AS exact_id
      FROM documents b JOIN documents c
        ON md5(b.text) = md5(c.text)
      WHERE b.doc_id % 2 = 1 AND c.doc_id % 2 = 0
      GROUP BY b.doc_id
    )
    SELECT d.doc_id,
           CASE WHEN ex.exact_id IS NOT NULL THEN 'exact'
                WHEN near.near_id IS NOT NULL THEN 'near'
                ELSE 'novel' END AS status,
           COALESCE(ex.exact_id, near.near_id) AS match_id
    FROM documents d
    LEFT JOIN ex ON ex.bid = d.doc_id
    LEFT JOIN near ON near.bid = d.doc_id
    WHERE d.doc_id % 2 = 1
"""


@register("q_incremental_dedup", oracle=_INCR_DEDUP_DUCK, category="dedup")
def q_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup: classify an INCOMING BATCH of documents
    against an EXISTING CORPUS without recomputing the corpus — the
    shape every continuously-ingesting training-data lake runs daily.
    Here the split is deterministic (odd doc_id = batch, even =
    corpus) so the oracle can reproduce it; in deployment the corpus
    side is the persisted signature/digest index (written once per
    ingest with write_table, read back by the next), so the daily cost
    is O(batch), not O(corpus).

    Each batch doc gets a status:
      exact — its content md5 exists in the corpus (earliest match);
      near  — no exact match, but a MinHash-band collision with a
              corpus doc verifies at Jaccard ≥ 0.4;
      novel — neither.

    Scale shape: the exact layer joins 16-byte digests; the near
    layer is an asymmetric banded join — batch bands vs corpus bands
    on (band, band_hash), so each batch doc probes ~4 buckets of the
    corpus index rather than scanning it (with a small daily batch
    the batch side broadcasts). The verify ships 60-bit hashed
    shingle arrays (see lsh_near_pairs). Production adds the hot-
    bucket cap exactly as lsh_near_pairs does; it is omitted here so
    the oracle stays a plain join."""
    d = load(spark, sf_dir, "documents")
    is_batch = F.col("doc_id") % 2 == 1

    # Exact layer: batch digests probe corpus digests.
    dig = d.select("doc_id", F.md5("text").alias("h"))
    ex = (
        dig.filter(is_batch)
        .alias("b")
        .join(dig.filter(~is_batch).alias("c"), F.col("b.h") == F.col("c.h"))
        .groupBy(F.col("b.doc_id").alias("bid"))
        .agg(F.min(F.col("c.doc_id")).alias("exact_id"))
    )

    # Near layer: asymmetric banded MinHash join, hashed-shingle
    # verify. One shingle base feeds both the signature pipeline and
    # the verify sets.
    sh_t = _shingled(spark, sf_dir).select("doc_id", "sh")
    sig = _sig_from_shingles(sh_t)
    shh = sh_t.select(
        "doc_id",
        F.array_distinct(
            F.expr(f"transform(sh, s -> {hash60_sql_spark('s')})")
        ).alias("shh"),
    )
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.md5(F.concat_ws("_", f"mh{2*b}", f"mh{2*b+1}")).alias("bh"),
            )
            for b in range(4)
        ]
    )
    bands = sig.select("doc_id", F.explode(band_structs).alias("bb")).select(
        "doc_id", F.col("bb.band").alias("band"), F.col("bb.bh").alias("bh")
    )
    cand = (
        bands.filter(is_batch)
        .hint("shuffle_hash")
        .alias("b")
        .join(
            bands.filter(~is_batch).hint("shuffle_hash").alias("c"),
            (F.col("b.band") == F.col("c.band")) & (F.col("b.bh") == F.col("c.bh")),
        )
        .select(F.col("b.doc_id").alias("bid"), F.col("c.doc_id").alias("cid"))
        .distinct()
    )
    # Verify-attach: each side only needs its own parity's sets, so
    # the attach tables are halved before Spark's broadcast threshold
    # picks broadcast or shuffle for each.
    ver = cand.join(
        shh.filter(is_batch).select(F.col("doc_id").alias("bid"), F.col("shh").alias("sh_b")),
        "bid",
    ).join(
        shh.filter(~is_batch).select(F.col("doc_id").alias("cid"), F.col("shh").alias("sh_c")),
        "cid",
    )
    inter = F.size(F.array_intersect("sh_b", "sh_c"))
    jac = inter.cast("double") / (F.size("sh_b") + F.size("sh_c") - inter)
    near = (
        ver.filter(jac >= JACCARD_THR)
        .groupBy("bid")
        .agg(F.min("cid").alias("near_id"))
    )

    batch = d.filter(is_batch).select("doc_id")
    out = (
        batch.join(ex, batch.doc_id == ex.bid, "left")
        .join(near, batch.doc_id == near.bid, "left")
        .select(
            "doc_id",
            F.when(F.col("exact_id").isNotNull(), F.lit("exact"))
            .when(F.col("near_id").isNotNull(), F.lit("near"))
            .otherwise(F.lit("novel"))
            .alias("status"),
            F.coalesce("exact_id", "near_id").alias("match_id"),
        )
    )
    return out


@register(
    "q_ngram_jaccard_pairs",
    oracle=f"""
    {_SHINGLE_CTE_DUCK},
    shh AS (
      SELECT doc_id,
             list_distinct(list_transform(sh, s -> {hash60_sql_duck("s")})) AS sh
      FROM sh_t
    ),
    posting AS (
      SELECT doc_id, unnest(sh) AS s, len(sh) AS sz FROM shh
    ),
    inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             COUNT(*) AS n_common, ANY_VALUE(a.sz) AS sz_a, ANY_VALUE(b.sz) AS sz_b
      FROM posting a JOIN posting b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    )
    SELECT id_a, id_b,
           FLOOR((CAST(n_common AS DOUBLE) / (sz_a + sz_b - n_common)) * 10000 + 0.5) / 10000 AS jaccard
    FROM inter
    WHERE CAST(n_common AS DOUBLE) / (sz_a + sz_b - n_common) >= {JACCARD_THR}
    """,
    category="dedup",
)
def q_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT n-gram Jaccard near-dup pairs — the ground truth the LSH
    variant approximates — computed with AllPairs/PPJoin-style prefix
    filtering, which keeps the result identical to the naive inverted-
    index join (the oracle still runs the naive join) while shrinking
    candidate generation dramatically:

    Under any global shingle order, two sets with Jaccard ≥ t must
    share an element within each one's first |s|−⌈t·|s|⌉+1 elements
    (if all common elements sat later, the overlap would be below the
    t·|s| the threshold requires). Ordering shingles RAREST-FIRST
    (global document frequency) puts boilerplate shingles — the ones
    with quadratic posting lists — outside almost every prefix, so
    candidate pairs come from rare-shingle postings only. The exact
    intersection/union then verifies each candidate from the full
    shingle arrays. (AllPairs: Bayardo et al., WWW'07.)

    Shingles are replaced by their portable 60-bit hashes up front
    (hash-then-distinct, mirrored in the oracle so collisions stay
    consistent): every downstream stage — posting shuffle, the two
    windows, the prefix self-join, and the array_intersect verify —
    then runs on 8-byte longs instead of ~30-byte n-gram strings. At
    100 TB this cuts the posting shuffle several-fold and makes the
    verify long-equality set intersection."""
    from pyspark.sql.window import Window

    sh_t = (
        _shingled(spark, sf_dir)
        .withColumn(
            "sh",
            F.array_distinct(F.expr(f"transform(sh, s -> {hash60_sql_spark('s')})")),
        )
        .select("doc_id", "sh", F.size("sh").alias("sz"))
    )
    # explode_outer, NOT explode: plain explode makes the optimizer
    # infer a `size(sh) > 0` filter and push it below the projection,
    # inlining the whole shingle transform (including the regex
    # tokenize) into the filter — the split then re-runs per lambda
    # element_at, turning an O(tokens) pass into O(shingles·tokens)
    # (observed 10.7s → 1.0s at sf0.1 for this explode alone).
    posting = sh_t.select("doc_id", "sz", F.explode_outer("sh").alias("s")).filter(
        F.col("s").isNotNull()
    )
    # Document frequency as a window over the SAME partitioning the
    # prefix self-join shuffles on (one posting evaluation, no extra
    # groupBy+join branch re-running the shingle pipeline).
    ranked = posting.withColumn(
        "df", F.count(F.lit(1)).over(Window.partitionBy("s"))
    ).withColumn(
        "rn", F.row_number().over(Window.partitionBy("doc_id").orderBy("df", "s"))
    )
    prefix_len = F.col("sz") - F.ceil(F.lit(JACCARD_THR) * F.col("sz")) + 1
    prefix = ranked.filter(F.col("rn") <= prefix_len).select("doc_id", "s")

    # shuffle_hash on identical subplans → one Exchange, ReusedExchange
    # on the other side (same trick as the MinHash-LSH join). The
    # rarest-first prefix keeps every posting list short, so the
    # self-join's output is bounded and AQE's coalescing of its tiny
    # input shuffle is safe (pinning measured as pure task overhead
    # here, unlike the uncapped hyperplane-LSH verify).
    a = prefix.hint("shuffle_hash").alias("a")
    b = prefix.hint("shuffle_hash").alias("b")
    cand = (
        a.join(b, (F.col("a.s") == F.col("b.s")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
        .distinct()
    )
    # Verify-attach: the candidate-pair set is the bigger side; the
    # per-doc shingle-set table is the small side. Spark's broadcast
    # threshold picks the attach strategy: below it the sets
    # broadcast and the array_intersect verify runs map-side (guide
    # §3.1); the set table is O(corpus), so past it the planner falls
    # back to a shuffle join rather than an unconditional broadcast.
    sets = sh_t.select("doc_id", "sh")
    cand = cand.join(
        sets.select(F.col("doc_id").alias("id_a"), F.col("sh").alias("sh_a")), "id_a"
    ).join(sets.select(F.col("doc_id").alias("id_b"), F.col("sh").alias("sh_b")), "id_b")
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    jac = inter.cast("double") / (F.size("sh_a") + F.size("sh_b") - inter)
    return (
        cand.select("id_a", "id_b", jac.alias("jac"))
        .filter(F.col("jac") >= JACCARD_THR)
        .select("id_a", "id_b", rnd("jac", 4).alias("jaccard"))
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

# 64-bit SimHash, blocked as 4 × 16-bit bands (Hamming-space LSH).
# Pigeonhole: two signatures within Hamming distance 3 agree exactly
# on at least one of the 4 bands, so the band-equality join finds
# every qualifying pair while each join key carves the corpus into
# ~2^16 buckets per band — at 100 TB the candidate set is
# O(4 · n²/2^16) instead of the O(n²/256) a single-byte block gives.
# Token hash bits come from two independent portable 32-bit hashes
# (md5 hex chars 1-8 / 9-16) so all 64 signature bits are real.
# The signed 64-bit signature is recombined from the bands with
# overflow-safe arithmetic (no << into the sign bit: DuckDB raises on
# left-shift overflow; the high band is re-biased instead).

_SIMHASH_BANDS = 4
_HAM_THR = 3

# Token hashes are materialized into int arrays in a separate
# projection first, so the 64 per-bit vote sums reuse them — md5 runs
# twice per token, not once per (token × bit).


def _band_duck(arr: str, base: int) -> str:
    return (
        f"list_sum(list_transform(generate_series(0, 15), i -> "
        f"CASE WHEN list_sum(list_transform({arr}, h -> ((h >> (i + {base})) & 1) * 2 - 1)) > 0 "
        f"THEN (1::BIGINT << i) ELSE 0 END))"
    )


# b3 carries signature bits 48..63; re-bias it into [-32768, 32767]
# before the 2^48 multiply so the product stays inside int64.
_SH_FROM_BANDS = (
    "{b0} + {b1} * 65536 + {b2} * 4294967296 "
    "+ ({b3} - (CASE WHEN {b3} >= 32768 THEN 65536 ELSE 0 END)) * 281474976710656"
)

_SIMHASH_CTE_DUCK = f"""
    WITH t AS (SELECT doc_id, {_TOKS_DUCK} AS toks FROM documents),
    th AS (SELECT doc_id,
                  list_transform(toks, x -> {hash32_sql_duck("x")}) AS h1,
                  list_transform(toks, x -> {hash32b_sql_duck("x")}) AS h2
           FROM t),
    bands AS (SELECT doc_id,
                     CAST({_band_duck("h1", 0)} AS BIGINT) AS b0,
                     CAST({_band_duck("h1", 16)} AS BIGINT) AS b1,
                     CAST({_band_duck("h2", 0)} AS BIGINT) AS b2,
                     CAST({_band_duck("h2", 16)} AS BIGINT) AS b3
              FROM th),
    sig AS (SELECT doc_id,
                   CAST({_SH_FROM_BANDS.format(b0="b0", b1="b1", b2="b2", b3="b3")} AS BIGINT) AS sh
            FROM bands)
"""


def _simhashed(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Explode + 64 codegen'd integer sums instead of 64 higher-order
    # lambda passes: higher-order functions evaluate interpreted
    # (outside whole-stage codegen), while explode → SUM((h>>j)&1…)
    # is plain vectorized arithmetic with map-side partial
    # aggregation — the shuffle carries 64 ints per doc regardless of
    # document length. Docs with no tokens survive via explode_outer
    # (null votes → all-zero signature, matching the oracle's
    # list_sum(empty)=NULL → 0-bit semantics).
    # Tokens are exploded BEFORE hashing (r12): the r11 shape ran
    # md5 inside two transform() lambdas — interpreted, and twice per
    # token. Exploding first materializes ONE codegen'd md5 hex per
    # token and derives both 32-bit hashes as substr/conv slices of
    # it (identical values — hash32/hash32b are by definition hex
    # chars 1-8 / 9-16 of the same md5). Measured 1.5 s → 1.05 s warm
    # at sf0.1 for the signature subtree alone.
    d = load(spark, sf_dir, "documents").withColumn("toks", F.expr(_TOKS_SPARK))
    tok = (
        d.select("doc_id", F.explode_outer("toks").alias("x"))
        .select("doc_id", F.md5("x").alias("m"))
        .select(
            "doc_id",
            F.expr("CAST(conv(substr(m, 1, 8), 16, 10) AS BIGINT)").alias("th1"),
            F.expr("CAST(conv(substr(m, 9, 8), 16, 10) AS BIGINT)").alias("th2"),
        )
    )
    vote_cols = []
    for j in range(64):
        src = "th1" if j < 32 else "th2"
        vote_cols.append(
            F.sum(F.shiftright(src, j % 32).bitwiseAND(F.lit(1)) * 2 - 1).alias(f"v{j}")
        )
    votes = tok.groupBy("doc_id").agg(*vote_cols)
    band_exprs = []
    for k in range(4):
        bits = " + ".join(
            f"IF(v{16 * k + i} > 0, shiftleft(1L, {i}), 0L)" for i in range(16)
        )
        band_exprs.append(F.expr(bits).alias(f"b{k}"))
    bands = votes.select("doc_id", *band_exprs)
    sh = F.expr(_SH_FROM_BANDS.format(b0="b0", b1="b1", b2="b2", b3="b3"))
    return bands.select("doc_id", sh.cast("long").alias("simhash"))


# defined before the @register block so the DuckDB oracle interpolates
# the SAME constant the Spark side caps on (one value, two engines)
_FUZZY_BLOCK_CAP = 64


@register(
    "q_fuzzy_prefix_pairs",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, lang, substring(text, 1, 8) AS blk,
             substring(text, 1, 40) AS p40
      FROM documents
      QUALIFY COUNT(*) OVER (PARTITION BY lang, substring(text, 1, 8))
              <= {_FUZZY_BLOCK_CAP}
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(levenshtein(a.p40, b.p40) AS BIGINT) AS dist
    FROM d a JOIN d b
      ON a.lang = b.lang AND a.blk = b.blk AND a.doc_id < b.doc_id
    WHERE levenshtein(a.p40, b.p40) <= 6
    """,
    category="dedup",
)
def q_fuzzy_prefix_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy (edit-distance) near-dup pairs — the record-linkage
    primitive for boilerplate-opening detection: documents whose
    40-char prefixes are within Levenshtein distance 6, candidate
    generation BLOCKED on (lang, 8-char prefix) so the quadratic
    verify runs only inside blocks — see fuzzy_prefix_pairs for the
    hot-block skew cap that bounds each block's B² verify cost."""
    return fuzzy_prefix_pairs(load(spark, sf_dir, "documents"))


def fuzzy_prefix_pairs(
    docs: DataFrame, block_cap: int = _FUZZY_BLOCK_CAP
) -> DataFrame:
    """Blocked Levenshtein near-dup pairs with a hot-block cap.

    At 100 TB blocking is the whole game — but blocking ALONE is not
    enough: a boilerplate-heavy corpus ("Copyright …", "<!DOCTYPE …")
    concentrates millions of documents in one (lang, prefix) block,
    and the within-block verify is B² Levenshtein calls in a single
    straggler task. Blocks larger than ``block_cap`` are therefore
    excluded from candidate generation entirely (the same skew
    control as _LSH_BUCKET_CAP at lsh_near_pairs): an oversized block
    is by definition boilerplate, and boilerplate collisions are
    better handled by the exact-hash dedup path. The count rides the
    join's own Exchange — the window partitions by exactly the keys
    the self-join shuffles on, so the cap adds no extra shuffle — and
    the shuffle_hash hint makes both join sides share one
    ReusedExchange."""
    from pyspark.sql.window import Window

    d = docs.select(
        "doc_id",
        "lang",
        F.substring("text", 1, 8).alias("blk"),
        F.substring("text", 1, 40).alias("p40"),
    )
    d = (
        d.withColumn("__bn", F.count(F.lit(1)).over(Window.partitionBy("lang", "blk")))
        .filter(F.col("__bn") <= block_cap)
        .drop("__bn")
    )
    a, b = d.hint("shuffle_hash").alias("a"), d.hint("shuffle_hash").alias("b")
    dist = F.levenshtein(F.col("a.p40"), F.col("b.p40"))
    return (
        a.join(
            b,
            (F.col("a.lang") == F.col("b.lang"))
            & (F.col("a.blk") == F.col("b.blk"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .withColumn("dist", dist.cast("long"))
        .filter(F.col("dist") <= 6)
        .select(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
            "dist",
        )
    )


@register(
    "q_simhash",
    oracle=f"""
    {_SIMHASH_CTE_DUCK}
    SELECT doc_id, sh AS simhash FROM sig
    """,
    category="dedup",
)
def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash (64-bit) document signature: per bit, sign of the sum of
    ±1 votes from each token hash. Near-dups differ in few bits —
    pair detection joins on 16-bit signature bands like MinHash-LSH."""
    return _simhashed(spark, sf_dir)


@register(
    "q_simhash_near_pairs",
    oracle=f"""
    {_SIMHASH_CTE_DUCK},
    sb AS (
      SELECT doc_id, sh, j, (sh >> (16 * j)) & 65535 AS bv
      FROM sig, generate_series(0, {_SIMHASH_BANDS - 1}) AS t(j)
    ),
    pairs AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
             CAST(bit_count(CAST(xor(a.sh, b.sh) AS BIGINT)) AS INTEGER) AS hamming
      FROM sb a JOIN sb b ON a.j = b.j AND a.bv = b.bv AND a.doc_id < b.doc_id
    )
    SELECT id_a, id_b, hamming FROM pairs WHERE hamming <= {_HAM_THR}
    """,
    category="dedup",
)
def q_simhash_near_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup candidates via banded Hamming LSH: explode each
    64-bit signature into 4 × 16-bit band keys, bucket-equi-join on
    (band, value) — every Hamming≤3 pair shares ≥1 exact band — then
    verify the true Hamming distance. The join key space is 4 · 2^16
    buckets, so candidates stay near-linear at corpus scale (vs. the
    O(n²/256) of single-byte blocking)."""
    sig = q_simhash(spark, sf_dir).withColumnRenamed("simhash", "sh")
    bands = sig.select(
        "doc_id",
        "sh",
        F.posexplode(
            F.array(*[
                F.shiftright("sh", 16 * j).bitwiseAND(F.lit(65535))
                for j in range(_SIMHASH_BANDS)
            ])
        ).alias("j", "bv"),
    )
    # shuffle_hash: the Exchange(j, bv) physically materializes sh
    # before the join, so the hamming expression below reads the
    # stored 8-byte signature instead of re-inlining the 64-vote
    # pipeline per candidate row (Spark has no CSE across the join
    # boundary — observed 27s → 6s at sf0.1); both sides share the
    # identical exchange via ReusedExchange.
    a = bands.hint("shuffle_hash").alias("a")
    b = bands.hint("shuffle_hash").alias("b")
    hamming = F.bit_count(F.col("a.sh").bitwiseXOR(F.col("b.sh"))).cast("int")
    return (
        a.join(
            b,
            (F.col("a.j") == F.col("b.j"))
            & (F.col("a.bv") == F.col("b.bv"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
            hamming.alias("hamming"),
        )
        .filter(F.col("hamming") <= _HAM_THR)
        .distinct()
    )


@register(
    "q_dedup_clusters",
    oracle=f"""
    WITH RECURSIVE pairs AS (
      {_LSH_PAIRS_DUCK}
    ),
    nodes AS (SELECT id_a AS id FROM pairs UNION SELECT id_b FROM pairs),
    edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
              UNION SELECT id_b, id_a FROM pairs),
    reach AS (
      SELECT id AS src, id AS dst FROM nodes
      UNION
      SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
    ),
    labels AS (SELECT dst AS id, MIN(src) AS cluster_rep FROM reach GROUP BY dst)
    SELECT cluster_rep, COUNT(*) AS n_members
    FROM labels GROUP BY cluster_rep
    """,
    category="dedup",
)
def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate cluster formation — the step after pair
    generation in a 100 TB dedup pipeline: connected components over
    the MinHash-LSH pair graph, each cluster keyed by its minimum
    doc_id (the canonical representative; everything else is the drop
    set). Implemented as min-label propagation to a fixpoint — each
    iteration is one join + one partial-aggregated groupBy, lineage
    truncated per round; iteration count = component diameter, which
    for near-dup clusters is tiny (pairs/triangles). At larger
    diameters swap in the large-star/small-star variant (same
    primitive, provably O(log n) rounds). Oracle: DuckDB recursive-CTE
    reachability."""
    pairs = q_minhash_lsh_pairs(spark, sf_dir).select("id_a", "id_b")
    edges = (
        pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
        .union(pairs.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst")))
        .localCheckpoint()  # pair generation runs once, not per iteration
    )
    labels = edges.select(F.col("src").alias("id")).distinct().withColumn(
        "label", F.col("id")
    )
    while True:
        prop = (
            edges.join(labels, edges.src == labels.id)
            .groupBy("dst")
            .agg(F.min("label").alias("nlabel"))
        )
        new_labels = (
            labels.join(prop, labels.id == prop.dst, "left")
            .select(
                labels.id,
                F.least(labels.label, F.coalesce(prop.nlabel, labels.label)).alias("label"),
            )
            .localCheckpoint()
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "id")
            .filter(F.col("n.label") != F.col("o.label"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    return labels.groupBy(F.col("label").alias("cluster_rep")).agg(
        F.count(F.lit(1)).alias("n_members")
    )


@register(
    "q_containment_pairs",
    oracle=f"""
    {_SHINGLE_CTE_DUCK},
    posting AS (
      SELECT doc_id, unnest(sh) AS s, len(sh) AS sz FROM sh_t
    ),
    inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             COUNT(*) AS n_common, ANY_VALUE(a.sz) AS sz_a
      FROM posting a JOIN posting b ON a.s = b.s AND a.doc_id <> b.doc_id
      GROUP BY a.doc_id, b.doc_id
    )
    SELECT id_a, id_b,
           FLOOR((CAST(n_common AS DOUBLE) / sz_a) * 10000 + 0.5) / 10000
             AS containment
    FROM inter
    WHERE CAST(n_common AS DOUBLE) / sz_a >= 0.5
    """,
    category="dedup",
)
def q_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DIRECTED containment near-dup pairs: |A∩B| / |A| ≥ 0.5 — the
    asymmetric overlap measure that catches a document embedded
    inside a larger one (quote farms, aggregator pages), which
    symmetric Jaccard dilutes away. Same inverted-index candidate
    generation as the Jaccard query; at 100 TB the posting join gets
    the identical hot-shingle cap treatment as the LSH pipeline
    (boilerplate shingles are the quadratic risk, not document
    count)."""
    from pyspark.sql import Window

    posting = (
        _shingled(spark, sf_dir)
        .select("doc_id", F.size("sh").alias("sz"), F.explode_outer("sh").alias("s"))
        .filter(F.col("s").isNotNull())
    )
    a = posting.hint("shuffle_hash").alias("a")
    b = posting.hint("shuffle_hash").alias("b")
    inter = (
        a.join(b, (F.col("a.s") == F.col("b.s")) & (F.col("a.doc_id") != F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("n_common"), F.first(F.col("a.sz")).alias("sz_a"))
    )
    cont = F.col("n_common").cast("double") / F.col("sz_a")
    return inter.filter(cont >= 0.5).select(
        "id_a", "id_b", rnd(cont, 4).alias("containment")
    )


@register(
    "q_dedup_report",
    oracle=f"""
    WITH ex AS (
      SELECT md5(text) AS h, COUNT(*) AS n FROM documents GROUP BY md5(text)
    ),
    mh AS ({_LSH_PAIRS_DUCK}),
    sh_pairs AS (
      {_SIMHASH_CTE_DUCK},
      sb AS (
        SELECT doc_id, sh, j, (sh >> (16 * j)) & 65535 AS bv
        FROM sig, generate_series(0, {_SIMHASH_BANDS - 1}) AS t(j)
      ),
      pairs AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
               CAST(bit_count(CAST(xor(a.sh, b.sh) AS BIGINT)) AS INTEGER) AS hamming
        FROM sb a JOIN sb b ON a.j = b.j AND a.bv = b.bv AND a.doc_id < b.doc_id
      )
      SELECT id_a, id_b FROM pairs WHERE hamming <= {_HAM_THR}
    )
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM documents) AS n_docs,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM ex) AS n_distinct_contents,
           (SELECT CAST(SUM(n - 1) AS BIGINT) FROM ex WHERE n > 1) AS n_exact_dup_rows,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM mh) AS n_minhash_pairs,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM sh_pairs) AS n_simhash_pairs
    """,
    category="dedup",
)
def q_dedup_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row dedup scorecard across the family's methods: corpus
    size, distinct contents, rows exact dedup would drop, and the
    near-dup pair counts MinHash-LSH and SimHash each surface — the
    summary a dataset card quotes and the sanity check that the
    approximate detectors stay in the same order of magnitude as
    each other run over run. Composes the production pipelines
    (each already oracle-gated on its own); the rollup itself is
    three single-row aggregates."""
    d = load(spark, sf_dir, "documents")
    ex = d.groupBy(F.md5("text").alias("h")).agg(F.count(F.lit(1)).alias("n"))
    exact = ex.agg(
        F.count(F.lit(1)).alias("n_distinct_contents"),
        F.sum(F.when(F.col("n") > 1, F.col("n") - 1)).cast("long").alias("n_exact_dup_rows"),
    )
    n_docs = d.agg(F.count(F.lit(1)).alias("n_docs"))
    mh = q_minhash_lsh_pairs(spark, sf_dir).agg(
        F.count(F.lit(1)).alias("n_minhash_pairs")
    )
    sh = q_simhash_near_pairs(spark, sf_dir).agg(
        F.count(F.lit(1)).alias("n_simhash_pairs")
    )
    return (
        n_docs.crossJoin(exact).crossJoin(mh).crossJoin(sh).select(
            "n_docs",
            "n_distinct_contents",
            "n_exact_dup_rows",
            "n_minhash_pairs",
            "n_simhash_pairs",
        )
    )


@register(
    "q_source_overlap",
    oracle="""
    WITH d AS (SELECT DISTINCT source, md5(text) AS h FROM documents),
    sizes AS (SELECT source, COUNT(*) AS n FROM d GROUP BY source),
    shared AS (
      SELECT a.source AS src_a, b.source AS src_b, COUNT(*) AS n_shared
      FROM d a JOIN d b ON a.h = b.h AND a.source < b.source
      GROUP BY a.source, b.source
    )
    SELECT sa.source AS src_a, sb.source AS src_b,
           CAST(COALESCE(sh.n_shared, 0) AS BIGINT) AS n_shared,
           FLOOR((CAST(COALESCE(sh.n_shared, 0) AS DOUBLE) / LEAST(sa.n, sb.n)) * 1000000 + 0.5) / 1000000
             AS containment
    FROM sizes sa
    JOIN sizes sb ON sa.source < sb.source
    LEFT JOIN shared sh ON sh.src_a = sa.source AND sh.src_b = sb.source
    """,
    category="dedup",
)
def q_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source content overlap: for every source pair, how many
    distinct contents they share and the containment ratio
    (shared / smaller side) — the dataset-diligence matrix that
    catches one crawl being a subset of another before both are
    weighted into a mix. Every source pair appears (zero rows when
    disjoint, as this synthetic corpus is — the matrix proving
    disjointness IS the diligence result). Digests only in the join
    (16 bytes/row); sources × sources output is metadata-size."""
    d = load(spark, sf_dir, "documents").select(
        "source", F.md5("text").alias("h")
    ).distinct()
    sizes = d.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    shared = (
        d.alias("a")
        .join(d.alias("b"), (F.col("a.h") == F.col("b.h")) & (F.col("a.source") < F.col("b.source")))
        .groupBy(F.col("a.source").alias("src_a"), F.col("b.source").alias("src_b"))
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    grid = (
        sizes.select(F.col("source").alias("src_a"), F.col("n").alias("na"))
        .join(
            sizes.select(F.col("source").alias("src_b"), F.col("n").alias("nb")),
            F.col("src_a") < F.col("src_b"),
        )
    )
    return (
        grid.join(F.broadcast(shared), ["src_a", "src_b"], "left")
        .select(
            "src_a",
            "src_b",
            F.coalesce("n_shared", F.lit(0)).cast("long").alias("n_shared"),
            rnd(
                F.coalesce("n_shared", F.lit(0)).cast("double") / F.least("na", "nb"), 6
            ).alias("containment"),
        )
    )
