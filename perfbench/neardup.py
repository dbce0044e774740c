"""``neardup``: five registered near-duplicate operators over a seeded
``documents`` / ``embeddings`` corpus shaped like the sf0.1 one (30-word
vocabulary, 8-90 tokens per document, 64-d unit vectors in 10 label
cells), with a seeded share of injected near-duplicates: token edits of
an earlier document, small noise on an earlier vector.

Each op constructs one operator and executes it in full into a ``noop``
sink. The work is on the operators layer and on Spark's shuffles and
joins; the ``sources`` layers stay nearly idle."""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from common import Workload

QUERIES = (
    "q_minhash_lsh_pairs",
    "q_ngram_jaccard_pairs",
    "q_embedding_neardup_lsh",
    "q_incremental_dedup",
    "q_semantic_dedup",
)
# the operators with a verify step (``q.verified_frac``);
# q_semantic_dedup keeps every vector and flags the dropped ones
VERIFIED = QUERIES[:4]
SIZES = {"normal": {"docs": 1000, "vecs": 600}, "tiny": {"docs": 200, "vecs": 120}}
VOCAB = ("spark window merge table column vector stream value data small join filter big "
         "group hash customer sort order slow line part fast row the agg key query a scan "
         "batch").split()
LANGS = (["en", "zh", "es", "fr", "de"], [0.41, 0.15, 0.15, 0.15, 0.14])


def corpus(rng: np.random.Generator, n_docs: int, n_vecs: int) -> tuple[pa.Table, pa.Table]:
    share = rng.uniform(0.08, 0.12)  # injected near-duplicates
    vocab = np.array(VOCAB)
    texts: list[str] = []
    for i in range(n_docs):
        if i and rng.random() < share:
            toks = texts[int(rng.integers(0, i))].split()
            for _ in range(int(rng.integers(1, 4))):
                toks[int(rng.integers(0, len(toks)))] = str(vocab[rng.integers(0, len(vocab))])
            texts.append(" ".join(toks))
        else:
            texts.append(" ".join(vocab[rng.integers(0, len(vocab), int(rng.integers(8, 91)))]))
    docs = pa.table({
        "doc_id": np.arange(n_docs, dtype="int64"),
        "text": texts,
        "lang": rng.choice(LANGS[0], n_docs, p=LANGS[1]),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype="int64"),
    })
    vecs = rng.standard_normal((n_vecs, 64)).astype("float32")
    for i in range(1, n_vecs):
        if rng.random() < share:
            vecs[i] = vecs[int(rng.integers(0, i))] + 0.05 * rng.standard_normal(64).astype("float32")
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    emb = pa.table({
        "vec_id": np.arange(n_vecs, dtype="int64"),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n_vecs).astype("int32"),
    })
    return docs, emb


def frame_hash(pdf) -> str:
    """The correctness harness's order-insensitive hash of a result,
    taken through pandas the way the harness takes it."""
    from harness.check_correctness import table_hash

    rows = list(pdf.itertuples(index=False, name=None))
    return table_hash(rows, [c.lower() for c in pdf.columns])


class NearDup(Workload):
    kinds = QUERIES
    setup_reps = 3
    warmup_checks = True

    def __init__(self, spark, tracer, seed: int, size: str, work: str) -> None:
        super().__init__(spark, tracer, seed, work)
        from nimble_spark.registry import QUERIES as REGISTRY, _load_all

        _load_all()
        self.registry = REGISTRY
        self.counts = SIZES[size]
        self.hashes: dict[str, tuple[int, str]] = {}

    def setup(self, rep_dir: str) -> None:
        """Generate the corpus into a fresh input directory (timed, repeated)."""
        docs, emb = corpus(np.random.default_rng([self.seed, 0]), self.counts["docs"], self.counts["vecs"])
        pq.write_table(docs, os.path.join(rep_dir, "documents.parquet"))
        pq.write_table(emb, os.path.join(rep_dir, "embeddings.parquet"))
        self.input_dir = rep_dir

    def warmup(self, loop) -> None:
        """One untimed pass that collects each operator's output; its
        rows are what the DuckDB oracles are checked against."""
        import pandas as pd

        def collect(q):
            df = self.registry[q].fn(self.spark, self.input_dir)
            return pd.DataFrame([tuple(r) for r in df.collect()], columns=df.columns)

        for q in QUERIES:
            pdf = self.run(loop, q, lambda q=q: collect(q), None)
            if pdf is not None:
                self.hashes[q] = (len(pdf), frame_hash(pdf))

    def order(self) -> list[str]:
        return list(QUERIES)

    def op(self, loop, q: str) -> None:
        self.run(loop, q, lambda: self._pass_one(q), None)

    def _pass_one(self, q: str) -> None:
        with self.tracer.span(q + ".construct", "operators"):
            df = self.registry[q].fn(self.spark, self.input_dir)
        with self.tracer.span("exec", "spark"):
            df.write.format("noop").mode("overwrite").save()
        return True

    def finish(self, loop) -> None:
        """Each operator's rows hash equal to its registry DuckDB oracle
        over the same generated corpus."""
        import duckdb

        con = duckdb.connect()
        for t in ("documents", "embeddings"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.input_dir}/{t}.parquet'")
        for q in QUERIES:
            if q not in self.hashes:
                continue  # its warm-up op failed, and counted
            want = frame_hash(con.sql(self.registry[q].oracle).df())
            n, got = self.hashes[q]
            if got != want:
                loop.count_failure(f"{q}: spark hash {got} ({n} rows) != oracle {want}")
        con.close()

    def report(self, lat: dict) -> dict:
        from common import median

        meds = [median(lat.get(q, [])) for q in QUERIES]
        return {"pipeline_s": None if None in meds else sum(meds)}

    def layers(self) -> dict:
        return {f"{q}.output_rows": float(n) for q, (n, _) in self.hashes.items()}
