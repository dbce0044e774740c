"""Verify-attach strategy is the planner's choice.

The near-dup verifies attach per-doc payload tables (hashed shingle
sets, embedding vectors) to a quadratic candidate-pair set with plain
joins, so Spark's broadcast threshold (and AQE's runtime re-plan)
picks broadcast or shuffle. These tests run each such operator under
the session default and again with broadcasting disabled — the shape a
payload above the threshold gets at scale — and prove (a) the results
are identical and (b) nothing is broadcast once the threshold says no.
"""

from __future__ import annotations

import pytest

from tests.conftest import SF_SMALL

NO_BROADCAST = {
    "spark.sql.autoBroadcastJoinThreshold": "-1",
    "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
}


@pytest.mark.parametrize(
    "qname",
    [
        "q_minhash_lsh_pairs",
        "q_ngram_jaccard_pairs",
        "q_embedding_neardup_lsh",
        "q_incremental_dedup",
    ],
)
def test_large_branch_results_identical(spark, qname):
    """End-to-end: with the broadcast threshold at -1 (every attach
    takes the shuffle branch) the query returns exactly the rows the
    default returns, and its final adaptive plan broadcasts nothing."""
    from nimble_spark.registry import QUERIES, _load_all

    _load_all()
    fn = QUERIES[qname].fn
    want = sorted(tuple(r) for r in fn(spark, SF_SMALL).collect())
    saved = {k: spark.conf.get(k, None) for k in NO_BROADCAST}
    for k, v in NO_BROADCAST.items():
        spark.conf.set(k, v)
    try:
        df = fn(spark, SF_SMALL)
        got = sorted(tuple(r) for r in df.collect())
        plan = df._jdf.queryExecution().executedPlan().toString()
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    assert got == want
    assert len(want) > 0  # the gate must compare real rows, not two empties
    assert "isFinalPlan=true" in plan, plan
    assert "BroadcastHashJoin" not in plan, plan
