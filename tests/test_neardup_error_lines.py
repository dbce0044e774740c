"""A green near-dup run prints no ERROR lines.

The four verify operators the near-dup benchmark runs are executed in
full (``noop`` sink) three times in a child process with its own JVM,
so the driver log holds exactly their output. Lazy ``localCheckpoint``
on these paths used to print ``ERROR DAGScheduler: Failed to update
accumulator ... non-existent accumulator`` traces on repeated runs.
"""

from __future__ import annotations

import os
import re
import subprocess
import sys
from pathlib import Path

from tests.conftest import SF_SMALL

NEARDUP_QUERIES = (
    "q_minhash_lsh_pairs",
    "q_ngram_jaccard_pairs",
    "q_incremental_dedup",
    "q_embedding_neardup_lsh",
)

_SCRIPT = r"""
import sys
repo, sf, names = sys.argv[1], sys.argv[2], sys.argv[3:]
sys.path.insert(0, repo)
from nimble_spark import get_spark
from nimble_spark.registry import QUERIES, _load_all

_load_all()
spark = get_spark("neardup_error_lines")
for _ in range(3):
    for name in names:
        QUERIES[name].fn(spark, sf).write.format("noop").mode("overwrite").save()
print("NOOP_OK")
"""

ERROR_LINE = re.compile(r"\bERROR\b")


def test_neardup_verify_runs_print_no_error_lines():
    repo = str(Path(__file__).resolve().parents[1])
    env = dict(os.environ, SPARK_GRAFT_DRIVER_MEM="1g")
    out = subprocess.run(
        [sys.executable, "-c", _SCRIPT, repo, SF_SMALL, *NEARDUP_QUERIES],
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    assert "NOOP_OK" in out.stdout
    errors = [line for line in out.stderr.splitlines() if ERROR_LINE.search(line)]
    assert errors == [], f"{len(errors)} ERROR lines:\n" + "\n".join(errors[:20])
