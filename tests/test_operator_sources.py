"""Source-level guard: operators decide materialization from what their
callers state, never by reading Spark-internal plan text or RDD handles."""

from __future__ import annotations

import re
from pathlib import Path

OPERATORS = Path(__file__).resolve().parents[1] / "co_deduplicate_spark" / "operators"
PRIVATE_PLAN_READS = re.compile(r"_jdf|queryExecution|\.rdd\b")


def test_operators_read_no_spark_internals():
    hits = [
        f"{path.name}:{n}: {line.strip()}"
        for path in sorted(OPERATORS.glob("*.py"))
        for n, line in enumerate(path.read_text().splitlines(), 1)
        if PRIVATE_PLAN_READS.search(line)
    ]
    assert not hits, "\n".join(hits)
