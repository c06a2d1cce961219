"""Event-log fold on a small captured log (no Spark needed).

``testdata/events_small.jsonl`` holds the job-start, job-end and task-end
events of a local[1] session traced by ``spans.Tracer``, trimmed to the
fields the fold reads, and
``testdata/spans_small.json`` the tracer's spans (times rebased to 0):

  span 0  unattributed  root; one count() job of its own
  span 1  lsh           a groupBy/count collect: map stage + result stage
  span 2  verify        a pandas-UDF projection written to parquet (10 rows)
  (none)                a final collect() outside every span
"""

from __future__ import annotations

import json
from pathlib import Path

import pytest

from spans import _span_of, fold_event_log, layer_rows

DATA = Path(__file__).resolve().parent / "testdata"


@pytest.fixture(scope="module")
def folded():
    with (DATA / "events_small.jsonl").open() as f:
        return fold_event_log(f)


@pytest.fixture(scope="module")
def spans():
    return json.loads((DATA / "spans_small.json").read_text())


def test_innermost_span_wins():
    assert _span_of("perfbench-span-3,spark-session-x,perfbench-span-12") == 12
    assert _span_of("spark-session-x") is None
    assert _span_of("") is None


def test_jobs_keyed_by_span_and_untagged_dropped(folded):
    assert set(folded) == {0, 1, 2}
    assert folded[0]["jobs"] == 1
    assert folded[1]["jobs"] >= 1


def test_task_metrics_land_on_their_span(folded):
    assert folded[1]["shuffle_bytes"] > 0
    assert folded[1]["peak_mem_bytes"] > 0
    assert folded[2]["shuffle_bytes"] == 0
    assert folded[2]["rows_out"] == 10
    assert folded[2]["bytes_written"] > 0
    assert folded[2]["python_s"] > 0
    assert folded[0]["python_s"] == folded[1]["python_s"] == 0


def test_layer_rows_walls_add_up(folded, spans):
    rows = layer_rows(spans, folded, n_ops=1)
    root = spans[0]
    walls = sum(v for k, v in rows.items() if k.endswith(".wall_s"))
    assert walls == pytest.approx(root["end"] - root["start"])
    assert rows["lsh.jobs"] == folded[1]["jobs"]
    assert rows["verify.python_s"] == folded[2]["python_s"]
    assert rows["unattributed.jobs"] == 1
    # verify's bytes are not a StageCatalog or UpsertTable write
    assert "verify.bytes_written" not in rows
    assert rows["verify.yield"] == 0.0  # no candidate_pairs rows recorded
    assert rows["simhash.jobs"] == 0


def test_layer_rows_per_operation(folded, spans):
    one = layer_rows(spans, folded, n_ops=1)
    two = layer_rows(spans, folded, n_ops=2)
    assert two["lsh.jobs"] == one["lsh.jobs"] / 2
    assert two["lsh.peak_mem_bytes"] == one["lsh.peak_mem_bytes"]  # a maximum, not a sum
