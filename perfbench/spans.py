"""Per-layer tracing from outside the package.

A span is opened around each call into a layer's public function. Each span
adds a Spark job tag naming it, so Spark's event log attributes every task
to the innermost open span. Job tags are used instead of job groups because
a group is a single slot that the package itself may set; tags accumulate.

Spark is lazy: a layer function usually returns a plan, and the work runs
when something forces it. With ``materialize=True`` (batch workloads) the
wrapper writes the returned DataFrame to parquet inside the span and hands
the re-read table downstream, so a layer's work is charged to that layer.
With ``materialize=False`` (arrivals, where an extra write per call would
change what is measured) work is charged to whichever span forces it.

The event log is folded after the session stops (`fold_event_log`), then
joined with the in-memory spans (`layer_rows`).
"""

from __future__ import annotations

import json
import time
from collections import defaultdict
from contextlib import contextmanager
from pathlib import Path

TAG_PREFIX = "perfbench-span-"
ROOT = "unattributed"

# every layer the benchmark can report, in pipeline order
LAYERS = (
    "corpus", "signatures", "lsh", "verify", "simhash", "substring", "window",
    "rules", "edges", "cc", "clusters", "business_view", "upsert",
    "incremental", "arrival",
)
# layers whose jobs run an Arrow (pandas) UDF; in arrivals the signature
# kernel runs when incremental_update checkpoints its delta
PYTHON_LAYERS = ("corpus", "signatures", "verify", "simhash", "substring", "window",
                 "incremental")
# layers that persist tables: StageCatalog.write stages, UpsertTable writes
WRITE_LAYERS = (
    "corpus", "signatures", "edges", "cc", "clusters", "upsert",
)
TASK_METRICS = (
    "cpu_s", "shuffle_bytes", "spill_bytes", "peak_mem_bytes", "python_s",
    "bytes_written", "rows_out", "input_bytes",
)
# StageCatalog.write stage name -> layer
STAGE_LAYER = {
    "corpus": "corpus", "signatures": "signatures", "candidate_edges": "edges",
    "cluster_labels": "cc", "clusters": "clusters",
}


class Tracer:
    """Spans kept in memory; one Spark job tag per span."""

    def __init__(self, spark, materialize_dir: str | None = None):
        self.sc = spark.sparkContext
        self.spark = spark
        self.materialize_dir = materialize_dir
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._undo: list[tuple] = []

    @contextmanager
    def span(self, layer: str, fn: str = "", stage_write: bool = False):
        rec = {"id": len(self.spans), "layer": layer, "fn": fn,
               "parent": self._stack[-1] if self._stack else None,
               "stage_write": stage_write, "rows": 0, "start": time.monotonic()}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        tag = f"{TAG_PREFIX}{rec['id']}"
        self.sc.addJobTag(tag)
        try:
            yield rec
        finally:
            self.sc.removeJobTag(tag)
            self._stack.pop()
            rec["end"] = time.monotonic()

    def _materialize(self, df, rec):
        import pyarrow.parquet as pq

        path = Path(self.materialize_dir) / f"span-{rec['id']}"
        df.write.parquet(str(path))
        rec["rows"] = sum(pq.ParquetFile(f).metadata.num_rows
                          for f in path.glob("*.parquet"))
        return self.spark.read.parquet(str(path))

    def wrap(self, owner, name: str, layer: str, materialize: bool = True) -> None:
        """Replace ``owner.name`` by a spanned call until `restore`."""
        from pyspark.sql import DataFrame

        orig = getattr(owner, name)

        def spanned(*args, **kwargs):
            with self.span(layer, fn=name) as rec:
                out = orig(*args, **kwargs)
                if materialize and self.materialize_dir and isinstance(out, DataFrame):
                    out = self._materialize(out, rec)
                return out

        setattr(owner, name, spanned)
        self._undo.append((owner, name, orig))

    def wrap_stage_writes(self, catalog_cls) -> None:
        """Span each StageCatalog.write under the layer owning its stage."""
        orig = catalog_cls.write

        def spanned(cat, name, df, counters=None):
            with self.span(STAGE_LAYER.get(name, ROOT), fn=f"write:{name}",
                           stage_write=True):
                return orig(cat, name, df, counters)

        catalog_cls.write = spanned
        self._undo.append((catalog_cls, "write", orig))

    def restore(self) -> None:
        while self._undo:
            owner, name, orig = self._undo.pop()
            setattr(owner, name, orig)


def _span_of(tags: str) -> int | None:
    """Innermost span among a job's tags: spans nest, so the newest open
    span has the largest id."""
    ids = [int(t[len(TAG_PREFIX):]) for t in tags.split(",")
           if t.startswith(TAG_PREFIX)]
    return max(ids) if ids else None


def fold_event_log(lines) -> dict[int, dict]:
    """Fold Spark event-log JSON lines into per-span task totals.

    A stage belongs to the first job that lists it (later jobs list reused
    shuffle stages as skipped). Only job-start and task-end events are
    parsed; the rest are skipped by prefix without decoding.
    """
    stage_span: dict[int, int] = {}
    out: dict[int, dict] = defaultdict(lambda: dict.fromkeys(("jobs",) + TASK_METRICS, 0))
    for line in lines:
        if line.startswith('{"Event":"SparkListenerJobStart"'):
            ev = json.loads(line)
            sid = _span_of(ev.get("Properties", {}).get("spark.job.tags", ""))
            if sid is None:
                continue
            out[sid]["jobs"] += 1
            for stage in ev["Stage IDs"]:
                stage_span.setdefault(stage, sid)
        elif line.startswith('{"Event":"SparkListenerTaskEnd"'):
            ev = json.loads(line)
            sid = stage_span.get(ev["Stage ID"])
            m = ev.get("Task Metrics")
            if sid is None or not m:
                continue
            row = out[sid]
            row["cpu_s"] += m["Executor CPU Time"] / 1e9
            row["shuffle_bytes"] += m["Shuffle Write Metrics"]["Shuffle Bytes Written"]
            row["spill_bytes"] += m["Disk Bytes Spilled"]
            row["peak_mem_bytes"] = max(row["peak_mem_bytes"], m["Peak Execution Memory"])
            row["bytes_written"] += m["Output Metrics"]["Bytes Written"]
            row["rows_out"] += m["Output Metrics"]["Records Written"]
            row["input_bytes"] += m["Input Metrics"]["Bytes Read"]
            for acc in ev["Task Info"].get("Accumulables", []):
                if acc.get("Name") == "time to run Python workers":
                    row["python_s"] += int(acc["Update"]) / 1e3
    return dict(out)


def read_event_log(log_dir: str) -> dict[int, dict]:
    """Fold every file of the rolling event log under ``log_dir``, in order,
    as one stream: a job's start and its tasks may sit in different files."""
    files = sorted(Path(log_dir).glob("eventlog_v2_*/events_*"),
                   key=lambda p: int(p.name.split("_")[1]))
    if not files:
        raise FileNotFoundError(f"no Spark event log under {log_dir}")

    def lines():
        for f in files:
            with f.open() as fh:
                yield from fh

    return fold_event_log(lines())


def layer_rows(spans: list[dict], per_span: dict[int, dict], n_ops: int) -> dict[str, float]:
    """Per-layer metrics per traced operation, named ``<layer>.<metric>``.

    ``wall_s`` is self time (span minus its child spans), so the layers'
    walls plus ``unattributed.wall_s`` add up to the traced wall. Every
    other metric comes from the tasks of jobs started while the span was
    the innermost one. ``bytes_written`` counts only StageCatalog and
    UpsertTable writes, not the tracer's own materializations.
    """
    child_wall: dict[int, float] = defaultdict(float)
    for s in spans:
        if s["parent"] is not None:
            child_wall[s["parent"]] += s["end"] - s["start"]
    acc = {layer: defaultdict(float) for layer in LAYERS + (ROOT,)}
    for s in spans:
        a = acc[s["layer"]]
        a["wall_s"] += s["end"] - s["start"] - child_wall[s["id"]]
        t = per_span.get(s["id"])
        if t is None:
            continue
        for k in ("jobs", "cpu_s", "shuffle_bytes", "spill_bytes", "python_s", "rows_out"):
            a[k] += t[k]
        a["peak_mem_bytes"] = max(a["peak_mem_bytes"], t["peak_mem_bytes"])
        if s["stage_write"] or s["layer"] == "upsert":
            a["bytes_written"] += t["bytes_written"]

    out: dict[str, float] = {}
    for layer in LAYERS:
        a = acc[layer]
        keys = ["wall_s", "cpu_s", "jobs", "shuffle_bytes", "spill_bytes",
                "peak_mem_bytes", "rows_out"]
        if layer in PYTHON_LAYERS:
            keys.append("python_s")
        if layer in WRITE_LAYERS:
            keys.append("bytes_written")
        for k in keys:
            out[f"{layer}.{k}"] = a[k] if k == "peak_mem_bytes" else a[k] / n_ops
    out[f"{ROOT}.wall_s"] = acc[ROOT]["wall_s"] / n_ops
    out[f"{ROOT}.jobs"] = acc[ROOT]["jobs"] / n_ops

    rows = defaultdict(int)
    for s in spans:
        rows[s["fn"]] += s["rows"]
    out["lsh.candidates"] = rows["candidate_pairs"] / n_ops
    out["lsh.hot_buckets"] = rows["hot_buckets"] / n_ops
    out["verify.yield"] = (rows["verify_candidates"] / rows["candidate_pairs"]
                           if rows["candidate_pairs"] else 0.0)
    arrival_bytes = 0
    for s in spans:
        if s["layer"] == "arrival":
            arrival_bytes += sum(per_span.get(d, {}).get("input_bytes", 0)
                                 for d in _subtree(spans, s["id"]))
    out["arrival.input_bytes"] = arrival_bytes / n_ops
    return out


def unit(name: str) -> str:
    """Unit of a ``<layer>.<metric>`` name."""
    metric = name.rsplit(".", 1)[1]
    if metric.endswith("_s"):
        return "s"
    if metric.endswith("bytes") or metric == "bytes_written":
        return "bytes"
    return "ratio" if metric == "yield" else "count"


def _subtree(spans: list[dict], root: int) -> list[int]:
    ids = {root}
    for s in spans:  # parents precede children, so one pass suffices
        if s["parent"] in ids:
            ids.add(s["id"])
    return sorted(ids)
