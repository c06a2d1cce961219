"""Benchmark entry point: one workload per invocation.

    python3 perfbench/run.py --workload batch_all_engines --seed 1 --seconds 10 --trace 0

Run from the repository root. Builds nothing; starts one Spark driver
(``local[<nproc>]``, heap at most half of RAM), generates the workload's
inputs from ``--seed``, discards one warm-up operation, then measures
operations for ``--seconds`` and checks every output. Human-readable lines
go first; the last line of stdout is one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` instead runs
pairs of one untraced and one traced operation on identical inputs, with
Spark's event log on, and reports per-layer metrics (see spans.py).

Everything the run writes lands in ``.perfbench_work/`` under the
repository root, which is removed when the run ends.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = "co_deduplicate_spark"
DEADLINE_S = 140  # the run, JVM shutdown included, must end within 180 s
TRACE_PAIRS = 1  # fixed, so traced counts repeat


class DeadlineExceeded(BaseException):
    """Raised by SIGALRM; a BaseException so that the per-operation
    ``except Exception`` does not count it as one failed operation."""


def host_facts() -> dict:
    mem_kb = next(int(line.split()[1]) for line in open("/proc/meminfo")
                  if line.startswith("MemTotal:"))
    cores = len(os.sched_getaffinity(0))
    heap_mb = min(2048, mem_kb // 1024 // 2)
    return {"nproc": cores, "ram_mb": mem_kb // 1024, "master": f"local[{cores}]",
            "heap_mb": heap_mb}


def configure_env(work: Path, heap_mb: int, event_log: Path | None) -> None:
    """Launch settings for the JVM and Python workers; must precede the
    first Spark call. ``build_session`` keeps PYSPARK_SUBMIT_ARGS when set."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    confs = [
        f"spark.sql.warehouse.dir={work / 'warehouse'}",
        f"spark.driver.extraJavaOptions=-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms{heap_mb}m",
    ]
    if event_log:
        event_log.mkdir()
        confs += ["spark.eventLog.enabled=true", "spark.eventLog.compress=false",
                  f"spark.eventLog.dir=file://{event_log}"]
    conf_args = " ".join(f"--conf '{c}'" for c in confs)
    os.environ["PYSPARK_SUBMIT_ARGS"] = f"--driver-memory {heap_mb}m {conf_args} pyspark-shell"
    # spark-submit first runs a short launcher JVM with its own options
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "local")
    os.environ["TMPDIR"] = str(tmp)
    # mapInPandas workers import the package: they need the repo root
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p)


def start_session(cores: int, heap_mb: int):
    from unittest import mock

    from co_deduplicate_spark import session

    real_isdir = os.path.isdir
    # build_session puts Spark local dirs on /dev/shm when it exists;
    # SPARK_LOCAL_DIRS already points inside the checkout, so hide /dev/shm
    # to keep every write there
    with mock.patch.object(session.os.path, "isdir",
                           lambda p: False if p == "/dev/shm" else real_isdir(p)):
        return session.build_session(app_name="perfbench", cores=cores,
                                     driver_memory=f"{heap_mb}m")


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM, and with it the Python workers, to
    exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    try:
        spark.stop()
    finally:
        if gateway is not None:
            gateway.shutdown()
            gateway.proc.stdin.close()  # the JVM exits on EOF
            try:
                gateway.proc.wait(timeout=20)
            except subprocess.TimeoutExpired:
                gateway.proc.kill()
                gateway.proc.wait()
            SparkContext._gateway = None
            SparkContext._jvm = None


def peak_rss_mb(spark) -> float:
    """VmHWM of this Python process plus the driver JVM."""
    def hwm_kb(pid) -> int:
        with open(f"/proc/{pid}/status") as f:
            return next(int(line.split()[1]) for line in f if line.startswith("VmHWM:"))

    jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    return (hwm_kb("self") + hwm_kb(jvm_pid)) / 1024


def storage_mb(spark) -> float:
    """Spark storage memory held by cached and checkpointed blocks."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() for i in infos) / 2**20


def tail(values: list[float]) -> tuple[float, int] | None:
    """Highest percentile with at least ten samples beyond it, or None."""
    n = len(values)
    if n <= 10:
        return None
    k = n - 10  # the k-th smallest has n - k = 10 samples at or beyond it
    return sorted(values)[k - 1], int(100 * k / n)


class Run:
    """One benchmark invocation: its session, samples and failure counts."""

    def __init__(self, spark, args, work: Path, t_start: float):
        self.spark = spark
        self.args = args
        self.work = work
        self.t_start = t_start
        self.attempted = 0
        self.failed = 0
        self.walls: list[float] = []
        self.n = 0

    def phase(self, name: str) -> float:
        """Print a set-up phase's end; return seconds since the run began."""
        now = time.monotonic() - self.t_start
        print(f"set-up: {name} done at {now:.3f} s", flush=True)
        return now

    def fresh_dir(self, name: str) -> str:
        self.n += 1
        return str(self.work / f"{name}-{self.n}")

    def op(self, label: str, fn, check) -> tuple[float, object]:
        """Time ``fn()``, then gate its result outside the timed region."""
        self.attempted += 1
        before = storage_mb(self.spark)
        t0 = time.monotonic()
        try:
            out = fn()
        except Exception as exc:  # a failed operation is counted, not fatal
            self.failed += 1
            print(f"{label}: FAILED {type(exc).__name__}: {exc}", flush=True)
            return time.monotonic() - t0, None
        wall = time.monotonic() - t0
        problems = check(out)
        self.failed += bool(problems)
        print(f"{label}: {wall:.3f} s  storage {before:.1f} -> "
              f"{storage_mb(self.spark):.1f} MB  "
              f"{'FAILED ' + '; '.join(problems) if problems else 'ok'}", flush=True)
        return wall, out

    def measure(self, one) -> None:
        """Call ``one(i)`` (returning a wall time) while another operation,
        taking as long as the last one, still fits in ``--seconds``; the
        first always runs."""
        t0 = time.monotonic()
        while not self.walls or (time.monotonic() - t0 + self.walls[-1]
                                 <= self.args.seconds):
            self.walls.append(one(len(self.walls)))


def batch_workload(run: Run, wl):
    import spans as T
    import workloads as W

    spark = run.spark
    inputs = str(run.work / "inputs")

    def one(label, tracer=None):
        wd = run.fresh_dir("batch")
        check = lambda out: W.check_batch(wl, out)  # noqa: E731
        if tracer is None:
            wall, out = run.op(label, lambda: W.run_batch(spark, wl, inputs, wd), check)
        else:
            def traced():
                with tracer.span("unattributed", fn="run_pipeline"):
                    return W.run_batch(spark, wl, inputs, wd)
            wall, out = run.op(label, traced, check)
        digest = W.clusters_digest(out) if out is not None and run.args.trace else None
        shutil.rmtree(wd, ignore_errors=True)
        return wall, digest

    one("warm-up")
    setup_s = run.phase("warm-up")
    if not run.args.trace:
        run.measure(lambda i: one(f"sample {i + 1}")[0])
        return setup_s, wl.total_docs, None

    tracer = T.Tracer(spark, str(run.work / "materialized"))
    pairs = []
    for i in range(TRACE_PAIRS):
        plain = one(f"untraced {i + 1}")
        _install_batch_wrappers(tracer)
        try:
            traced = one(f"traced {i + 1}", tracer)
        finally:
            tracer.restore()
        if plain[1] != traced[1]:
            run.failed += 1
            print(f"traced clusters differ from run_pipeline's: {traced[1]} != {plain[1]}")
        pairs.append((plain[0], traced[0]))
    return setup_s, wl.total_docs, (tracer, pairs)


def _install_batch_wrappers(tracer) -> None:
    from co_deduplicate_spark.operators import lsh, simhash, substring
    from co_deduplicate_spark.plans import business_view, pipeline, rules
    from co_deduplicate_spark.sources import catalog, upsert

    tracer.wrap_stage_writes(catalog.StageCatalog)
    for owner, name, layer in (
        (pipeline, "with_minhash", "signatures"),
        (pipeline, "band_table", "lsh"),
        (lsh, "hot_buckets", "lsh"),
        (pipeline, "candidate_pairs", "lsh"),
        (pipeline, "verify_candidates", "verify"),
        (simhash, "with_simhash", "simhash"),
        (simhash, "hamming_pairs", "simhash"),
        (substring, "containment_pairs", "substring"),
        (substring, "suffix_window_pairs", "window"),
        (rules, "rule_pairs", "rules"),
        (pipeline, "connected_components", "cc"),
        (pipeline, "attach_singletons", "cc"),
        (pipeline, "salted_count", "clusters"),
        (pipeline, "salted_collect_sets", "clusters"),
        (business_view, "business_view", "business_view"),
    ):
        tracer.wrap(owner, name, layer)
    # upsert writes are the layer's output: never materialized again
    for name in ("upsert", "vacuum"):
        tracer.wrap(upsert.UpsertTable, name, "upsert", materialize=False)


def arrivals_workload(run: Run, wl):
    import spans as T
    import workloads as W

    spark = run.spark
    inputs = str(run.work / "inputs")
    state = str(run.work / "state")
    W.bootstrap_state(spark, inputs, state)
    run.phase("bootstrap")
    schedule = W.arrival_schedule(run.args.seed, wl.state_docs, 100)

    def one(label, arrival, tracer=None):
        wd = run.fresh_dir("arrival")
        W.copy_state(state, wd)
        if tracer is None:
            fn = lambda: W.run_arrival(spark, arrival, wd)  # noqa: E731
        else:
            def fn():
                with tracer.span("unattributed", fn="arrival"), tracer.span("arrival"):
                    return W.run_arrival(spark, arrival, wd)
        wall, reply = run.op(f"{label} ({arrival.kind})", fn,
                             lambda r: W.check_reply(arrival, r))
        shutil.rmtree(wd, ignore_errors=True)
        return wall, reply

    warm_up, schedule = schedule[0], schedule[1:]
    one("warm-up", warm_up)
    setup_s = run.phase("warm-up")
    if not run.args.trace:
        run.measure(lambda i: one(f"arrival {i + 1}", schedule[i])[0])
        return setup_s, 1, None

    from co_deduplicate_spark.sources import upsert
    from co_deduplicate_spark.streaming import incremental

    tracer = T.Tracer(spark)
    pairs = []
    for i in range(TRACE_PAIRS):
        plain = one(f"untraced {i + 1}", schedule[i])
        for name, layer in (("incremental_update", "incremental"),
                            ("with_minhash", "signatures"), ("band_table", "lsh"),
                            ("verify_candidates", "verify"),
                            ("connected_components", "cc"), ("attach_singletons", "cc")):
            tracer.wrap(incremental, name, layer)
        for name in ("upsert", "vacuum"):
            tracer.wrap(upsert.UpsertTable, name, "upsert")
        try:
            traced = one(f"traced {i + 1}", schedule[i], tracer)
        finally:
            tracer.restore()
        if plain[1] != traced[1]:
            run.failed += 1
            print(f"traced reply differs from untraced: {traced[1]} != {plain[1]}")
        pairs.append((plain[0], traced[0]))
    return setup_s, 1, (tracer, pairs)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    t_start = time.monotonic()

    if not (ROOT / PACKAGE / "__init__.py").is_file():
        print(f"perfbench: no {PACKAGE} package under {ROOT}", file=sys.stderr)
        return 2
    sys.path[:0] = [str(ROOT), str(Path(__file__).resolve().parent)]
    import spans as T
    import workloads as W

    if args.workload not in W.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(W.WORKLOADS)}", file=sys.stderr)
        return 2
    wl = W.WORKLOADS[args.workload]

    def on_alarm(signum, frame):
        raise DeadlineExceeded(f"run exceeded {DEADLINE_S} s")

    signal.signal(signal.SIGALRM, on_alarm)
    signal.alarm(DEADLINE_S)

    work = ROOT / ".perfbench_work"
    shutil.rmtree(work, ignore_errors=True)
    host = host_facts()
    event_log = work / "eventlog" if args.trace else None
    try:
        print(f"perfbench {args.workload} seed={args.seed} {wl} host={host}", flush=True)
        configure_env(work, host["heap_mb"], event_log)
        W.write_pages(wl, args.seed, str(work / "inputs"), n_files=host["nproc"])
        spark = start_session(host["nproc"], host["heap_mb"])
        run = Run(spark, args, work, t_start)
        run.phase("inputs and session")
        body = batch_workload if isinstance(wl, W.Batch) else arrivals_workload
        try:
            setup_s, docs_per_op, traced = body(run, wl)
            rss = peak_rss_mb(spark)
        finally:
            stop_session(spark)

        if args.trace:
            tracer, pairs = traced
            per_span = T.read_event_log(str(event_log))
            metrics = T.layer_rows(tracer.spans, per_span, n_ops=len(pairs))
            overhead = statistics.median(t - p for p, t in pairs)
            metrics["tracing.overhead_s"] = overhead
            units = {}
            layer_wall = sum(v for k, v in metrics.items() if k.endswith(".wall_s"))
            print(f"layer wall_s sum (unattributed included): {layer_wall:.3f} s; "
                  f"traced wall: {statistics.median(t for _, t in pairs):.3f} s")
            print(f"tracing overhead: {overhead:.3f} s per operation "
                  f"(traced minus untraced wall, n={len(pairs)} pairs)")
        else:
            p50 = statistics.median(run.walls)
            metrics = {"setup_s": setup_s, "docs_per_s": docs_per_op / p50,
                       "peak_rss_mb": rss}
            units = {"setup_s": "s", "docs_per_s": "docs/s", "peak_rss_mb": "MB"}
            n = len(run.walls)
            t = tail(run.walls)
            print(f"setup_s      {setup_s:10.3f} s       (n=1 set-up: JVM, inputs, "
                  f"{'state bootstrap, ' if isinstance(wl, W.Arrivals) else ''}warm-up)")
            print(f"docs_per_s   {docs_per_op / p50:10.3f} docs/s  "
                  f"({docs_per_op} docs / median wall of n={n} operations)")
            print(f"op_p50_s     {p50:10.3f} s       (n={n})")
            print("op_tail_s    " + (f"{t[0]:10.3f} s       (p{t[1]}, n={n})" if t else
                                     f"       n/a         (n={n}; needs more than 10)"))
            print(f"peak_rss_mb  {rss:10.1f} MB      (driver Python + JVM VmHWM)")
        print(f"fail_ratio   {run.failed / run.attempted:10.3f}         "
              f"({run.failed} failed / {run.attempted} attempted)")
    finally:
        signal.alarm(0)
        shutil.rmtree(work, ignore_errors=True)

    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": v, "unit": units.get(k) or T.unit(k)}
                    for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
