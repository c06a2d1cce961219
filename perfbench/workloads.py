"""Workload inputs, operations and correctness gates.

Two operation shapes:

* batch: one ``run_pipeline`` call over the workload's page parquet, from
  reading the input to a complete ``clusters`` table (and ``enriched`` when
  the workload asks for it), each in a fresh workdir;
* arrival: one ``do_the_job`` call, each on a fresh copy of the state that
  ``run_incremental_session`` bootstrapped during set-up.

Every input is a pure function of the seed; the planted duplicate
structure (and so every gate) is the same for every seed.
"""

from __future__ import annotations

import hashlib
import json
import random
import shutil
from dataclasses import dataclass
from pathlib import Path

import pyarrow as pa

from co_deduplicate_spark.config import DedupConfig
from co_deduplicate_spark.sources.pages import (
    BLOCK,
    _gen_partition,
    _page_text,
    _url,
    golden_pairs,
    golden_substring_pairs,
    render_html,
)

CFG = DedupConfig()
MEGA_PREFIX = "https://mega.example.org/p/"
# one boilerplate text shared by every mega page (as in tests/test_mega_cluster.py)
MEGA_TEXT = " ".join(f"boilerplate{w % 37} shared content" for w in range(40))
PAGES_ARROW = pa.schema([
    ("url", pa.string()), ("warc_ts", pa.timestamp("us", tz="UTC")),
    ("html", pa.binary()), ("text", pa.string()), ("lang", pa.string()),
])
ALL_ENGINES = ("minhash", "simhash", "substring", "rules", "window")
SIMILARITY_RULES = ("minhash", "simhash", "substring")


@dataclass(frozen=True)
class Batch:
    docs: int
    mega: int
    engines: tuple[str, ...]
    enriched: bool

    @property
    def total_docs(self) -> int:
        return self.docs + self.mega


@dataclass(frozen=True)
class Arrivals:
    state_docs: int


WORKLOADS = {
    # run by hand only: with it, BENCHMARK.json's runs overrun their time
    # budget (README.md, Sizing). The mega-cluster must exceed
    # DedupConfig.band_bucket_cap (2000) so LSH star reduction engages.
    "batch_minhash": Batch(docs=3000, mega=2100, engines=("minhash",), enriched=False),
    "batch_all_engines": Batch(docs=1000, mega=0, engines=ALL_ENGINES, enriched=True),
    "arrivals": Arrivals(state_docs=2000),
}

# arrival kinds by schedule position: the discarded warm-up takes the heavy
# near-copy path, then the measured arrivals cycle through KINDS, so every
# run measures the same kinds in the same order; the seed picks content
WARM_UP_KIND = "near_copy"
KINDS = ("copy", "near_copy", "fresh", "recrawl", "empty")
MAX_EDITS = 3  # ≤3 of ~150 tokens keeps exact Jaccard ≥ 0.88 > 0.8


# --- inputs -----------------------------------------------------------------

def write_pages(wl: Batch | Arrivals, seed: int, path: str, n_files: int) -> None:
    """The workload's pages as ``n_files`` parquet files (one Spark input
    partition each), built row by row with the package's own generator."""
    import pandas as pd
    import pyarrow.parquet as pq

    n = wl.docs if isinstance(wl, Batch) else wl.state_docs
    pdf = pd.concat(list(_gen_partition([pd.DataFrame({"seed": seed, "id": range(n)})])))
    if isinstance(wl, Batch) and wl.mega:
        mega_html = render_html(MEGA_TEXT, "mega")
        pdf = pd.concat([pdf, pd.DataFrame({
            "url": [f"{MEGA_PREFIX}{i}" for i in range(wl.mega)],
            "warc_ts": pd.Timestamp("2024-01-01"), "html": mega_html,
            "text": MEGA_TEXT, "lang": "en",
        })])
    pdf["warc_ts"] = pdf["warc_ts"].dt.tz_localize("UTC")
    table = pa.Table.from_pandas(pdf, schema=PAGES_ARROW, preserve_index=False)
    Path(path).mkdir(parents=True)
    step = -(-table.num_rows // n_files)
    for i in range(n_files):
        pq.write_table(table.slice(i * step, step), f"{path}/part-{i:05d}.parquet")


@dataclass(frozen=True)
class Arrival:
    kind: str
    url: str
    text: str
    source: str | None  # the stored url a copy or re-crawl derives from


def _edited(text: str, rng: random.Random) -> str:
    toks = text.split()
    for k in range(rng.randint(1, MAX_EDITS)):
        toks[rng.randrange(len(toks))] = f"edit{rng.randrange(10**6)}x{k}"
    return " ".join(toks)


def arrival_schedule(seed: int, state_docs: int, n: int) -> list[Arrival]:
    """The warm-up arrival, then ``n`` arrivals cycling through KINDS.
    Copies and re-crawls derive from stored singleton pages (block slots
    18-99, 150 tokens each)."""
    rng = random.Random(f"perfbench-arrivals:{seed}")
    singletons = [i for i in range(state_docs) if i % BLOCK >= 18]
    kinds = [WARM_UP_KIND] + [KINDS[j % len(KINDS)] for j in range(n)]
    out = []
    for j, kind in enumerate(kinds):
        new_url = f"https://arrivals.example.org/{seed}/{j}"
        src_i = rng.choice(singletons)
        src_url = _url(*divmod(src_i, BLOCK))
        src_text = _page_text(seed, src_i)[0]
        if kind == "copy":
            out.append(Arrival(kind, new_url, src_text, src_url))
        elif kind == "near_copy":
            out.append(Arrival(kind, new_url, _edited(src_text, rng), src_url))
        elif kind == "recrawl":
            out.append(Arrival(kind, src_url, _edited(src_text, rng), src_url))
        elif kind == "fresh":
            text = " ".join(f"fresh{rng.randrange(10**6)}" for _ in range(150))
            out.append(Arrival(kind, new_url, text, None))
        else:
            out.append(Arrival(kind, new_url, "", None))
    return out


# --- operations -------------------------------------------------------------

def run_batch(spark, wl: Batch, input_path: str, workdir: str) -> dict:
    from co_deduplicate_spark.plans.pipeline import run_pipeline

    return run_pipeline(spark, spark.read.parquet(input_path), workdir, CFG,
                        engines=wl.engines, enriched=wl.enriched)


def bootstrap_state(spark, input_path: str, state_dir: str) -> None:
    from co_deduplicate_spark.streaming.incremental import run_incremental_session

    pages = spark.read.parquet(input_path).select("url", "text")
    run_incremental_session(spark, state_dir, pages, CFG, "bootstrap")


def run_arrival(spark, arrival: Arrival, state_dir: str) -> dict:
    """One arrival against ``state_dir``, a fresh copy of the bootstrapped
    state made by `copy_state`."""
    from co_deduplicate_spark.streaming.incremental import do_the_job

    return do_the_job(spark, state_dir, arrival.url, arrival.text, CFG)


def copy_state(state_dir: str, sample_dir: str) -> None:
    shutil.rmtree(sample_dir, ignore_errors=True)
    shutil.copytree(state_dir, sample_dir)


# --- gates ------------------------------------------------------------------

def _pairs(members: list[str]) -> set[tuple[str, str]]:
    m = sorted(members)
    return {(m[i], m[j]) for i in range(len(m)) for j in range(i + 1, len(m))}


def check_batch(wl: Batch, out: dict) -> list[str]:
    """Problems with one batch result; empty when every gate holds."""
    from pyspark.sql import functions as F

    problems = []
    dup = out["clusters"].filter("is_duplicate").select("members", "size").collect()
    mega = [r for r in dup if any(u.startswith(MEGA_PREFIX) for u in r["members"])]
    pred: set[tuple[str, str]] = set()
    for r in dup:
        if r not in mega:
            pred |= _pairs(r["members"])
    if wl.mega and not (len(mega) == 1 and mega[0]["size"] == wl.mega
                        and all(u.startswith(MEGA_PREFIX) for u in mega[0]["members"])):
        problems.append(f"mega-cluster not one {wl.mega}-member component: "
                        f"{[r['size'] for r in mega]}")
    gold = golden_pairs(wl.docs)
    if wl.engines == ("minhash",):
        if gold - pred:
            problems.append(f"recall < 1: missed {sorted(gold - pred)[:3]}")
        if pred - gold:
            problems.append(f"pairs outside golden set: {sorted(pred - gold)[:3]}")
        return problems
    expected = gold | golden_substring_pairs(wl.docs)
    if expected - pred:
        problems.append(f"golden pairs not clustered: {sorted(expected - pred)[:3]}")
    # the rules engine (lang + 12-token prefix) and the window engine (a
    # shared 30-token passage) link the hard negatives by design; the
    # similarity engines must not
    negatives = {tuple(sorted((_url(b, 14), _url(b, 15))))
                 for b in range(wl.docs // BLOCK)}
    linked = [
        (r["src"], r["dst"], rule)
        for r in out["candidate_edges"].filter(
            F.col("src").rlike("/1[45]$") & F.col("dst").rlike("/1[45]$")
        ).collect()
        for rule in r["rules"]
        if (r["src"], r["dst"]) in negatives and rule.startswith(SIMILARITY_RULES)
    ]
    if linked:
        problems.append(f"hard negatives linked by a similarity engine: {linked[:3]}")
    if wl.enriched:
        rows = out["enriched"].count()
        if rows != wl.total_docs:
            problems.append(f"enriched rows {rows} != input docs {wl.total_docs}")
    return problems


def clusters_digest(out: dict) -> str:
    """Order-insensitive digest of the whole clusters table."""
    rows = sorted(
        json.dumps([r["cluster_id"], r["chain"], sorted(r["members"]),
                    sorted(r["sources"]), r["size"], r["truncated"],
                    r["is_duplicate"]])
        for r in out["clusters"].collect()
    )
    return hashlib.sha256("\n".join(rows).encode()).hexdigest()


def check_reply(arrival: Arrival, reply: dict) -> list[str]:
    members = reply["cluster_members"]
    dups = [d["url"] for d in reply["duplicates"]]
    if arrival.kind in ("copy", "near_copy"):
        if members != sorted([arrival.source, arrival.url]) or arrival.source not in dups:
            return [f"{arrival.kind} did not join {arrival.source}: {members}"]
    elif arrival.kind == "fresh":
        if dups or members != [arrival.url]:
            return [f"fresh record clustered: dups={dups} members={members}"]
    elif arrival.kind == "recrawl":
        if arrival.url not in members:
            return [f"re-crawl lost its url from its cluster: {members}"]
    elif reply["is_deduplicable"]:
        return ["empty text reported deduplicable"]
    return []
