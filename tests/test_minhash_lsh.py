"""MinHash determinism + LSH candidate generation + Jaccard verification."""

from __future__ import annotations

from pyspark.sql import functions as F

from co_deduplicate_spark.config import DedupConfig
from co_deduplicate_spark.operators.jaccard import jaccard_pairs, verify_candidates
from co_deduplicate_spark.operators.lsh import band_table, candidate_pairs
from co_deduplicate_spark.operators.minhash import minhash_py, shingles_py, with_minhash

CFG = DedupConfig()

DOCS = [
    (1, "the quick brown fox jumps over the lazy dog and runs far away home tonight"),
    (2, "the quick brown fox jumps over the lazy dog and runs far away home tonight"),  # exact dup of 1
    (3, "the quick brown fox jumps over the lazy dog and runs far away home today"),  # near dup of 1
    (4, "completely different content about spark dataframes and shuffle partitions here now"),
    (5, ""),  # non-deduplicable (index.js:45-49 path)
    (6, "short doc"),  # < k tokens → single whole-text shingle
]


def test_shingles():
    assert shingles_py("a b c d", 3) == ["a b c", "b c d"]
    assert shingles_py("a b", 3) == ["a b"]
    assert shingles_py("", 3) == []
    assert shingles_py(None, 3) == []
    # distinct, first-seen order
    assert shingles_py("x y x y x y", 2) == ["x y", "y x"]


def test_minhash_py_deterministic_and_sane():
    s1 = minhash_py(DOCS[0][1], CFG)
    s1b = minhash_py(DOCS[0][1], CFG)
    s2 = minhash_py(DOCS[1][1], CFG)
    s3 = minhash_py(DOCS[2][1], CFG)
    s4 = minhash_py(DOCS[3][1], CFG)
    assert s1 == s1b == s2  # determinism + exact dup → identical signature
    assert len(s1) == CFG.num_perms
    assert minhash_py("", CFG) is None
    agree13 = sum(a == b for a, b in zip(s1, s3)) / CFG.num_perms
    agree14 = sum(a == b for a, b in zip(s1, s4)) / CFG.num_perms
    assert agree13 > 0.5  # near dup shares most slots
    assert agree14 < 0.2  # unrelated shares few


def test_spark_minhash_matches_python(spark):
    df = spark.createDataFrame(DOCS, "doc_id long, text string")
    sigs = {r["doc"]: r["minhash"] for r in with_minhash(df, CFG).collect()}
    for doc_id, text in DOCS:
        assert sigs[doc_id] == minhash_py(text, CFG), doc_id


def test_spark_minhash_partitioning_invariant(spark):
    df = spark.createDataFrame(DOCS, "doc_id long, text string")

    def sigs(frame, **kw):
        return {r["doc"]: r["minhash"] for r in with_minhash(frame, CFG, **kw).collect()}

    # repartition=None: the kernel runs on the partitions it is given
    one = sigs(df.coalesce(1), repartition=None)
    assert one == sigs(df.repartition(8), repartition=None)
    assert one == sigs(df, repartition=3) == sigs(df)


def test_with_minhash_plan_runs_no_job(spark, jobs_run_by):
    """Building the signature plan executes nothing, whatever the input
    plan holds: the partitioning decision reads no partition count off an
    adaptive plan with exchanges (a groupBy and a join here)."""
    df = spark.createDataFrame(DOCS, "doc_id long, text string")
    agg = df.groupBy("doc_id").agg(F.max("text").alias("text"))
    joined = agg.join(df.select("doc_id"), "doc_id")
    plans, jobs = jobs_run_by(lambda: [
        with_minhash(src, CFG, repartition=r)
        for src in (agg, joined) for r in (0, 2, None)
    ])
    assert jobs == []
    want = {doc_id: minhash_py(text, CFG) for doc_id, text in DOCS}
    for plan in plans:
        assert {r["doc"]: r["minhash"] for r in plan.collect()} == want


def test_lsh_pipeline_finds_dups(spark):
    df = spark.createDataFrame(DOCS, "doc_id long, text string")
    sigs = with_minhash(df, CFG)
    bands = band_table(sigs, CFG)
    cands = candidate_pairs(bands, CFG)
    pairs = {(r["src"], r["dst"]) for r in cands.collect()}
    assert (1, 2) in pairs
    assert (1, 3) in pairs and (2, 3) in pairs
    assert not any(4 in p or 5 in p for p in pairs)
    verified = verify_candidates(cands, df, threshold=0.8, shingle_k=CFG.shingle_k)
    vpairs = {(r["src"], r["dst"]) for r in verified.collect()}
    assert (1, 2) in vpairs and (1, 3) in vpairs


def test_star_reduction_preserves_connectivity(spark):
    # 30 copies of the same text: clique bucket → star must keep them connected
    rows = [(i, "identical text repeated for the star reduction connectivity test case") for i in range(30)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    sigs = with_minhash(df, CFG)
    bands = band_table(sigs, CFG)
    full = candidate_pairs(bands, CFG)
    star = candidate_pairs(bands, CFG, star_reduce_threshold=5)
    assert star.count() < full.count()
    from co_deduplicate_spark.operators.connected_components import connected_components

    labels = connected_components(star)
    comps = {r["component"] for r in labels.collect()}
    assert len(comps) == 1


def test_exhaustive_jaccard_agrees_with_lsh_verify(spark):
    df = spark.createDataFrame(DOCS, "doc_id long, text string")
    exhaustive = {
        (r["src"], r["dst"]): r["jaccard"]
        for r in jaccard_pairs(df, threshold=0.5, shingle_k=CFG.shingle_k).collect()
    }
    cands = candidate_pairs(band_table(with_minhash(df, CFG), CFG), CFG)
    verified = {
        (r["src"], r["dst"]): r["jaccard"]
        for r in verify_candidates(cands, df, threshold=0.5, shingle_k=CFG.shingle_k).collect()
    }
    assert verified == exhaustive
