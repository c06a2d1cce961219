"""End-to-end batch dedup pipeline (the flagship job).

Stage dataflow (SURVEY.md §3.4), each stage a checkpointed table so a
killed job resumes idempotently — the deterministic-batch replacement for
the reference's per-record update + version-conflict retry loop
(/root/reference/src/documentsManager.js:220-356):

  pages ─ extract ─→ corpus(url, text, lang, source, session)
        ─ signatures ─→ (url, minhash[128], n_shingles)
        ─ banding + self-join ─→ candidate_edges(src, dst, rules)
        ─ exact-Jaccard verify ─→ verified edges (+ per-pair provenance,
                                   the reference's matched_queries P11)
        ─ connected components ─→ cluster_labels(url, component)
        ─ cluster aggregates ─→ clusters(cluster_id, chain, members,
                                   sources, size, is_duplicate)

Cluster fields mirror the reference's rewrite outputs: chain ≡
``business.sourceUidChain`` (documentsManager.js:287-289), sources ≡
sorted distinct member sources (documentsManager.js:288), is_duplicate ≡
``business.isDuplicate`` (painless/updateDuplicatesGraph.painless:216-218).

Scale strategy (100 TB / 10^12 docs):
  * signatures: narrow projection (url, text) into the Arrow UDF; the
    table written back is url + 128 longs — ~1 KB/doc, no document bodies
    move after this stage.
  * band join: shuffle keys are (band_id, band_hash) 16-byte pairs; AQE
    skew-join plus optional star reduction for mega-buckets (lsh.py).
  * verification joins only candidate pairs to shingle postings — never a
    cross product.
  * CC: O(log n) star rounds, each a localCheckpoint to cut lineage.
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config import DedupConfig
from ..functions.extract import extracted_text
from ..operators.connected_components import attach_singletons, connected_components
from ..operators.exact import chain_expr
from ..operators.jaccard import verify_candidates
from ..operators.lsh import band_table, candidate_pairs
from ..operators.minhash import with_minhash
from ..operators.skew import salted_collect_sets, salted_count
from ..sources.catalog import StageCatalog


def _source_expr(url):
    return F.regexp_extract(url, r"^https?://([^/]+)/", 1)


def _session_expr(ts):
    return F.date_format(ts, "yyyy-MM")


def run_pipeline(
    spark: SparkSession,
    pages: DataFrame,
    workdir: str,
    cfg: DedupConfig | None = None,
    resume: bool = True,
    star_reduce: bool | str = "auto",
    engines: tuple[str, ...] = ("minhash",),
    enriched: bool = False,
    rule_spec=None,
    embeddings: DataFrame | None = None,
) -> dict[str, DataFrame]:
    """Run (or resume) the dedup pipeline with the selected engines.

    ``engines`` ⊆ {"minhash", "simhash", "substring", "rules", "window",
    "ann"} — the three interoperable similarity engines (BASELINE.json
    north_star) plus the config-driven metadata rule engine (the
    reference's actual core: its rule disjunction IS its candidate stage,
    getBaseRequest.js:1-8), the duplicated-passage window engine
    (suffix_window_pairs with ``cfg.window_max_df`` boilerplate capping),
    and the embedding-cosine ANN engine (ivf_dup_pairs; requires
    ``embeddings`` with columns (url, embedding)). All engines' edges are
    unioned with per-pair rule provenance before clustering, the batch
    analogue of `minimum_should_match:1` with `matched_queries`
    provenance (deduplicateQueryBuilder.js:56-67) — so window and ANN
    evidence flows through the same provenance union → CC → enriched
    write-back as every other engine.

    ``rule_spec``: a :class:`~co_deduplicate_spark.plans.rules.RuleEngineSpec`
    for the "rules" engine; defaults to the web-page scenario
    (plans/scenarios.py::page_rules_spec), which consumes the stage-1
    ``quality_flags`` column as its P14 `_ignored` gate.

    ``star_reduce``: the DEFAULT ("auto", ≡ True) star-reduces LSH buckets
    larger than ``cfg.band_bucket_cap`` — smaller buckets keep exact
    cliques — so the out-of-the-box plan is the one that survives a
    boilerplate mega-bucket at 100× (O(b) star edges instead of O(b²)
    pairs; connectivity preserved, see operators/lsh.py). Pass ``False``
    to opt out into exact pair semantics for every bucket (the exotic
    path: quadratic in the hottest bucket, only safe on curated corpora).
    Bucket-size stats are logged to lineage on every non-resumed run.

    Returns the stage tables: corpus, signatures, candidate_edges,
    cluster_labels, clusters.
    """
    cfg = cfg or DedupConfig()
    engines = tuple(e for e in engines if e)
    if not engines:
        raise ValueError("at least one engine required")
    unknown = set(engines) - {"minhash", "simhash", "substring", "rules",
                              "window", "ann"}
    if unknown:
        raise ValueError(f"unknown engines: {unknown}")
    if "rules" in engines and rule_spec is None:
        from .scenarios import page_rules_spec

        rule_spec = page_rules_spec()
    if "ann" in engines and embeddings is None:
        raise ValueError('engine "ann" requires an embeddings DataFrame '
                         "with columns (url, embedding)")
    star_threshold = None if star_reduce is False else cfg.band_bucket_cap
    # engine selection + bucket-reduction mode + rule config participate in
    # the stage-invalidation hash: a resume must never reuse candidate_edges
    # computed under a different engine set, star/exact mode, or rule set
    config_hash = (
        f"{cfg.config_hash()}-{'+'.join(sorted(engines))}"
        f"-star{int(star_threshold is not None)}"
    )
    if "rules" in engines:
        config_hash += f"-rules{rule_spec.config_key()}"
    cat = StageCatalog(spark, workdir, config_hash)
    out: dict[str, DataFrame] = {}

    # Stage 1: extraction + per-page metadata + quality flags --------------
    # quality_flags lists FIELD NAMES whose values are present but unusable
    # — the batch analogue of ES populating `_ignored` on malformed fields
    # at index time (documentsManager.js:206-218). The rules engine treats
    # flagged fields as absent (P14); flag counts ride into lineage.
    _t0 = time.monotonic()
    if resume and cat.is_complete("corpus"):
        corpus = cat.read("corpus")
    else:
        text = extracted_text(F.col("html"))
        lang = F.col("lang")
        quality_flags = F.filter(
            F.array(
                # oversize document: value exists but would be rejected by
                # the index (ignore_above analogue)
                F.when(F.length(text) > cfg.max_doc_chars, F.lit("text")),
                # malformed language tag: present but not BCP-47-shaped
                F.when(
                    lang.isNotNull()
                    & (F.length(F.trim(lang)) > 0)
                    & ~F.trim(lang).rlike(r"^[a-zA-Z]{2,3}([-_][a-zA-Z0-9]{2,8})?$"),
                    F.lit("lang"),
                ),
            ),
            lambda x: x.isNotNull(),
        )
        corpus = pages.select(
            F.col("url"),
            text.alias("text"),
            lang,
            _source_expr(F.col("url")).alias("source"),
            _session_expr(F.col("warc_ts")).alias("session"),
            quality_flags.alias("quality_flags"),
        )
        corpus = cat.write("corpus", corpus)
        flagged = corpus.select(
            F.sum((F.size("quality_flags") > 0).cast("long")).alias("n")
        ).collect()[0]["n"]
        cat.log_lineage("corpus", {"rows_out": cat.manifest("corpus")["rows"],
                                   "flagged_records": int(flagged or 0),
                                   "wall_s": round(time.monotonic() - _t0, 2),
                                   **cat.partition_summary("corpus")})
    out["corpus"] = corpus

    # Stage 2: MinHash signatures -----------------------------------------
    _t0 = time.monotonic()
    if resume and cat.is_complete("signatures"):
        sigs = cat.read("signatures")
    else:
        # the corpus stage's manifest counts its files (one per write
        # partition): an input read in at least default-parallelism splits
        # feeds the kernel as it lies, anything less is repartitioned
        n_files = cat.manifest("corpus").get("partition_profile", {}).get("n_partitions", 0)
        parallel = n_files >= spark.sparkContext.defaultParallelism
        sigs = with_minhash(corpus, cfg, id_col="url", text_col="text",
                            repartition=None if parallel else 0)
        sigs = cat.write("signatures", sigs)
        # one aggregate pass for all counters (separate count() jobs add
        # serial driver round-trips that dominate small-corpus runs)
        counters = sigs.select(
            F.count(F.lit(1)).alias("rows"),
            F.sum(F.col("minhash").isNull().cast("long")).alias("nulls"),
        ).collect()[0]
        # counters into the MANIFEST too (stage 3's band-row lineage derives
        # from them without re-scanning)
        cat.mark_complete("signatures", rows=int(counters["rows"]),
                          counters={"non_deduplicable": int(counters["nulls"])})
        cat.log_lineage("signatures", {"rows_out": counters["rows"],
                                       "non_deduplicable": int(counters["nulls"]),
                                       "wall_s": round(time.monotonic() - _t0, 2),
                                       **cat.partition_summary("signatures")})
    out["signatures"] = sigs

    # Stage 3: per-engine candidates + verify + provenance union ----------
    _t0 = time.monotonic()
    if resume and cat.is_complete("candidate_edges"):
        edges = cat.read("candidate_edges")
    else:
        per_engine = []
        engine_counters: dict = {}
        if "minhash" in engines:
            from ..operators.lsh import hot_buckets

            bands = band_table(sigs, cfg)
            if star_threshold is not None:
                # no-silent-caps: hot-bucket profile rides into lineage on
                # every run. ONE map-side-combined aggregation over the band
                # table (shared with candidate_pairs via the checkpointed
                # hot table); everything else derives from the tiny hot set
                # plus free manifest counters — the earlier full-histogram
                # pass cost a second 32×n-row aggregation per run.
                hot = hot_buckets(bands, star_threshold)
                hstats = hot.select(
                    F.count(F.lit(1)).alias("n"),
                    F.max("bucket_n").alias("max_n"),
                    F.sum(F.expr("bucket_n * (bucket_n - 1) div 2")).alias("pairs"),
                ).collect()[0]
                engine_counters.update(
                    {
                        "lsh_hot_buckets": int(hstats["n"]),
                        "lsh_max_hot_bucket": int(hstats["max_n"] or 0),
                        "lsh_hot_clique_pairs_avoided": int(hstats["pairs"] or 0),
                        "lsh_star_threshold": star_threshold,
                        "lsh_band_rows": (
                            cat.manifest("signatures")["rows"]
                            - int(cat.manifest("signatures")["counters"].get("non_deduplicable", 0))
                        ) * cfg.lsh_bands,
                    }
                )
                cands = candidate_pairs(bands, cfg, star_reduce_threshold=star_threshold,
                                        hot=hot)
                if engine_counters["lsh_hot_buckets"] > 0:
                    # star reduction actually engaged: it trades pair recall
                    # in mega-buckets for O(b) edges (lsh.py docstring) —
                    # make the trade observable: pre-verification candidate
                    # count rides into lineage. (Clean corpora skip this
                    # count job; the hot profile proves nothing was reduced.)
                    cands = cands.localCheckpoint()
                    engine_counters["minhash_candidates_pre_verify"] = cands.count()
            else:
                # exact opt-out: the caller chose the quadratic path — spend
                # a full bucket histogram pass to WARN about what that costs
                bstats = (
                    bands.groupBy("band_id", "band_hash")
                    .agg(F.count(F.lit(1)).alias("n"))
                    .select(
                        F.count(F.lit(1)).alias("n_buckets"),
                        F.max("n").alias("max_bucket"),
                        F.sum((F.col("n") > cfg.band_bucket_cap).cast("long")).alias("hot"),
                        F.sum(F.expr("n * (n - 1) div 2")).alias("clique_pairs"),
                    )
                    .collect()[0]
                )
                engine_counters.update(
                    {
                        "lsh_n_buckets": int(bstats["n_buckets"]),
                        "lsh_max_bucket": int(bstats["max_bucket"] or 0),
                        "lsh_hot_buckets": int(bstats["hot"] or 0),
                        "lsh_clique_pairs_exact_mode": int(bstats["clique_pairs"] or 0),
                        "lsh_star_threshold": None,
                    }
                )
                cands = candidate_pairs(bands, cfg, star_reduce_threshold=None)
            verified = verify_candidates(
                cands, corpus, id_col="url", text_col="text",
                threshold=cfg.jaccard_threshold, shingle_k=cfg.shingle_k,
                candidates_distinct=True,  # candidate_pairs ends in distinct()
            )
            per_engine.append(
                verified.select(
                    "src", "dst",
                    F.col("jaccard").alias("score"),
                    F.lit(
                        f"minhash-lsh:k{cfg.shingle_k}p{cfg.num_perms}b{cfg.lsh_bands}"
                    ).alias("rule"),
                )
            )
        if "simhash" in engines:
            from ..operators.simhash import hamming_pairs, with_simhash

            sim = with_simhash(corpus, cfg, id_col="url", text_col="text")
            hp = hamming_pairs(sim, cfg)
            per_engine.append(
                hp.select(
                    "src", "dst",
                    (1 - F.col("hamming") / F.lit(cfg.simhash_bits)).alias("score"),
                    F.lit(f"simhash:hd{cfg.hamming_max}b{cfg.simhash_bits}").alias("rule"),
                )
            )
        if "substring" in engines:
            from ..operators.substring import containment_pairs

            cp = containment_pairs(
                corpus, id_col="url", text_col="text",
                min_tokens=cfg.substring_min_tokens, shingle_k=cfg.shingle_k,
            )
            per_engine.append(
                cp.select(
                    F.least("inner", "outer").alias("src"),
                    F.greatest("inner", "outer").alias("dst"),
                    F.lit(1.0).alias("score"),
                    F.lit(f"substring-containment:min{cfg.substring_min_tokens}").alias("rule"),
                )
            )
        if "window" in engines:
            from ..operators.substring import suffix_window_pairs

            # duplicated-passage evidence: shared exact w-token window.
            # cfg.window_max_df caps boilerplate inside the pipeline (the
            # operator logs the dropped-key count; it also rides lineage
            # here) — the graded standalone query stays uncapped.
            wp = suffix_window_pairs(
                corpus, id_col="url", text_col="text",
                window_tokens=cfg.window_tokens, max_df=cfg.window_max_df,
            )
            engine_counters["window_max_df"] = cfg.window_max_df
            per_engine.append(
                wp.select(
                    "src", "dst", F.lit(1.0).alias("score"),
                    F.lit(f"window:w{cfg.window_tokens}df{cfg.window_max_df}").alias("rule"),
                )
            )
        if "ann" in engines:
            from ..operators.ann import ivf_dup_pairs

            # embedding-cosine evidence on the IVF scale path (equi-join on
            # centroid_id, exact rescore). Ids must be the corpus url.
            ap = ivf_dup_pairs(
                embeddings, threshold_micro=cfg.ann_threshold_micro,
                n_centroids=cfg.ann_centroids, n_probes=cfg.ann_probes,
                id_col="url", vec_col="embedding",
                kmeans_iters=cfg.ann_kmeans_iters,
            )
            per_engine.append(
                ap.select(
                    F.least("src", "dst").alias("src"),
                    F.greatest("src", "dst").alias("dst"),
                    (F.col("cos_micro") / F.lit(1_000_000.0)).alias("score"),
                    F.lit(
                        f"ann-cosine:t{cfg.ann_threshold_micro}"
                        f"c{cfg.ann_centroids}p{cfg.ann_probes}"
                    ).alias("rule"),
                )
            )
        if "rules" in engines:
            from .rules import rule_pairs

            rp = rule_pairs(
                corpus, list(rule_spec.rules), rule_spec.derived(),
                id_col="url", genre_col=rule_spec.genre_col,
                flags_col=rule_spec.flags_col,
            )
            # one provenance row per (pair, rule name) — the reference's
            # matched_queries become first-class edges in the same union
            per_engine.append(
                rp.select(
                    "src", "dst", F.lit(1.0).alias("score"),
                    F.explode("rules").alias("rule"),
                )
            )
        union = per_engine[0]
        for e in per_engine[1:]:
            union = union.unionByName(e)
        # P11/A5: per-pair sorted rule union (documentsManager.js:292-298);
        # score = best evidence across engines. r6 (guide §2.4): when ONE
        # engine ran AND its output is pair-unique by construction
        # (minhash: distinct candidates verified 1:1; window: per-pair
        # groupBy; ann: distinct pairs), the groupBy is the identity — a
        # single-element collect_set IS array(rule) — so the flagship
        # single-engine pipeline skips a full shuffle of the edge set.
        # ("rules" emits one row per (pair, rule) and "substring" can emit
        # a mutual-containment pair twice, so those still aggregate.)
        if len(per_engine) == 1 and engines[0] in ("minhash", "window", "ann"):
            edges = (
                union.select(
                    "src", "dst",
                    F.array(F.col("rule")).alias("rules"),
                    F.col("score"),
                )
                .withColumn("session", F.lit(cfg.session_name))
            )
        else:
            edges = (
                union.groupBy("src", "dst")
                .agg(
                    F.array_sort(F.collect_set("rule")).alias("rules"),
                    F.max("score").alias("score"),
                )
                .withColumn("session", F.lit(cfg.session_name))
            )
        edges = cat.write("candidate_edges", edges)
        cat.log_lineage("candidate_edges", {"rows_out": cat.manifest("candidate_edges")["rows"],
                                            "engines": list(engines), **engine_counters,
                                            "wall_s": round(time.monotonic() - _t0, 2),
                                            **cat.partition_summary("candidate_edges")})
    out["candidate_edges"] = edges

    # Stage 4: connected components ---------------------------------------
    _t0 = time.monotonic()
    if resume and cat.is_complete("cluster_labels"):
        labels = cat.read("cluster_labels")
    else:
        labels = connected_components(edges, cfg=cfg)
        labels = attach_singletons(labels, corpus.select("url"), node_col="url")
        labels = cat.write("cluster_labels", labels)
        cat.log_lineage("cluster_labels", {"rows_out": cat.manifest("cluster_labels")["rows"],
                                           "wall_s": round(time.monotonic() - _t0, 2),
                                           **cat.partition_summary("cluster_labels")})
    out["cluster_labels"] = labels

    # Stage 5: cluster table (A3/A4 aggregates + flags) --------------------
    # Skew-safe: member lists/sources are salted two-stage collects
    # (operators/skew.py), and clusters above chain_max_members never
    # materialize a member array or chain string at all — a boilerplate
    # mega-cluster at 100× otherwise funnels every member into a single
    # reducer and builds an unbounded chain. Capped clusters keep size and
    # a placeholder chain; the cap is logged to lineage, never silent.
    _t0 = time.monotonic()
    if resume and cat.is_complete("clusters"):
        clusters = cat.read("clusters")
    else:
        member_meta = labels.join(
            corpus.select(F.col("url").alias("node"), "source"), "node", "left"
        )
        sizes = salted_count(
            member_meta, ["component"], F.col("node"), cfg.salt_buckets
        ).localCheckpoint()
        small = member_meta.join(
            sizes.filter(F.col("count") <= cfg.chain_max_members).select("component"),
            "component", "left_semi",
        )
        agg = salted_collect_sets(
            small, ["component"], ["node", "source"], F.col("node"), cfg.salt_buckets
        )
        clusters_small = agg.select(
            F.col("component").alias("cluster_id"),
            chain_expr(F.col("set_node")).alias("chain"),
            F.col("set_node").alias("members"),
            F.col("set_source").alias("sources"),
            F.col("count").alias("size"),
            F.lit(False).alias("truncated"),
        )
        clusters_big = sizes.filter(F.col("count") > cfg.chain_max_members).select(
            F.col("component").alias("cluster_id"),
            F.concat(
                F.lit("!truncated:"), F.col("component"), F.lit(":"),
                F.col("count"), F.lit("!")
            ).alias("chain"),
            F.array().cast("array<string>").alias("members"),
            F.array().cast("array<string>").alias("sources"),
            F.col("count").alias("size"),
            F.lit(True).alias("truncated"),
        )
        clusters = clusters_small.unionByName(clusters_big).withColumn(
            "is_duplicate", F.col("size") >= 2
        )
        clusters = cat.write("clusters", clusters)
        counters = clusters.select(
            F.count(F.lit(1)).alias("rows"),
            F.sum(F.col("is_duplicate").cast("long")).alias("dups"),
            F.sum(F.col("truncated").cast("long")).alias("capped"),
            F.max(F.col("size")).alias("max_size"),
        ).collect()[0]
        cat.log_lineage("clusters", {"rows_out": counters["rows"],
                                     "duplicate_clusters": int(counters["dups"]),
                                     "capped_clusters": int(counters["capped"]),
                                     "max_cluster_size": int(counters["max_size"]),
                                     "chain_max_members": cfg.chain_max_members,
                                     "wall_s": round(time.monotonic() - _t0, 2),
                                     **cat.partition_summary("clusters")})
    out["clusters"] = clusters

    # Stage 6 (optional): per-record enriched write-back (S3/S8/G4) --------
    # The reference's true end state: every document rewritten with its
    # duplicates adjacency, chain, sources, rules provenance, and S7 date
    # stamps (painless/updateDuplicatesGraph.painless:160-232 +
    # setCreationAndModificationDate.painless). Persisted through the
    # keyed UpsertTable (MERGE semantics, atomic snapshot flip) so a
    # reader sees exactly what an ES reader of the reference would.
    if enriched:
        from pathlib import Path

        from ..sources.upsert import UpsertTable, ingest_defaults
        from .business_view import business_view

        table = UpsertTable(spark, str(Path(workdir) / "documents_enriched"), key="url")
        _t0 = time.monotonic()
        if resume and cat.is_complete("enriched") and table.exists():
            out["enriched"] = table.read()
        else:
            view = business_view(
                corpus, labels, edges, signatures=sigs,
                n_salts=cfg.salt_buckets,
                max_members_inline=cfg.chain_max_members,
            )
            stamped = ingest_defaults(view, uid_col="url", source_col=None)
            enriched_df = table.upsert(stamped)
            cat.mark_complete("enriched", rows=enriched_df.count(),
                              counters={"upsert_version": table._manifest()["version"]})
            cat.log_lineage("enriched", {"rows_out": cat.manifest("enriched")["rows"],
                                         "wall_s": round(time.monotonic() - _t0, 2)})
            out["enriched"] = enriched_df
    return out


def predicted_pairs(clusters: DataFrame) -> DataFrame:
    """Explode clusters back to intra-cluster pairs (url_a < url_b) for
    recall measurement against golden_pairs (BASELINE.md protocol)."""
    a = clusters.select(F.col("cluster_id"), F.explode("members").alias("url_a"))
    b = clusters.select(F.col("cluster_id"), F.explode("members").alias("url_b"))
    return (
        a.join(b, "cluster_id")
        .filter(F.col("url_a") < F.col("url_b"))
        .select("url_a", "url_b")
    )
