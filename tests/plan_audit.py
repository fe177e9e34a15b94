"""The Tier-1 plan audit's query list and dump pass.

``HEADLINE`` holds at least one registry query per operator family.
The ``plans_dir`` fixture of ``tests/test_bench_bands.py`` runs
:func:`dump_profile_plans` over it at sf0.001 and the tests there audit
the dumps (coverage, size cap, the anti-pattern greps on the audit
variants, family coverage); ``tests/test_plan_shapes.py`` checks each
HEADLINE query's plan is not hollow under ``count()`` and not
multiplicatively large.

The audit is mechanical: grep the final physical plans for Exchange,
CartesianProduct or a partition-less Window instead of re-deriving
plans by hand.
"""

from __future__ import annotations

import os
import re

from ucr_bigdata_snowfallproject_spark.queries import REGISTRY
from ucr_bigdata_snowfallproject_spark.session import clear_session_state

#: One per operator family (scan+agg, join chain, top-k, median, window,
#: set-op, scalar/JSON, time buckets, text, dedup exact, minhash LSH,
#: similarity, flagship pipeline shape), plus each family's heaviest or
#: most plan-sensitive shapes.
HEADLINE = [
    "q1_pricing_summary",
    "q3_top_revenue_orders",
    "q5_nation_revenue",
    "group_median_quantity",
    "window_latest_lineitem_per_order",
    "window_running_customer_spend",
    "topk_orders_by_price",
    "json_extract_events",
    "events_hourly_buckets",
    "text_stats_documents",
    "dedup_exact_by_fingerprint",
    "dedup_minhash_candidates",
    "dedup_embedding_cosine_blocked",
    "curation_dsir_scores",
    "geo_nearest_supplier_for_customers",
    "graph_pagerank_parts",
    "graph_copurchase_edges",
    "curation_epoch_upsample",
    "join_size_estimate_events",
    "embedding_drift_by_label",
    "ols_trend_orders_by_priority",
    "text_language_id",
    "similarity_brute_force_topk",
    "similarity_int8_rerank_topk",
    "similarity_ivf_topk",
    "asof_join_purchase_attribution",
    "sessionize_events",
    "range_join_price_bands",
    "window_rank_functions",
    "wordcount_top20",
    "text_tfidf_top_terms",
    # NOT apply_in_pandas_zscore: many-small-groups applyInPandas is the
    # documented slow path; its window-function oracle formulation is the
    # production shape (window_running_customer_spend et al. cover it).
    # The Arrow scalar-UDF path is audited here instead.
    "pandas_udf_vowel_ratio",
    "flagship_monthly_median_join",
    "curation_pipeline_stats",
    # bigram LM (explode-heavy text agg), PQ ANN (code-compressed
    # scoring), deep star-join profit (Q9), grid-binned interval-overlap
    # join, and content-defined chunking (per-doc window + fold)
    "text_bigram_lm",
    "similarity_pq_topk",
    "q9_product_type_profit",
    "overlap_join_click_purchase_windows",
    "dedup_cdc_chunks",
    # robust stats (double grouped-median pass), ordered funnel (chained
    # shrinking grouped passes), deterministic stratified sampling
    # (scan-speed hash filter)
    "mad_outliers_orders_priority",
    "funnel_events_conversion",
    "curation_stratified_sample",
    "text_chunk_documents",
    "rag_prep_pipeline",
    # truncated EWMA (single shared-frame window pass), Bloom-prefiltered
    # semi join (scan-side bitmap cut), int8 embedding quantization
    # (scan-speed array lambdas)
    "ewma_events_value",
    "bloom_semi_join_lineitem",
    "embedding_quantize_int8",
    # line-table double shuffle (freq groupBy + doc re-aggregation)
    "text_remove_boilerplate",
    # in-row run-length entropy (zero-shuffle scan) and fixed-bin
    # histogram (one (keys,bin) groupBy + scaffold join)
    "text_char_entropy",
    "histogram_totalprice_by_priority",
    # the end-to-end corpus build (boilerplate→PII→floor→dedup→split)
    # and the LOCF time-weighted hourly rollup
    "corpus_build_pipeline",
    "twa_events_hourly",
    # text drift (two explodes + full-outer vocabulary join), global
    # interleave ordering (one total sort), and the lag-derivative
    "text_jsd_en_vs_rest",
    "curation_interleave_order",
    "rate_of_change_events",
    # BM25 retrieval: TF-IDF-shaped corpus pass + broadcast posting probe
    "retrieval_bm25_topk",
    # int8-deterministic IVF lifecycle (integer cell assignment →
    # cell-partitioned artifact → partition-pruned probe + exact rerank)
    # and its zero-copy incremental-append maintenance path
    "similarity_ivf_int8_indexed_topk",
    "similarity_ivf_int8_incremental",
    # exported-weights quality logit: pure column fold, scan speed
    "curation_quality_linear",
    # quality-ordered dedup survivor: scoring fold + one key shuffle
    "dedup_quality_survivor",
    # portable-md5 minhash (md5-prefix token hashes + raw-slice band
    # buckets) and integer-deterministic PQ-ADC (int8 codebook encode +
    # integer LUT scoring + exact rerank)
    "dedup_minhash_candidates_md5",
    "similarity_pq_int8_topk",
    # corpus kNN graph: cell-blocked self-join, the all-pairs ANN shape
    "similarity_knn_graph_int8",
    # record linkage: vocabulary-sized q-gram-blocked levenshtein join
    "fuzzy_join_part_names",
    # the end-to-end curation flow (md5 near-dedup -> budget -> interleave)
    "curation_corpus_mix_pipeline",
    # exact substring-span dedup (anchor-shingle explode + fingerprint
    # self-join + diagonal runs), its per-doc coverage fold (interval
    # merge over the span table), and the incremental
    # batch-vs-anchor-index probe
    "dedup_substring_spans",
    "dedup_span_coverage",
    "dedup_substring_spans_incremental",
    "curation_decontaminate_spans",
    "curation_excise_contaminated",
    # the O(n) Karp–Rabin anchor path (xxhash64 token transform + Arrow
    # rolling combine) and the span-aware five-stage curation capstone
    # (minhash dedup → span-coverage drop → eval excision → budget mix →
    # interleave)
    "dedup_substring_spans_poly",
    "curation_span_clean_mix_pipeline",
    # within-doc repetition spans + the Gopher-style self-repetition
    # coverage fold, and the BPE train/apply pair (one word-count pass +
    # vocabulary-bounded driver-side merge loop)
    "dedup_intra_doc_spans",
    "dedup_self_repetition",
    "text_bpe_merges",
    "text_bpe_encode",
    # the occurrence-capped self-repetition path (planted degenerate docs
    # exercise the short-circuit) and SemDeDup — semantic
    # cluster-then-prune dedup on the int8 codebook
    "dedup_self_repetition_capped",
    "dedup_semdedup_int8",
    "curation_semantic_decontaminate",
    "dedup_semdedup_incremental",
    # the production-shaped capstone: stage-2 self-repetition at
    # min_tokens=50, poly anchors, occurrence cap engaged
    "curation_span_clean_mix_pipeline_prod",
    # Bloom-prefiltered decontamination: the fixed-size-bitmap scan-side
    # prefilter + exact verify join
    "curation_decontaminate_bloom",
    # the broadcast word-table probe form (plan size independent of
    # num_bits)
    "curation_decontaminate_bloom_join",
    # the Bloom short-circuit anti join: probe misses are definite
    # non-members kept with zero exchange
    "bloom_anti_join_lineitem",
    # the span-granularity Bloom prefilter (train anchors cut scan-side
    # before the anchor equi-join)
    "curation_decontaminate_spans_bloom",
    # the published heuristic-filter recipes: the Gopher rule battery and
    # C4 line cleaning are scan-shaped column/array-lambda plans (zero
    # shuffle), the canary scan is a broadcast nested-loop contains join
    # (corpus scan × |patterns|)
    "curation_gopher_rules",
    "curation_c4_line_filter",
    "curation_canary_scan",
    # multi-suite decontamination: one corpus explode serves every suite
    "curation_decontaminate_multisuite",
    # Misra-Gries frequent n-grams (the exchange carries O(k × partitions)
    # candidates, never the n-gram vocabulary) and the per-(suite,
    # source) contamination rollup
    "text_frequent_ngrams",
    "curation_contamination_report",
    # the regex canary sweep (nested-loop regexp_count join, zero corpus
    # shuffle)
    "curation_canary_scan_regex",
    # the composed filter decision table (gopher+C4 chained in ONE scan
    # via keep_cols, canary + contaminated-suite aggregates broadcast
    # back)
    "curation_filter_decision_table",
    # synthesized GIF headers / PCM-WAV chunks through the real
    # mapInPandas stdlib decode paths
    "multimodal_gif_dimensions",
    "multimodal_wav_metadata",
    # synthesized ISO-BMFF through the real mapInPandas box walker, and
    # the compile-once literal canary form (foldable regexp_count
    # columns, ONE scan, zero joins)
    "multimodal_mp4_metadata",
    "curation_canary_scan_regex_literal",
    # the Aho-Corasick large-pattern-set canary form (one mapInPandas
    # scan, |patterns|-independent) and the audio chunk-planning row
    # (synthesized WAVs through the real manifest planner)
    "curation_canary_scan_automaton",
    "multimodal_audio_chunk_manifest",
    "multimodal_frame_sample_planted",
    # the sketch error-bound conversions (HLL + exact distinct in two
    # 1-row broadcast-joined aggregates; percentile_approx's rank-bound
    # check pays a second lineitem scan) and the generic image lane's
    # planted three-format row through the default decoder
    "approx_distinct_users_bounded",
    "approx_quantiles_price_bounded",
    "multimodal_extract_features_planted",
    # full minhash clustering (candidates → jaccard edges → label-prop
    # connected components); its checkpoint-truncated plan is audited
    # through the variant in plan_audit_variants()
    "dedup_minhash_components_md5",
    # the HLL replay's bounded-error conversion (3-batch snapshot replay
    # + exact distinct + 2-way rebatch union in one plan) and the
    # portable-hash sampling twins (md5-threshold scans)
    "incremental_hll_distinct_replay_bounded",
    "sample_orders_portable",
    "stratified_sample_portable",
    # the heaviest graph query (triangle counting) and the end-to-end
    # int8-IVF kNN graph → components composition
    "graph_triangles_parts",
    "dedup_embedding_knn_components",
    # snapshot MERGE/CDF replay and the side-effect tar sink
    "incremental_agg_replay",
    "export_tar_shards",
]


def plan_audit_variants():
    """Audit-only builders (planned, not registry entries) for queries
    whose own plan is checkpoint-truncated: each dumps an extra
    untruncated plan, so the no-cartesian/no-BNLJ checks see the real
    join shape."""
    from ucr_bigdata_snowfallproject_spark.queries.extensions import (
        dedup_minhash_components_md5_iteration,
    )

    return {
        # the vertex-state build + one label-propagation round (one
        # groupBy each), pre-localCheckpoint — includes the banded
        # minhash candidate self-join upstream
        "dedup_minhash_components_md5_iteration":
            dedup_minhash_components_md5_iteration,
    }


# Operator-family audit: every operator FAMILY in the registry keeps >=1
# HEADLINE representative, enforced by
# tests/test_bench_bands.py::test_every_registry_family_has_a_headline_rep.
# Families are semantic groups mapped from registry-name prefixes; a new
# query whose prefix is unknown FAILS the audit until it is mapped here,
# so a new family cannot skip the plan audit silently.

#: registry-name prefix (first "_"-token; "q<digits>" → "q") → family
FAMILY_PREFIXES = {
    # relational core: filters/projections/set-ops/limits/small joins
    "anti": "relational", "semi": "relational", "union": "relational",
    "except": "relational", "intersect": "relational",
    "distinct": "relational", "filter": "relational", "topk": "relational",
    "join": "relational", "nullsafe": "relational", "bloom": "relational",
    # TPC-H shapes incl. subquery forms
    "q": "tpch", "correlated": "tpch", "sql": "tpch",
    # aggregates + robust stats + distribution/shuffle diagnostics
    "group": "aggregates", "global": "aggregates", "cube": "aggregates",
    "rollup": "aggregates", "grouping": "aggregates", "pivot": "aggregates",
    "approx": "aggregates", "corr": "aggregates",
    "correlation": "aggregates", "heavy": "aggregates",
    "histogram": "aggregates", "mad": "aggregates",
    "winsorize": "aggregates", "profile": "aggregates",
    "ols": "aggregates", "skew": "aggregates", "salted": "aggregates",
    "conditional": "aggregates",
    # windows / event-time
    "window": "windows", "ewma": "windows", "rolling": "windows",
    "resample": "windows", "rate": "windows", "sessionize": "windows",
    "funnel": "windows", "twa": "windows", "events": "windows",
    # scalar/semi-structured expression surface
    "scalar": "scalars", "from": "scalars", "json": "scalars",
    "array": "scalars", "unpivot": "scalars",
    # text analysis
    "text": "text", "wordcount": "text",
    # dedup (exact / minhash / simhash / cdc / spans)
    "dedup": "dedup", "cdc": "snapshot",
    # curation / sampling / quality gating
    "curation": "curation", "sample": "curation",
    "stratified": "curation", "quality": "curation",
    # embeddings / ANN / kNN graph
    "similarity": "similarity", "embedding": "similarity",
    # drift diagnostics (embedding_drift_by_label maps via special case)
    "ks": "drift", "psi": "drift",
    # retrieval
    "retrieval": "retrieval", "rag": "retrieval",
    # graph analytics
    "graph": "graph",
    # snapshot tables (MERGE / time travel / CDF / incremental replay)
    "snapshot": "snapshot", "incremental": "snapshot",
    # IO sinks/sources with side effects
    "export": "io",
    # end-to-end pipelines (reference GSOD flow + corpus builds)
    "gsod": "pipelines", "corpus": "pipelines",
    # extended join surface
    "asof": "joins_ext", "range": "joins_ext", "overlap": "joins_ext",
    "fuzzy": "joins_ext", "geo": "joins_ext",
    # python UDF surface
    "pandas": "udf", "apply": "udf", "udtf": "udf",
    "multimodal": "multimodal",
    "flagship": "pipelines",
}

#: exact-name overrides where the prefix would mislead
FAMILY_OVERRIDES = {
    "embedding_drift_by_label": "drift",
    "incremental_agg_replay": "snapshot",
}


def family_of(name: str) -> str | None:
    """Semantic operator family of a registry entry (None = unmapped —
    the audit test fails on it)."""
    if name in FAMILY_OVERRIDES:
        return FAMILY_OVERRIDES[name]
    head = name.split("_")[0]
    if re.fullmatch(r"q\d+", head):
        head = "q"
    return FAMILY_PREFIXES.get(head)


def dump_profile_plans(spark, sf_dir: str, out_dir: str) -> list[str]:
    """Write the FINAL physical plan of every HEADLINE query, then of
    every :func:`plan_audit_variants` builder, to
    ``<out_dir>/<name>.plan.txt``; return the dumped names in write
    order.

    Each frame is run once (``count()``, so AQE's final plan is
    recorded), and session state is cleared between queries. The dumps
    are the pass's only files that outlive the process (side-effect
    queries write to temporary scratch directories removed at exit), so
    the caller's ``out_dir`` decides where they go."""
    from ucr_bigdata_snowfallproject_spark.plans import checks

    os.makedirs(out_dir, exist_ok=True)
    variants = plan_audit_variants()
    dumped = HEADLINE + sorted(variants)
    for name in dumped:
        fn = variants[name] if name in variants else REGISTRY[name][0]
        df = fn(spark, sf_dir)
        df.count()  # materialize so AQE's final plan is recorded
        with open(os.path.join(out_dir, f"{name}.plan.txt"), "w") as fh:
            # dedupe repeated cached-subplan reprints (one capstone's raw
            # dump was 28.6 MB of InMemoryScan body copies); first
            # occurrences stay verbatim
            fh.write(checks.dump_str(df))
        clear_session_state(spark)
    return dumped
