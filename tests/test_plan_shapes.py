"""Physical-plan assertions (SURVEY §4): the Catalyst rewrites the engine
relies on at 100 TB — predicate pushdown, column pruning, broadcast joins,
top-k as TakeOrderedAndProject, whole-stage codegen, bounded shuffle counts
— verified from explain output so a regression is a test failure, not a
silent 100× slowdown on the cluster."""

from __future__ import annotations

from pyspark.sql import functions as F

from ucr_bigdata_snowfallproject_spark.io import load_table
from ucr_bigdata_snowfallproject_spark.plans import checks
from ucr_bigdata_snowfallproject_spark.queries import REGISTRY

from conftest import SF_SMOKE


def q(spark, name):
    fn, _ = REGISTRY[name]
    return fn(spark, SF_SMOKE)


def test_q1_filter_pushed_to_scan(spark):
    df = q(spark, "q1_pricing_summary")
    pushed = checks.pushed_filters(df)
    assert any("l_shipdate" in p for p in pushed), pushed


def test_q1_column_pruning(spark):
    df = q(spark, "q1_pricing_summary")
    scans = checks.read_schema_columns(df)
    assert scans, "expected at least one scan"
    # 7 of lineitem's 11 columns are needed; the scan must not read more
    assert all(len(cols) <= 7 for cols in scans), scans


def test_q1_whole_stage_codegen_and_single_shuffle(spark):
    df = q(spark, "q1_pricing_summary")
    assert checks.has_whole_stage_codegen(df)
    assert checks.shuffle_count(df) == 1  # only the 6-group exchange


def test_q3_broadcasts_customer_dim(spark):
    assert checks.has_broadcast_join(q(spark, "q3_top_revenue_orders"))


def test_q5_broadcasts_dims(spark):
    df = q(spark, "q5_nation_revenue")
    assert checks.has_broadcast_join(df)


def test_topk_plans_take_ordered(spark):
    df = q(spark, "topk_orders_by_price")
    text = checks.explain_str(df, "simple")
    assert "TakeOrderedAndProject" in text, text
    assert checks.shuffle_count(df) == 0  # top-k needs no exchange at all


def test_flagship_broadcast_join_and_pruned_scan(spark):
    df = q(spark, "flagship_monthly_median_join")
    assert checks.has_broadcast_join(df)
    scans = checks.read_schema_columns(df)
    # lineitem scan: suppkey, shipdate, quantity, extendedprice only
    assert any(set(c) <= {"l_suppkey", "l_shipdate", "l_quantity", "l_extendedprice"}
               for c in scans), scans


def test_sentinel_filter_pushdown(spark):
    df = q(spark, "filter_project_sentinels")
    pushed = checks.pushed_filters(df)
    assert any("c_mktsegment" in p for p in pushed), pushed


def test_sessionize_single_shuffle(spark):
    # lag window, session counter, and per-session agg all ride ONE
    # hashpartitioning(user_id) exchange
    df = q(spark, "sessionize_events")
    assert checks.shuffle_count(df) == 1


def test_asof_bounded_shuffles(spark):
    df = q(spark, "asof_join_purchase_attribution")
    assert checks.shuffle_count(df) <= 2


def test_brute_force_similarity_no_corpus_shuffle(spark):
    # queries broadcast; the only exchange is the per-query top-k window
    # over the (tiny) scored candidate set
    df = q(spark, "similarity_brute_force_topk")
    assert checks.has_broadcast_join(df) or "BroadcastNestedLoopJoin" in checks.explain_str(df, "simple")
    assert checks.shuffle_count(df) <= 1


def test_range_join_broadcasts_bands(spark):
    df = q(spark, "range_join_price_bands")
    text = checks.explain_str(df, "simple")
    assert "BroadcastNestedLoopJoin" in text, text


def test_semi_join_plans_left_semi(spark):
    df = q(spark, "semi_join_customers_with_orders")
    text = checks.explain_str(df, "simple")
    assert "LeftSemi" in text, text


def test_bucketed_join_no_shuffle(spark, tmp_path):
    """io.write_bucketed: co-bucketed tables join with ZERO exchanges —
    the pay-the-shuffle-once layout for repeated fact⋈fact joins."""
    from ucr_bigdata_snowfallproject_spark.io import load_table, write_bucketed

    o = load_table(spark, SF_SMOKE, "orders")
    l = load_table(spark, SF_SMOKE, "lineitem").withColumnRenamed("l_orderkey", "o_orderkey")
    write_bucketed(o, "t_orders_b", ["o_orderkey"], n_buckets=8, sort_cols=["o_orderkey"])
    write_bucketed(l, "t_lineitem_b", ["o_orderkey"], n_buckets=8, sort_cols=["o_orderkey"])
    try:
        joined = spark.table("t_orders_b").join(spark.table("t_lineitem_b"), "o_orderkey")
        assert checks.shuffle_count(joined) == 0, checks.explain_str(joined, "simple")
        assert joined.count() > 0
    finally:
        spark.sql("DROP TABLE IF EXISTS t_orders_b")
        spark.sql("DROP TABLE IF EXISTS t_lineitem_b")


def test_partitioned_write_prunes_partitions(spark, tmp_path):
    """io.write_parquet(partition_by=...): a filter on the partition column
    must prune at planning time (PartitionFilters), reading only matching
    directories — the layout decision that makes the reference's
    'last N years' cut a metadata operation (SURVEY §4)."""
    from pyspark.sql import functions as F
    from ucr_bigdata_snowfallproject_spark.io import load_table, write_parquet

    out = str(tmp_path / "orders_by_status")
    o = load_table(spark, SF_SMOKE, "orders")
    write_parquet(o, out, partition_by=["o_orderstatus"])
    back = spark.read.parquet(out).filter(F.col("o_orderstatus") == "F")
    text = checks.explain_str(back, "formatted")
    assert "PartitionFilters: [" in text
    assert "o_orderstatus" in text.split("PartitionFilters:")[1].split("]")[0]
    n_f = back.count()
    assert 0 < n_f < o.count()


def test_parquet_aggregate_pushdown(spark):
    """spark.sql.parquet.aggregatePushdown: a bare global MIN/MAX/COUNT
    reads parquet footer statistics, not data pages — at 100 TB A3 becomes
    a metadata operation. Requires the DSv2 scan path (useV1SourceList),
    scoped to this test because the V1 reader's plan strings are asserted
    elsewhere."""
    from pyspark.sql import functions as F
    from ucr_bigdata_snowfallproject_spark.io import table_path

    old = spark.conf.get("spark.sql.sources.useV1SourceList")
    spark.conf.set("spark.sql.sources.useV1SourceList", "")
    try:
        df = spark.read.parquet(table_path(SF_SMOKE, "orders")).agg(
            F.min("o_totalprice"), F.max("o_totalprice"), F.count(F.lit(1))
        )
        text = checks.explain_str(df, "formatted")
        assert "PushedAggregation: [" in text, text
        assert "MIN(o_totalprice)" in text and "COUNT(*)" in text, text
    finally:
        spark.conf.set("spark.sql.sources.useV1SourceList", old)


def test_q6_all_predicates_pushed_single_stage(spark):
    """Q6 shape: every predicate (date range, discount range, quantity cap)
    must reach PushedFilters and the plan must hold exactly zero
    pre-aggregation exchanges — at 100 TB this query is row-group skipping
    plus one codegen'd scan stage."""
    df = q(spark, "q6_revenue_forecast")
    pushed = " ".join(checks.pushed_filters(df))
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert col in pushed, pushed
    assert checks.shuffle_count(df) <= 1  # single-row final agg exchange only


def test_q19_single_side_conjuncts_extracted(spark):
    """Q19 shape: from the OR-of-ANDs spanning both join sides, Catalyst
    must extract the lineitem-only disjunction (quantity ranges) below the
    join so the fact scan still prunes."""
    df = q(spark, "q19_disjunctive_predicates")
    pushed = " ".join(checks.pushed_filters(df))
    assert "l_quantity" in pushed, pushed
    assert checks.has_broadcast_join(df)


def test_q17_window_reuses_join_scan_columns(spark):
    """Q17 shape: the decorrelated per-part average must not widen the
    lineitem scan beyond (partkey, quantity, extendedprice)."""
    df = q(spark, "q17_small_quantity_revenue")
    scans = checks.read_schema_columns(df)
    assert any(
        set(c) <= {"l_partkey", "l_quantity", "l_extendedprice"} for c in scans
    ), scans


def test_q10_topk_above_agg(spark):
    """Q10 shape: LIMIT 20 over aggregated revenue plans as
    TakeOrderedAndProject — no global sort of the aggregate output."""
    df = q(spark, "q10_returned_items")
    assert "TakeOrderedAndProject" in checks.explain_str(df, "simple")


def test_tfidf_no_cartesian_and_window_group_limit(spark):
    """TF-IDF shape: the DF-table scoring join is a keyed join (no
    CartesianProduct — the vocabulary side is deliberately NOT force-
    broadcast: 10⁸+ distinct tokens at 100 TB, AQE may still choose
    broadcast at test scale), and the per-doc top-k rank filter plans as
    WindowGroupLimit so partial top-k runs before the window exchange."""
    df = q(spark, "text_tfidf_top_terms")
    assert not checks.has_cartesian(df)
    assert "WindowGroupLimit" in checks.explain_str(df, "simple")


def test_unigram_logppl_no_cartesian_bounded_shuffles(spark):
    """Unigram-LM scoring: the vocab join is keyed (no CartesianProduct;
    not force-broadcast — AQE decides), the 1-row total scalar rides a
    broadcast, and the shuffle count stays bounded (term explode + vocab
    agg + per-doc mean, plus at most the vocab-join exchanges)."""
    df = q(spark, "text_unigram_logppl")
    assert not checks.has_cartesian(df)
    assert checks.shuffle_count(df) <= 6, checks.shuffle_count(df)


def test_cluster_assign_no_shuffle(spark):
    """Cell assignment is pure scan-side work (Arrow matmul + argmin
    column expr): zero exchanges before the size aggregation's own."""
    from ucr_bigdata_snowfallproject_spark.operators.similarity import cluster_assign

    e = load_table(spark, SF_SMOKE, "embeddings")
    assert checks.shuffle_count(cluster_assign(e)) == 0


def test_pack_sequences_two_column_scan_one_shuffle(spark):
    """Packing needs only (source, doc_id, text) from the scan and exactly
    one exchange (the per-shard window)."""
    df = q(spark, "curation_pack_sequences")
    scans = checks.read_schema_columns(df)
    assert scans and all(len(cols) <= 3 for cols in scans), scans
    assert checks.shuffle_count(df) == 1


def test_mixture_weights_bounded_shuffles(spark):
    """Per-source aggregate + 1-row normalizer: two aggregation exchanges,
    no join shuffle (the scalar rides a broadcast)."""
    df = q(spark, "curation_mixture_weights")
    assert checks.shuffle_count(df) <= 3
    text = checks.explain_str(df, "simple")
    assert "BroadcastNestedLoopJoin" in text or "BroadcastExchange" in text


def test_bigram_lm_no_cartesian_on_counts(spark):
    """The conditional join keys on w1 (shuffle or broadcast — never a
    cross join on the counts table); the V scalar is a 1-row broadcast."""
    df = q(spark, "text_bigram_lm")
    text = checks.explain_str(df, "simple")
    assert "CartesianProduct" not in text


def test_incremental_exact_dedup_narrow_probe(spark):
    """The corpus side of the probe reduces to distinct fingerprints and
    the batch anti-joins against it — no text columns ride the join."""
    df = q(spark, "dedup_incremental_exact")
    text = checks.explain_str(df, "formatted")
    assert "LeftAnti" in text
    # the anti-join's build side must be the md5 projection, not raw text
    assert "CartesianProduct" not in text


def test_cdc_chunks_doc_grained_shuffles(spark):
    """CDC = one per-doc window + one (doc, chunk) aggregation; both key
    on doc-grained columns. Bounded exchanges, no join at all."""
    df = q(spark, "dedup_cdc_chunks")
    text = checks.explain_str(df, "simple")
    assert "Join" not in text
    assert checks.shuffle_count(df) <= 2


def test_pq_topk_single_shuffle_before_window(spark):
    """ADC scoring is scan-side (codes UDF + posexplode); the only
    exchange feeds the per-query top-k window."""
    fn, _ = REGISTRY["similarity_pq_topk"]
    df = fn(spark, SF_SMOKE)
    assert checks.shuffle_count(df) <= 1, checks.explain_str(df, "simple")


def test_overlap_join_is_equi_join(spark):
    """The interval-overlap join must plan as a hash/sort-merge equi-join
    on (key, cell) — never a nested loop over the inequality predicate."""
    df = q(spark, "overlap_join_click_purchase_windows")
    text = checks.explain_str(df, "simple")
    assert "NestedLoop" not in text and "CartesianProduct" not in text
    assert any(j in text for j in ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin"))


def test_q9_broadcasts_dims_no_cartesian(spark):
    """Q9's deep 5-way star join: dims broadcast, never a cartesian."""
    df = q(spark, "q9_product_type_profit")
    text = checks.explain_str(df, "simple")
    assert "BroadcastHashJoin" in text
    assert "CartesianProduct" not in text


def test_q21_semi_and_anti_joins(spark):
    """Q21's multi-EXISTS pattern must plan as left-semi + left-anti."""
    df = q(spark, "q21_waiting_suppliers")
    text = checks.explain_str(df, "formatted")
    assert "LeftSemi" in text and "LeftAnti" in text


def test_mad_outliers_scan_pruned_to_two_columns(spark):
    """MAD summary: every orders scan reads only (priority, price) — the
    stat passes must not widen the fact scan."""
    df = q(spark, "mad_outliers_orders_priority")
    scans = checks.read_schema_columns(df)
    assert scans and all(
        set(c) <= {"o_orderpriority", "o_totalprice"} for c in scans
    ), scans


def test_stratified_sample_scan_speed_no_shuffle(spark):
    """Stratified sampling is pure scan-side work: zero exchanges, and
    the documents scan never reads the text payload."""
    df = q(spark, "curation_stratified_sample")
    assert checks.shuffle_count(df) == 0
    scans = checks.read_schema_columns(df)
    assert all("text" not in c for c in scans), scans


def test_funnel_scan_pruned_and_no_cartesian(spark):
    """Funnel: events scans carry only (user_id, ts, event_type); the
    per-stage anchor joins are keyed (no cartesian), and the shuffle
    count stays bounded (per-stage groupBys + anchor joins)."""
    df = q(spark, "funnel_events_conversion")
    scans = checks.read_schema_columns(df)
    assert scans and all(
        set(c) <= {"user_id", "ts", "event_type"} for c in scans
    ), scans
    assert not checks.has_cartesian(df)
    assert checks.shuffle_count(df) <= 12, checks.shuffle_count(df)


def test_chunk_documents_scan_speed(spark):
    """RAG chunking is one scan-speed pass: documents scan reads only
    (doc_id, text), zero exchanges before any consumer's own."""
    df = q(spark, "text_chunk_documents")
    assert checks.shuffle_count(df) == 0
    scans = checks.read_schema_columns(df)
    assert scans and all(set(c) <= {"doc_id", "text"} for c in scans), scans


def test_rag_prep_pipeline_single_pass(spark):
    """The composed sample→redact→chunk→fingerprint pipeline stays a
    single scan-speed pass: zero shuffles, pruned scan, lang filter
    pushed to parquet."""
    df = q(spark, "rag_prep_pipeline")
    assert checks.shuffle_count(df) == 0
    assert any("lang" in p for p in checks.pushed_filters(df))
    scans = checks.read_schema_columns(df)
    assert scans and all(
        set(c) <= {"doc_id", "text", "lang"} for c in scans
    ), scans


def test_geo_nearest_join_no_cartesian_one_window(spark):
    """The grid-blocked geo NN join must be a plain cell-key equi-join —
    no CartesianProduct / nested loop even though the predicate is a
    distance inequality."""
    df = REGISTRY["geo_nearest_supplier_for_customers"][0](spark, SF_SMOKE)
    text = checks.explain_str(df)
    assert "CartesianProduct" not in text
    assert "BroadcastNestedLoopJoin" not in text


def test_join_hints_flip_physical_strategy(spark):
    """join_with_strategy: each hint must actually change the physical
    join operator — broadcast→BroadcastHashJoin, merge→SortMergeJoin,
    shuffle_hash→ShuffledHashJoin."""
    from ucr_bigdata_snowfallproject_spark.operators.relational import join_with_strategy

    o = load_table(spark, SF_SMOKE, "orders")
    c = load_table(spark, SF_SMOKE, "customer")
    on = [F.col("o_custkey") == F.col("c_custkey")]
    wanted = {
        "broadcast": "BroadcastHashJoin",
        "merge": "SortMergeJoin",
        "shuffle_hash": "ShuffledHashJoin",
    }
    for strategy, op in wanted.items():
        text = checks.explain_str(join_with_strategy(o, c, on[0], strategy))
        assert op in text, (strategy, op)


def test_bloom_semi_join_prefilter_in_scan_stage(spark):
    """bloom_semi_join: the probe must stay fact-side BELOW the semi join
    and the plan free of cartesian/nested-loop shapes — in BOTH probe
    forms: the r13-default JOIN form plans broadcast HASH joins against
    the occupied-words frame (never nested-loop), the literal form a
    plain scan-stage Filter. Also pins exactness: survivors == plain
    left-semi join."""
    from ucr_bigdata_snowfallproject_spark.operators.relational import (
        bloom_semi_join, semi_join,
    )

    li = load_table(spark, SF_SMOKE, "lineitem").select(
        "l_orderkey", "l_linenumber"
    )
    hot = load_table(spark, SF_SMOKE, "orders").filter(
        F.col("o_totalprice") > 400000
    )
    out = bloom_semi_join(li, hot, "l_orderkey", "o_orderkey")
    text = checks.explain_str(out)
    assert "xxhash64" in text  # the probe survived optimization
    assert "BroadcastHashJoin" in text  # word probes are HASH joins
    assert "CartesianProduct" not in text
    assert "BroadcastNestedLoopJoin" not in text

    lit = bloom_semi_join(
        li, hot, "l_orderkey", "o_orderkey", mode="literal"
    )
    lit_text = checks.explain_str(lit)
    # literal form: pure Filter expression, no word-join machinery —
    # the scan-only contract the streaming faces rely on
    assert "xxhash64" in lit_text
    assert "__bw" not in lit_text and "element_at" in lit_text
    assert lit.exceptAll(out).count() == 0
    assert out.exceptAll(lit).count() == 0

    plain = semi_join(
        li, hot.select(F.col("o_orderkey").alias("l_orderkey")), ["l_orderkey"]
    )
    assert out.exceptAll(plain).count() == 0
    assert plain.exceptAll(out).count() == 0

    # the prefilter admits a SUPERSET of true matches but far fewer than
    # the full fact table (fp-rate sanity at the default 8 KiB bitmap)
    n_fact, n_true, n_out = li.count(), plain.count(), out.count()
    assert n_true == n_out
    assert n_out < n_fact


def test_char_entropy_zero_shuffle(spark):
    """char_entropy computes per-row (sorted-array run lengths) — the
    plan must contain NO exchange at all (the naive per-character
    explode→groupBy would shuffle one row per character)."""
    from ucr_bigdata_snowfallproject_spark.operators.text import char_entropy

    d = load_table(spark, SF_SMOKE, "documents")
    out = char_entropy(d, "doc_id", "text")
    assert checks.shuffle_count(out) == 0
    assert out.count() == d.count()


def test_histogram_fixed_single_agg_shuffle(spark):
    """histogram_fixed: the corpus-sized pass is ONE partial-aggregable
    (keys, bin) groupBy; the empty-bin scaffold joins broadcast (no
    sort-merge join of the fact table against the scaffold)."""
    from ucr_bigdata_snowfallproject_spark.operators.aggregates import histogram_fixed

    o = load_table(spark, SF_SMOKE, "orders")
    out = histogram_fixed(
        o, ["o_orderpriority"], "o_totalprice", lo=0.0, hi=600000.0, n_bins=12
    )
    text = checks.explain_str(out)
    assert "CartesianProduct" not in text
    # partial aggregation before the exchange (map-side combine)
    assert "partial_count" in text or "HashAggregate" in text
    assert out.count() == 5 * 12


def test_bm25_broadcast_probe_no_cartesian(spark):
    """BM25's corpus side must only be probed by broadcasts: the bounded
    query-term frame broadcasts into the vocabulary-sized df table and the
    pruned idf frame broadcasts into the TF posting join — never a
    cartesian; the documents scan reads only (doc_id, text)."""
    df = q(spark, "retrieval_bm25_topk")
    assert checks.has_broadcast_join(df)
    assert not checks.has_cartesian(df)
    scans = checks.read_schema_columns(df)
    assert any(set(c) <= {"doc_id", "text"} for c in scans), scans


def test_bm25_unpersisted_tf_tokenizes_once(spark):
    """bm25_corpus_stats(persist_tf=False): the optimized plan of ``tf``
    holds the tokenize + array_sort once. Exploding the run array with a
    plain ``explode`` let the optimizer push ``size(__tf) > 0`` below the
    Generate, which inlined the tokenizer into the run lambdas, once per
    array element (21 ``array_sort`` calls; ``tf.count()`` on 60 sf0.001
    documents took 61 s against 2 s). Plan only, no action."""
    from ucr_bigdata_snowfallproject_spark.operators.retrieval import (
        bm25_corpus_stats,
    )

    docs = load_table(spark, SF_SMOKE, "documents")
    tf, _lens, _dfreq = bm25_corpus_stats(docs, "doc_id", "text", persist_tf=False)
    plan = tf._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("array_sort(") == 1, plan


def test_dup_components_loser_anti_join_broadcasts(spark):
    """The survivor anti-join against dup_components' losers broadcasts
    the loser ids from its first plan: no shuffle of the documents side.
    The labels are a checkpoint whose pre-execution size estimate is the
    pair upstream's join estimate (petabytes), so without the size-gated
    broadcast hint the join plans as a SortMergeJoin that shuffles every
    document's text. With broadcasting switched off the hint is not set
    and the join stays a SortMergeJoin. Plans are read before any action
    on the join."""
    import re

    from ucr_bigdata_snowfallproject_spark.operators import dedup as dedup_ops

    docs = load_table(spark, SF_SMOKE, "documents")
    # a few chains over neighbouring ids: a pair upstream whose estimate
    # multiplies, as the MinHash candidate self-join's does
    a = docs.filter(F.col("doc_id") % 100 < 3).select(F.col("doc_id").alias("id_a"))
    b = docs.select(F.col("doc_id").alias("id_b"))
    pairs = a.join(b, F.col("id_b") == F.col("id_a") + 1)

    def loser_anti_join():
        comps = dedup_ops.dup_components(pairs)
        losers = comps.filter(F.col("id") != F.col("comp")).select(
            F.col("id").alias("doc_id")
        )
        return docs.join(losers, "doc_id", "left_anti")

    df = loser_anti_join()
    text = checks.explain_str(df, "simple")
    assert re.search(r"BroadcastHashJoin .*LeftAnti", text), text
    assert checks.shuffle_count(df) == 0, text

    key = "spark.sql.autoBroadcastJoinThreshold"
    before = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try:
        text = checks.explain_str(loser_anti_join(), "simple")
    finally:
        spark.conf.set(key, before)
    assert re.search(r"SortMergeJoin .*LeftAnti", text), text


def test_int8_rerank_broadcasts_and_no_unintended_cartesian(spark):
    """SQ8 two-stage ANN: the coarse stage is the INTENDED broadcast
    nested-loop (bounded query codes × corpus codes); the rerank stage
    must broadcast the candidate set into the float corpus (never
    shuffle the corpus for the probe) — both hash joins broadcast."""
    df = q(spark, "similarity_int8_rerank_topk")
    plan = checks.explain_str(df)
    # count tree-form nodes ("<name> Inner") — the formatted detail
    # section repeats each node name once more
    assert plan.count("BroadcastHashJoin Inner") >= 2, plan[:2000]
    assert "CartesianProduct" not in plan
    # the only nested-loop is the coarse scan's query broadcast
    assert plan.count("BroadcastNestedLoopJoin Inner") == 1


def test_copurchase_projection_two_shuffles_no_join(spark):
    """Bipartite projection = ONE group-key exchange + ONE pair-count
    exchange — no self-join, no cartesian; pair expansion is in-row."""
    df = q(spark, "graph_copurchase_edges")
    assert checks.shuffle_count(df) <= 3  # group, pair agg (+AQE read)
    plan = checks.explain_str(df)
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
    assert "ShuffledHashJoin" not in plan


def test_negative_sample_single_pool_shuffle(spark):
    """Negative mining: the pool shuffles ONCE on the bucket key; the
    1-row count frame rides broadcasts (never a real cartesian)."""
    df = q(spark, "curation_negative_sample")
    plan = checks.explain_str(df)
    assert "CartesianProduct" not in plan
    assert checks.has_broadcast_join(df) or "BroadcastNestedLoopJoin" in plan


def test_interleave_no_partitionless_window(spark):
    """VERDICT r06 #2: proportional_interleave must compute its GLOBAL
    rank without any partition-less Window (one task holding the corpus)
    — both ranks are two-pass bucketed prefix counts; the offset frames
    ride broadcast joins."""
    df = q(spark, "curation_interleave_order")
    assert checks.partitionless_window_count(df) == 0
    assert checks.has_broadcast_join(df)


def test_token_budget_mix_no_partitionless_window(spark):
    """VERDICT r06 #3: token_budget_mix's per-source running sum is a
    bucketed two-pass prefix sum — every Window in the plan is
    partitioned by at least (source, bucket) or runs over the tiny
    sources×buckets offset frame; none is partition-less."""
    df = q(spark, "curation_token_budget_mix")
    assert checks.partitionless_window_count(df) == 0
    assert checks.has_broadcast_join(df)


def test_round8_md5_twins_no_partitionless_window(spark):
    """Round-8 oracle-backed twins keep the repo-wide window rule: no
    physical Window with an empty partition spec (one task holding the
    corpus), and no cartesian product anywhere in their plans."""
    from ucr_bigdata_snowfallproject_spark.plans import checks
    from ucr_bigdata_snowfallproject_spark.queries import REGISTRY

    for name in (
        "dedup_minhash_candidates_md5",
        "dedup_simhash_candidates_md5",
        "similarity_pq_int8_topk",
        "similarity_knn_graph_int8",
        "fuzzy_join_part_names",
        "curation_corpus_mix_pipeline",
        "dedup_substring_spans",
        "dedup_span_coverage",
        "dedup_substring_spans_incremental",
    ):
        fn, _ = REGISTRY[name]
        df = fn(spark, SF_SMOKE)
        assert checks.partitionless_window_count(df) == 0, name
        plan = checks.explain_str(df, "simple")
        assert "CartesianProduct" not in plan, name


def test_headline_queries_not_hollow_under_count(spark):
    """Round-9 count-plan audit, made permanent: bench.py times
    ``df.count()``, and Catalyst legally ELIMINATES a tail join whose
    right side is unique-keyed and unreferenced — three headline queries
    (span coverage, boilerplate removal, fixed histogram) were silently
    benching scaffold-only plans. Guard: any headline query whose full
    optimized plan contains a Join must keep a Join under the count
    projection (queries fix this with a trailing filter on a computed
    column Catalyst can't prove, e.g. ``count_col >= 0``)."""
    import bench
    from ucr_bigdata_snowfallproject_spark.queries import REGISTRY

    hollow = []
    oversized = []
    for name in bench.HEADLINE:
        fn, _ = REGISTRY[name]
        df = fn(spark, SF_SMOKE)
        full = df._jdf.queryExecution().optimizedPlan().toString()
        cnt = df.groupBy().count()._jdf.queryExecution().optimizedPlan().toString()
        if "Join" in full and "Join" not in cnt:
            hollow.append(name)
        # round-12 plan-SIZE audit (the lineage-truncation lesson,
        # SCALE.md "multiplicative-plan finding"): persist barriers do
        # not truncate lineage, so a chained composition's optimized
        # tree grows multiplicatively with stage depth — the six-stage
        # capstone silently reached ~100 MB of tree and 10-13 s of
        # driver planning PER ACTION. Any headline plan past 4 MB of
        # text is that failure mode reappearing; truncate at barriers
        # (dedup._materialize('local'/'reliable')) instead of widening
        # this limit. Largest legitimate plan today is ~150 KB
        # (curation_corpus_mix_pipeline).
        if len(full) > 4 * 1024 * 1024:
            oversized.append((name, len(full)))
    assert not hollow, f"hollow under count(): {hollow}"
    assert not oversized, f"multiplicative plan blowup: {oversized}"


def test_decontaminate_spans_broadcast_guard(spark, monkeypatch):
    """VERDICT r09 #1: the eval-anchor join in decontaminate_spans /
    excise_spans broadcasts the eval side only while the SIZED estimate
    fits the budget — below it the plan carries a BroadcastHashJoin on
    the fingerprint; with the budget forced to zero the same call plans
    a shuffled join (no broadcast build side to OOM) and the OUTPUT is
    row-identical either way."""
    from ucr_bigdata_snowfallproject_spark.operators import curation

    train = spark.createDataFrame(
        [
            (1, "a b c d e f g h i j k l m n o p"),
            (2, "z y x w v u t s r q p o n m l k"),
        ],
        "doc_id long, text string",
    )
    ev = spark.createDataFrame(
        [(100, "c d e f g h i j k l m n o p q r")], "doc_id long, text string"
    )

    def plans_broadcast(df):
        # the eval-anchor join is the only train⋈eval join in the plan;
        # AQE may also broadcast elsewhere, so check under broadcast_eval
        # semantics with the simple string
        return "BroadcastHashJoin" in checks.explain_str(df, "simple")

    small = curation.decontaminate_spans(train, ev, "doc_id", "text", min_tokens=3)
    assert plans_broadcast(small)

    monkeypatch.setattr(curation, "_EVAL_BROADCAST_BUDGET_BYTES", 0)
    big = curation.decontaminate_spans(train, ev, "doc_id", "text", min_tokens=3)
    assert not plans_broadcast(big)
    rows = lambda df: sorted(map(tuple, df.collect()))
    assert rows(small) == rows(big)

    # excise_spans shares the guard: forced-off broadcast stays
    # broadcast-free and bit-identical to the forced-on form
    exc_b = curation.excise_spans(
        train, ev, "doc_id", "text", min_tokens=3, broadcast_eval=True
    )
    exc_s = curation.excise_spans(
        train, ev, "doc_id", "text", min_tokens=3, broadcast_eval=False
    )
    assert plans_broadcast(exc_b) and not plans_broadcast(exc_s)
    assert rows(exc_b) == rows(exc_s)

    # VERDICT r10 #6: the legacy doc-level decontaminate rides the same
    # sized guard — small eval broadcasts, zero budget falls back to a
    # shuffled join, output row-identical either way
    leg_small = curation.decontaminate(train, ev, "doc_id", "text", n=3)
    assert not plans_broadcast(leg_small)  # budget is still 0 (patched)
    leg_forced = curation.decontaminate(
        train, ev, "doc_id", "text", n=3, broadcast_eval=True
    )
    assert plans_broadcast(leg_forced)
    assert rows(leg_small) == rows(leg_forced)
    monkeypatch.undo()
    leg_auto = curation.decontaminate(train, ev, "doc_id", "text", n=3)
    assert plans_broadcast(leg_auto)  # tiny eval fits the real budget
    assert rows(leg_auto) == rows(leg_small)


# ---------------------------------------------------------------------------
# Standing lineage-truncation guard (round 13, VERDICT r12 Missing #3):
# every composed multi-stage registry entry's analyzed LOGICAL plan must
# stay bounded. Round 12 found persist-only barriers embed the upstream
# tree MULTIPLICATIVELY — ~100 MB of plan text / 24,592 embedded scans and
# 10-13 s of pure driver planning on a 298-row result. The fix (eager
# localCheckpoint at barriers) was applied where it was caught; this test
# makes the rule standing: any future stage-stack that regrows a
# multiplicative tree fails HERE, at build time, not as a bench anomaly.
# ---------------------------------------------------------------------------

import pytest

_COMPOSED_ENTRIES = [
    "corpus_build_pipeline",
    "curation_corpus_mix_pipeline",
    "curation_pipeline_stats",
    "curation_span_clean_mix_pipeline",
    "curation_span_clean_mix_pipeline_prod",
    "dedup_minhash_components",
    "dedup_minhash_components_md5",
    "dedup_embedding_knn_components",
    "dedup_span_coverage",
    "rag_prep_pipeline",
    "gsod_reference_pipeline",
    # round-13 compositions
    "curation_decontaminate_multisuite",
    "curation_contamination_report",
    "curation_filter_decision_table",
]


@pytest.mark.parametrize("name", _COMPOSED_ENTRIES)
def test_composed_entry_analyzed_plan_bounded(spark, name):
    df = q(spark, name)
    stats = checks.assert_analyzed_plan_bounded(df)
    # healthy truncated compositions measure ~10-50 KB; the bound in the
    # helper (1 MiB) is the loud-failure line, this message records actuals
    assert stats["bytes"] > 0, stats


# ---------------------------------------------------------------------------
# The no-rider explode rule as a standing guard (round 14, VERDICT r13
# Missing #2): `select(size(arr_expr), explode(arr_expr))` re-evaluates
# the array build PER EXPLODED ROW (~18× ≈ mean shingles/doc, measured —
# SCALE.md round 13 "the per-exploded-row recompute"). The r13 fix
# shipped at the three carrying sites; this test makes a REVERT — or a
# NEW rider anywhere in the registry — fail at build time. Both plan
# stages are walked: analyzed catches the source-level rider, optimized
# catches a CollapseProject-style re-inline (ADVICE r13).
# ---------------------------------------------------------------------------

from ucr_bigdata_snowfallproject_spark.queries import REGISTRY as _FULL_REGISTRY


@pytest.mark.parametrize("name", sorted(_FULL_REGISTRY))
def test_registry_entry_has_no_explode_rider(spark, name):
    """Two standing per-entry plan guards in one planning pass: (a) the
    no-rider rule on analyzed AND optimized plans (round 13/14); (b) no
    CartesianProduct / BatchEvalPython anywhere in the physical plan —
    the anti-patterns the judge sweep previously re-checked by hand
    every round (round 14; bounded BroadcastNestedLoopJoins stay
    audited per-query, they are a different node name)."""
    df = q(spark, name)
    for mode in ("analyzed", "optimized"):
        assert checks.explode_rider_sites(df, plan=mode) == [], mode
    assert checks.physical_anti_pattern_nodes(df) == []


def test_explode_rider_guard_detects_the_rider_form(spark):
    """The guard itself, pinned on the three canonical shapes: the rider
    flags, the materialized `__arr` form passes, and the legitimate
    sibling-branch size-totals scan (decontaminate's two-scan design)
    passes — ancestry, not mere co-occurrence, is the trigger."""
    from ucr_bigdata_snowfallproject_spark.operators.dedup import shingles

    d = spark.createDataFrame([(1, "a b c d e f")], ["doc_id", "text"])
    rider = d.select(
        F.col("doc_id"),
        F.size(shingles("text", 4)).alias("n"),
        F.explode(shingles("text", 4)).alias("g"),
    )
    sites = checks.explode_rider_sites(rider)
    assert len(sites) == 1 and sites[0]["generator"] == "explode"
    with pytest.raises(AssertionError, match="no-rider"):
        checks.assert_no_explode_rider(rider)

    fixed = d.withColumn("__arr", shingles("text", 4)).select(
        "doc_id", F.size("__arr").alias("n"), F.explode("__arr").alias("g")
    )
    assert checks.explode_rider_sites(fixed) == []
    assert checks.explode_rider_sites(fixed, plan="optimized") == []

    tot = d.select("doc_id", F.size(shingles("text", 4)).alias("n"))
    hits = (
        d.select("doc_id", F.explode(shingles("text", 4)).alias("g"))
        .groupBy("doc_id")
        .count()
    )
    assert checks.explode_rider_sites(tot.join(hits, "doc_id")) == []


def test_physical_anti_pattern_guard_detects(spark):
    """The round-14 physical guard itself: a forced CartesianProduct
    (shuffle_replicate_nl cross join) and a row-at-a-time Python UDF
    (BatchEvalPython) both flag; the sanctioned Arrow surfaces
    (pandas_udf → ArrowEvalPython, mapInPandas) stay quiet."""
    from pyspark.sql.functions import pandas_udf, udf

    d1, d2 = spark.range(3), spark.range(3).withColumnRenamed("id", "id2")
    cart = d1.join(d2.hint("shuffle_replicate_nl"))
    assert checks.physical_anti_pattern_nodes(cart) == ["CartesianProduct"]

    rowudf = udf(lambda x: x + 1, "long")
    assert checks.physical_anti_pattern_nodes(
        d1.select(rowudf("id"))
    ) == ["BatchEvalPython"]

    plus1 = pandas_udf(lambda s: s + 1, "long")  # lambda: no string
    # annotations (the file's __future__ import would break hint parsing)
    assert checks.physical_anti_pattern_nodes(d1.select(plus1("id"))) == []
    assert checks.physical_anti_pattern_nodes(
        d1.mapInPandas(lambda it: it, schema="id long")
    ) == []


def test_gopher_and_c4_zero_shuffle(spark):
    """Round-13 heuristic filters are scan-shaped BY CONTRACT: the Gopher
    rule battery and C4 line cleaning are doc-local column/array-lambda
    expressions — their plans must contain NO exchange at all (the naive
    line/token explode→groupBy alternatives would shuffle one row per
    line/token of the corpus)."""
    from ucr_bigdata_snowfallproject_spark.operators.text import (
        c4_line_filter,
        gopher_rules,
    )

    d = load_table(spark, SF_SMOKE, "documents")
    g = gopher_rules(d, "doc_id", "text", min_words=40)
    assert checks.shuffle_count(g) == 0
    assert g.count() == d.count()
    c = c4_line_filter(d, "doc_id", "text")
    assert checks.shuffle_count(c) == 0
    assert c.count() == d.count()


def test_canary_scan_broadcast_nlj_no_corpus_shuffle(spark):
    """canary_scan: the pattern side must broadcast into a nested-loop
    contains join — the corpus never shuffles (probe misses die in the
    scan stage), and there is no cartesian product (the join carries the
    contains condition)."""
    from ucr_bigdata_snowfallproject_spark.operators.curation import canary_scan

    d = load_table(spark, SF_SMOKE, "documents")
    pats = d.filter(F.col("doc_id") % 97 == 0).select(
        F.col("doc_id").alias("pat_id"),
        F.concat_ws(" ", F.slice(F.split(F.col("text"), " "), 4, 3)).alias(
            "pattern"
        ),
    )
    out = canary_scan(d, "doc_id", "text", pats)
    text = checks.explain_str(out)
    assert "BroadcastNestedLoopJoin" in text
    assert "CartesianProduct" not in text
    assert "Exchange hashpartitioning" not in text


def test_decontaminate_multi_single_corpus_scan(spark):
    """decontaminate_multi's whole point: ONE corpus shingle
    scan/explode serves every suite — k suites may not multiply the
    explode. The plan holds exactly THREE parquet scan nodes: the
    exploded corpus side, the eval side, and the separate per-doc
    ``size(shingles)`` totals scan (the round-13 per-exploded-row
    recompute fix — SCALE.md: a rider ``size(arr)`` next to
    ``explode(arr)`` re-evaluates the array build per exploded row, so
    the totals live in their own cheap scan joined on the id)."""
    from ucr_bigdata_snowfallproject_spark.operators.curation import (
        decontaminate_multi,
    )

    d = load_table(spark, SF_SMOKE, "documents")
    out = decontaminate_multi(
        d.filter(F.col("doc_id") % 17 != 0),
        d.filter(F.col("doc_id") % 17 == 0).select("source", "text"),
        "doc_id", "text", "source", n=4,
    )
    text = checks.explain_str(out)
    assert "BroadcastHashJoin" in text
    # each node prints once in the tree and once in the detail section
    import re

    assert len(set(re.findall(r"\((\d+)\) Scan parquet", text))) == 3


def test_streaming_shingle_projection_materializes_array_once(spark):
    """Round-13 recompute fix, pinned structurally: both streaming
    contamination faces must build the shingle array in a dedicated
    Project (`__arr`) and size/explode the COLUMN — the one-projection
    rider form (`select(size(arr_expr), explode(arr_expr))`)
    re-evaluates the array build per exploded row (~18× measured;
    SCALE.md 'per-exploded-row recompute'). The ops run unchanged on
    batch frames, so the pin reads the batch plan: reverting to the
    rider removes the `__arr` attribute from the analyzed plan."""
    from ucr_bigdata_snowfallproject_spark.operators.dedup import shingles
    from ucr_bigdata_snowfallproject_spark.streaming.documents import (
        stream_contamination_flags,
        stream_multisuite_contamination_flags,
    )

    d = load_table(spark, SF_SMOKE, "documents")
    ev = d.filter(F.col("doc_id") % 17 == 0)
    ev_sh = ev.select(F.explode(shingles("text", 4)).alias("__g")).distinct()
    ev_suite = ev.select(
        F.col("source").alias("suite"),
        F.explode(shingles("text", 4)).alias("__g"),
    ).distinct()
    train = d.filter(F.col("doc_id") % 17 != 0)
    for out in (
        stream_contamination_flags(train, ev_sh, n=4),
        stream_multisuite_contamination_flags(train, ev_suite, n=4),
    ):
        analyzed = out._jdf.queryExecution().analyzed().toString()
        assert "__arr" in analyzed, "rider form regressed: no __arr Project"
        # ADVICE r13: the source-level pin above can't see an
        # OPTIMIZER-level re-inline (CollapseProject-style) restoring
        # the per-exploded-row recompute — the structural guard walks
        # both plans' Generate ancestry for the identical array subtree
        for mode in ("analyzed", "optimized"):
            assert checks.explode_rider_sites(out, plan=mode) == [], mode
