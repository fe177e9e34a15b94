"""Extension-operator semantics the DuckDB oracle can't check (SURVEY §5):
recall of approximate paths pinned against their exact twins, as-of
tolerance, sessionization gap edges, multimodal batch shapes."""

from __future__ import annotations

import datetime

from pyspark.sql import functions as F

from ucr_bigdata_snowfallproject_spark.io import load_table
from ucr_bigdata_snowfallproject_spark.operators import asof as asof_ops
from ucr_bigdata_snowfallproject_spark.operators import curation as curation_ops
from ucr_bigdata_snowfallproject_spark.operators import dedup as dedup_ops
from ucr_bigdata_snowfallproject_spark.operators import multimodal
from ucr_bigdata_snowfallproject_spark.operators import similarity as sim_ops
from ucr_bigdata_snowfallproject_spark.operators.windows import sessionize

from conftest import SF_SMOKE


def _topk_sets(df, qcol="q_id", icol="vec_id"):
    rows = df.select(qcol, icol).collect()
    out: dict = {}
    for r in rows:
        out.setdefault(r[qcol], set()).add(r[icol])
    return out


def test_lsh_recall_vs_brute_force(spark):
    e = load_table(spark, SF_SMOKE, "embeddings")
    q = e.filter(F.col("vec_id") < 10).select(F.col("vec_id").alias("q_id"), "embedding")
    exact = _topk_sets(sim_ops.brute_force_topk(e, q, k=10))
    approx = _topk_sets(sim_ops.lsh_topk(e, q, dim=64, k=10, tables=8))
    # a query vector collides with itself in every table → always retrieved
    assert all(k in approx[k] for k in exact)
    recalls = [len(exact[k] & approx.get(k, set())) / len(exact[k]) for k in exact]
    # uniform-random fixture = worst case for LSH (neighbors barely closer
    # than noise); seeded hyperplanes make the observed 0.19 deterministic
    assert sum(recalls) / len(recalls) >= 0.15


def test_ivf_recall_vs_brute_force(spark):
    e = load_table(spark, SF_SMOKE, "embeddings")
    q = e.filter(F.col("vec_id") < 10).select(F.col("vec_id").alias("q_id"), "embedding")
    exact = _topk_sets(sim_ops.brute_force_topk(e, q, k=10))
    approx = _topk_sets(sim_ops.ivf_topk(e, q, k=10, n_centroids=16, n_probe=4))
    recalls = [len(exact[k] & approx.get(k, set())) / len(exact[k]) for k in exact]
    # probing 4/16 cells of a seeded quantizer must beat the 25% cell fraction
    assert sum(recalls) / len(recalls) >= 0.4
    # every query vector is its own exact nearest neighbor and must be found
    assert all(k in approx[k] for k in exact)


def test_int8_rerank_recall_vs_brute_force(spark):
    """SQ8 coarse scan + exact rerank: quantization error is ≤ scale/2 per
    component (≤0.4% of max|x|), so the coarse top-k·4 candidate set
    almost never drops a true top-10 neighbor — recall must be near
    exact, far above the bucket-probing LSH/IVF floors."""
    e = load_table(spark, SF_SMOKE, "embeddings")
    q = e.filter(F.col("vec_id") < 10).select(F.col("vec_id").alias("q_id"), "embedding")
    exact = _topk_sets(sim_ops.brute_force_topk(e, q, k=10))
    approx = _topk_sets(sim_ops.int8_rerank_topk(e, q, k=10, refine=4))
    # a query's own vector quantizes to the identical codes → coarse sim 1
    assert all(k in approx[k] for k in exact)
    recalls = [len(exact[k] & approx.get(k, set())) / len(exact[k]) for k in exact]
    assert sum(recalls) / len(recalls) >= 0.9, recalls


def test_ann_recall_at_sf01(spark):
    """VERDICT r02 #6: recall@10 pinned at sf0.1 (2000 vecs), not just the
    500-vec fixture — a 4× larger corpus dilutes buckets/cells, so this
    guards the knob defaults at the bench scale. Everything is seeded
    (hyperplanes by table index, IVF quantizer sample), so the observed
    recalls are deterministic."""
    import os

    sf_bench = os.path.join(os.path.dirname(SF_SMOKE), "sf0.1")
    e = load_table(spark, sf_bench, "embeddings")
    q = e.filter(F.col("vec_id") < 10).select(F.col("vec_id").alias("q_id"), "embedding")
    exact = _topk_sets(sim_ops.brute_force_topk(e, q, k=10))

    lsh = _topk_sets(sim_ops.lsh_topk(e, q, dim=64, k=10, tables=8))
    assert all(k in lsh[k] for k in exact)
    lsh_recall = sum(
        len(exact[k] & lsh.get(k, set())) / len(exact[k]) for k in exact
    ) / len(exact)
    # same thresholds as the fixture-scale pins (uniform-random worst
    # case); measured 0.28 (LSH) / 0.58 (IVF) at sf0.1 with these knobs
    assert lsh_recall >= 0.15, lsh_recall

    ivf = _topk_sets(sim_ops.ivf_topk(e, q, k=10, n_centroids=16, n_probe=4))
    assert all(k in ivf[k] for k in exact)
    ivf_recall = sum(
        len(exact[k] & ivf.get(k, set())) / len(exact[k]) for k in exact
    ) / len(exact)
    assert ivf_recall >= 0.4, ivf_recall


def test_cluster_assign_deterministic_and_conserving(spark):
    """Seeded k-means assignment: same seed → identical (id, cluster) map
    across runs; every vector lands in exactly one cluster (sizes sum to
    the corpus count); a fixed external codebook bypasses training."""
    e = load_table(spark, SF_SMOKE, "embeddings")
    a = {r.vec_id: r.cluster for r in sim_ops.cluster_assign(e, seed=7).collect()}
    b = {r.vec_id: r.cluster for r in sim_ops.cluster_assign(e, seed=7).collect()}
    assert a == b and len(a) == e.count()
    sizes = sim_ops.cluster_sizes(e, seed=7).collect()
    assert sum(r.n_members for r in sizes) == e.count()
    assert all(r.n_members > 0 for r in sizes)
    # external codebook: two orthogonal-ish unit centroids, assignment
    # must follow the nearer one
    import numpy as np

    rows = e.select("vec_id", "embedding").collect()
    c0 = [1.0] + [0.0] * 63
    c1 = [0.0] * 63 + [1.0]
    got = {
        r.vec_id: r.cluster
        for r in sim_ops.cluster_assign(e, centroids=[c0, c1]).collect()
    }
    for r in rows[:50]:
        v = np.asarray(r.embedding, dtype="float64")
        d0 = ((v - np.asarray(c0)) ** 2).sum()
        d1 = ((v - np.asarray(c1)) ** 2).sum()
        expect = 0 if d0 < d1 else 1 if d1 < d0 else got[r.vec_id]
        assert got[r.vec_id] == expect


def test_minhash_finds_near_dups(spark):
    d = load_table(spark, SF_SMOKE, "documents")
    # ground truth: pairs with exact trigram Jaccard >= 0.8 (the fixture's
    # near-dups; it has no byte-identical dups at this SF)
    sh = d.select("doc_id", dedup_ops.shingles("text", 3).alias("sh"))
    a = sh.select(F.col("doc_id").alias("id_a"), F.col("sh").alias("sh_a"))
    b = sh.select(F.col("doc_id").alias("id_b"), F.col("sh").alias("sh_b"))
    j = F.size(F.array_intersect("sh_a", "sh_b")) / F.size(F.array_union("sh_a", "sh_b"))
    truth = {
        (r.id_a, r.id_b)
        for r in a.join(F.broadcast(b), F.col("id_a") < F.col("id_b"))
        .withColumn("j", j).filter("j >= 0.8").collect()
    }
    assert truth, "fixture should contain near-dups"
    cand = dedup_ops.minhash_candidates(d, "doc_id", "text")
    found = {(r.id_a, r.id_b) for r in cand.filter(F.col("jaccard_est") >= 0.5).collect()}
    # at j>=0.8, P(some band of 16 matches) ≈ 1 — every true pair surfaces
    assert truth <= found


def test_minhash_dedup_drops_only_losers(spark):
    d = load_table(spark, SF_SMOKE, "documents")
    kept = dedup_ops.minhash_dedup(d, "doc_id", "text", threshold=0.9)
    assert 0 < kept.count() < d.count()


def test_dup_components_labels_min_id(spark):
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22), (22, 23)], "id_a long, id_b long"
    )
    labels = {r.id: r.comp for r in dedup_ops.dup_components(pairs).collect()}
    assert labels == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 20: 20, 21: 20, 22: 20, 23: 20}


def _union_find_labels(edges):
    """Driver-side ground truth: min-id component label per node."""
    parent: dict = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


def test_cc_star_matches_label_prop_on_random_graphs(spark):
    """The seeded random graphs the removed star variant was checked on:
    label propagation at the default round budget gives the same
    components as at a generous one, and both equal a driver-side
    union-find."""
    import random

    for seed in (7, 42, 99):
        rng = random.Random(seed)
        n = 60
        edges = sorted(
            {
                tuple(sorted((rng.randrange(n), rng.randrange(n * 2))))
                for _ in range(70)
            }
        )
        edges = [(a, b) for a, b in edges if a != b]
        truth = _union_find_labels(edges)
        pairs = spark.createDataFrame(edges, "id_a long, id_b long")
        wide = {
            r.id: r.comp
            for r in dedup_ops.dup_components(pairs, max_iter=100).collect()
        }
        default = {r.id: r.comp for r in dedup_ops.dup_components(pairs).collect()}
        assert wide == truth, f"seed {seed}: max_iter=100 diverged"
        assert default == truth, f"seed {seed}: default max_iter diverged"


def test_dup_components_converges_in_log_rounds_on_chain(spark):
    """The label links make depth cost O(log d) rounds: a sorted 100-node
    chain, which needs 99 one-hop rounds without them, settles in 12
    (11 changing rounds plus the confirm round), inside the default
    max_iter. Pin the round count so a regression back to linear
    convergence fails loudly."""
    n = 100
    edges = [(i, i + 1) for i in range(n - 1)]
    pairs = spark.createDataFrame(edges, "id_a long, id_b long")
    labels, rounds = dedup_ops._cc_labels(pairs, 20, "local")
    assert {r.id: r.comp for r in labels.collect()} == {i: 0 for i in range(n)}
    assert rounds == 12, f"{rounds} rounds on a {n}-chain"


def test_dup_components_label_raises_on_nonconvergence(spark):
    """A graph that needs more than max_iter changing rounds used to come
    back with silently WRONG labels, and wrong components poison every
    downstream survivor/drop decision. The operator must fail loudly
    instead: a 101-node chain at max_iter=2 raises."""
    import pytest

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(100)], "id_a long, id_b long"
    )
    with pytest.raises(ValueError, match="did not converge.*raise max_iter"):
        dedup_ops.dup_components(pairs, max_iter=2)
    # the exact boundary must CONVERGE, not raise: a 6-node chain needs 4
    # changing rounds, so max_iter=4 converges (plus the one confirm
    # round the loop allows) and max_iter=3 raises
    bpairs = spark.createDataFrame(
        [(i, i + 1) for i in range(5)], "id_a long, id_b long"
    )
    boundary = {
        r.id: r.comp
        for r in dedup_ops.dup_components(bpairs, max_iter=4).collect()
    }
    assert boundary == {i: 0 for i in range(6)}
    with pytest.raises(ValueError, match="did not converge"):
        dedup_ops.dup_components(bpairs, max_iter=3)
    # and the degenerate budget fails loudly instead of returning
    # identity labels silently
    with pytest.raises(ValueError, match="max_iter must be >= 1"):
        dedup_ops.dup_components(bpairs, max_iter=0)


def test_dup_components_null_ids_join_no_component(spark):
    """A NULL endpoint comes back as (NULL, NULL) and never bridges two
    components: (4, NULL) and (NULL, 3) leave 3 and 4 apart."""
    pairs = spark.createDataFrame(
        [(1, 2), (None, 3), (4, None), (5, 5)], "id_a long, id_b long"
    )
    want = {(1, 1), (2, 1), (3, 3), (4, 4), (5, 5), (None, None)}
    got = [(r.id, r.comp) for r in dedup_ops.dup_components(pairs).collect()]
    assert len(got) == len(want) and set(got) == want


def test_dup_components_leaves_session_usable_for_mllib(spark):
    """The convergence counts must not leave the session unable to
    serialize: an MLlib LogisticRegressionModel carries the session in its
    training summary, so scoring with it after dup_components has to keep
    working."""
    from pyspark.ml.classification import LogisticRegression
    from pyspark.ml.linalg import Vectors

    pairs = spark.createDataFrame([(1, 2), (2, 3)], "id_a long, id_b long")
    assert dedup_ops.dup_components(pairs).count() == 3
    train = spark.createDataFrame(
        [(Vectors.dense([float(i)]), float(i % 2)) for i in range(20)],
        ["features", "label"],
    )
    model = LogisticRegression(maxIter=3).fit(train)
    assert model.transform(train).select("probability").count() == 20


def test_dup_components_rejects_modes_without_an_action(spark):
    """The convergence counts are observed on the materialising action,
    so modes that run none are refused up front, naming the accepted
    ones."""
    import pytest

    pairs = spark.createDataFrame([(1, 2)], "id_a long, id_b long")
    for mode in ("none", "persist"):
        with pytest.raises(ValueError, match="'local'.*'table'"):
            dedup_ops.dup_components(pairs, checkpoint_mode=mode)


def _jobs_in_group(spark, group, fn):
    """Run ``fn()`` under a fresh job group; return (result, job count)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_dup_components_label_one_action_per_round(spark):
    """Each label-propagation round is one exchange plus one materialising
    action, with the convergence counts observed on that action: at most
    two jobs per round, the state build included. A 6-chain plus 50
    disjoint 2-cliques needs the build, 3 lowering rounds and a confirm
    round."""
    edges = [(i, i + 1) for i in range(5)] + [
        (100 + 2 * i, 101 + 2 * i) for i in range(50)
    ]
    pairs = spark.createDataFrame(edges, "id_a long, id_b long").localCheckpoint(
        eager=True
    )
    labels, jobs = _jobs_in_group(
        spark, "dup-components-jobs", lambda: dedup_ops.dup_components(pairs)
    )
    rounds = 5
    assert jobs <= 2 * rounds, f"{jobs} jobs for {rounds} rounds"
    assert {(r.id, r.comp) for r in labels.collect()} == {
        (a, b) for a, b in _union_find_labels(edges).items()
    }


def test_dup_components_matches_union_find_under_every_mode(spark):
    """Label propagation equals a driver-side union-find under the
    materialisation modes it accepts, at the default max_iter: seeded
    random graphs, a hub with 2,000 leaves, duplicate pairs in both
    orientations, and a sorted and a seeded-permuted 100-node chain."""
    import random

    graphs = []
    for seed in (3, 17):
        rng = random.Random(seed)
        graphs.append(
            [(rng.randrange(100), rng.randrange(200)) for _ in range(50)]
        )
    graphs.append([(i, i + 1) for i in range(99)])
    ids = list(range(100))
    random.Random(5).shuffle(ids)
    graphs.append([(ids[i], ids[i + 1]) for i in range(99)])
    graphs.append([(7, 10_000 + i) for i in range(2000)])
    graphs.append([(1, 2), (2, 1), (1, 2), (3, 2), (2, 3), (9, 8), (8, 9), (9, 9)])
    # one disjoint union (ids offset per graph): one call per mode
    edges = [
        (a + 100_000 * g, b + 100_000 * g)
        for g, es in enumerate(graphs)
        for a, b in es
    ]
    truth = _union_find_labels(edges)
    pairs = spark.createDataFrame(edges, "id_a long, id_b long")
    for mode in ("local", "reliable", "table"):
        got = [
            (r.id, r.comp)
            for r in dedup_ops.dup_components(pairs, checkpoint_mode=mode).collect()
        ]
        assert len(got) == len(truth), mode
        assert dict(got) == truth, mode


def test_group_quantiles_approx_tracks_exact(spark):
    """The percentile_approx (mergeable-sketch) switch of group_quantiles
    must track the exact interpolated form within sketch tolerance at high
    accuracy — the same exact/approx contract group_median carries."""
    from ucr_bigdata_snowfallproject_spark.operators.aggregates import group_quantiles

    l = load_table(spark, SF_SMOKE, "lineitem")
    exact = {
        r.l_returnflag: (r.q25, r.q50, r.q75)
        for r in group_quantiles(l, ["l_returnflag"], "l_quantity").collect()
    }
    approx = {
        r.l_returnflag: (r.q25, r.q50, r.q75)
        for r in group_quantiles(
            l, ["l_returnflag"], "l_quantity", approx=True
        ).collect()
    }
    assert exact.keys() == approx.keys()
    for k in exact:
        for e, a in zip(exact[k], approx[k]):
            # l_quantity is integer-valued 1..50; the sketch at accuracy
            # 10000 must land within one neighboring value
            assert abs(e - a) <= 1.0, (k, exact[k], approx[k])


def test_tfidf_persist_path_matches_default(spark):
    """persist_tf=True (the single-corpus-scan scale path) must return the
    identical top-k table as the recompute plan, and the cached TF frame
    must actually be reused (InMemoryTableScan in the executed plan)."""
    from ucr_bigdata_snowfallproject_spark.operators.text import tfidf_top_terms

    d = load_table(spark, SF_SMOKE, "documents")
    base = tfidf_top_terms(d, "doc_id", "text", k=3)
    cached = tfidf_top_terms(d, "doc_id", "text", k=3, persist_tf=True)
    rows = lambda df: sorted(map(tuple, df.collect()))
    try:
        assert "InMemoryTableScan" in cached._jdf.queryExecution().executedPlan().toString()
        assert rows(base) == rows(cached)
    finally:
        spark.catalog.clearCache()


def test_length_band_filter_approx_vs_exact(spark):
    """The percentile_approx (scale) path of length_band_filter must agree
    with the exact rank form up to boundary ties: every exactly-kept row is
    approx-kept, and any extra approx-kept rows sit exactly on the band's
    boundary values (value-threshold semantics can't split a tie group;
    rank semantics can)."""
    from ucr_bigdata_snowfallproject_spark.operators.text import length_band_filter

    d = load_table(spark, SF_SMOKE, "documents").select("doc_id", "n_chars")
    exact = length_band_filter(d, "n_chars", "doc_id")
    approx = length_band_filter(d, "n_chars", "doc_id", approx=True)
    e = {(r.doc_id, r.n_chars) for r in exact.collect()}
    a = {(r.doc_id, r.n_chars) for r in approx.collect()}
    assert e <= a
    lo = min(v for _, v in e)
    hi = max(v for _, v in e)
    assert all(v in (lo, hi) for _, v in a - e), sorted(a - e)[:5]


def test_asof_tolerance_nulls_stale_matches(spark):
    t0 = datetime.datetime(2024, 1, 1)
    left = spark.createDataFrame(
        [(1, t0 + datetime.timedelta(seconds=100)), (2, t0 + datetime.timedelta(seconds=5000))],
        "id long, ts timestamp",
    )
    right = spark.createDataFrame([(t0, 7.0)], "ts timestamp, v double")
    out = asof_ops.asof_join(
        left, right, keys=[], left_ts="ts", right_ts="ts", right_values=["v"],
        tolerance="3600",
    )
    got = {r.id: r.v for r in out.collect()}
    assert got == {1: 7.0, 2: None}  # 5000s-old match exceeds the 3600s tolerance


def test_sessionize_gap_boundary(spark):
    t0 = datetime.datetime(2024, 1, 1)
    rows = [
        (1, t0),
        (1, t0 + datetime.timedelta(seconds=3600)),       # == gap → same session
        (1, t0 + datetime.timedelta(seconds=7201)),       # > gap → new session
        (2, t0),
    ]
    df = spark.createDataFrame(rows, "user long, ts timestamp")
    out = {(r.user, r.ts): r.session_id for r in sessionize(df, ["user"], "ts", 3600).collect()}
    assert out[(1, rows[0][1])] == 1
    assert out[(1, rows[1][1])] == 1
    assert out[(1, rows[2][1])] == 2
    assert out[(2, t0)] == 1


def test_multimodal_feature_extraction_schema_and_determinism(spark):
    media = multimodal.synthesize_media(spark, n=32)
    feats = multimodal.extract_features(media)
    assert [f.name for f in feats.schema.fields] == [
        "media_id", "kind", "n_bytes", "width", "height", "checksum",
    ]
    a = {r.media_id: r.checksum for r in feats.collect()}
    b = {r.media_id: r.checksum for r in multimodal.extract_features(media).collect()}
    assert a == b and len(a) == 32


def test_multimodal_frame_sample_offsets(spark):
    media = multimodal.synthesize_media(spark, n=9)
    frames = multimodal.frame_sample(media, every_n_bytes=32).collect()
    assert frames and all(r.offset % 32 == 0 for r in frames)
    assert all(r.frame_no == r.offset // 32 for r in frames)


def test_language_id_on_real_snippets(spark):
    """X4 language-ID sanity on genuinely per-language text. (The driver
    documents fixture's `lang` labels are decorative — every doc shares one
    synthetic English-ish vocabulary — so accuracy is pinned here on real
    snippets instead.)"""
    from ucr_bigdata_snowfallproject_spark.operators.text import detect_language

    rows = [
        ("en", "the cat sat on a mat and it is happy to be in the sun"),
        ("es", "el perro corre en la calle y es un animal que vive en la casa"),
        ("fr", "le chien est dans la maison et il y a un chat que je vois"),
        ("de", "der hund ist in das haus und die katze ist ein tier zu sehen"),
        ("und", "xyzzy plugh quux foobar bazqux"),
    ]
    df = spark.createDataFrame(rows, "lang string, text string")
    got = {r.lang: r.pred for r in df.select("lang", detect_language("text").alias("pred")).collect()}
    assert got == {k: k for k, _ in rows}


def test_streaming_percentiles_match_batch(spark, tmp_path):
    """Streaming windowed percentile sketch == batch percentile_approx per
    closed window (same accuracy parameter → same sketch result)."""
    from pyspark.sql import functions as F2
    from ucr_bigdata_snowfallproject_spark.io import load_table as lt
    from ucr_bigdata_snowfallproject_spark.streaming.events import (
        read_event_stream, run_to_memory_sink, windowed_percentiles,
    )

    out = str(tmp_path / "events")
    lt(spark, SF_SMOKE, "events").repartition(2).write.parquet(out)
    stream = read_event_stream(spark, out)
    got = run_to_memory_sink(
        windowed_percentiles(stream, window="6 hours", watermark="1 second"),
        "pct_stream",
    ).toPandas()

    batch = (
        spark.read.parquet(out)
        .groupBy(F2.window("ts", "6 hours").alias("w"), "event_type")
        .agg(F2.percentile_approx("value", 0.5, 10000).alias("median_value"),
             F2.count(F2.lit(1)).alias("n_events"))
        .select(F2.col("w.start").alias("window_start"), "event_type",
                "median_value", "n_events")
        .toPandas()
    )
    # append mode: compare only windows the final watermark closed
    closed_starts = set(got["window_start"])
    b = batch[batch["window_start"].isin(closed_starts)]
    key = ["window_start", "event_type"]
    g = got.sort_values(key).reset_index(drop=True)
    b = b.sort_values(key).reset_index(drop=True)
    assert len(g) == len(b) and len(g) > 0
    assert (g["median_value"].round(6) == b["median_value"].round(6)).all()
    assert (g["n_events"] == b["n_events"]).all()


def test_simhash_finds_near_dups(spark):
    """X2 SimHash vs the Jaccard truth: the 8-bit banding GUARANTEES every
    pair at Hamming <=7 is surfaced; overall recall vs trigram-Jaccard>=0.8
    truth is high but by design not 1.0 (SimHash ranks bit distance, not
    Jaccard — a couple of fixture pairs land at Hamming 9)."""
    d = load_table(spark, SF_SMOKE, "documents")
    truth_df = dedup_ops.ngram_jaccard_all_pairs(d, "doc_id", "text", min_jaccard=0.8)
    sigs = {r.doc_id: r.sh for r in d.select("doc_id", dedup_ops.simhash("text").alias("sh")).collect()}
    truth = {(r.id_a, r.id_b) for r in truth_df.collect()}
    assert truth
    cand = dedup_ops.simhash_candidates(d, "doc_id", "text")
    found = {(r.id_a, r.id_b) for r in cand.collect()}
    hamming = lambda p: bin(sigs[p[0]] ^ sigs[p[1]]).count("1")
    # pigeonhole guarantee: every truth pair within the banding bound
    assert {p for p in truth if hamming(p) <= 7} <= found
    # overall recall against the (different-measure) Jaccard truth
    recall = len(truth & found) / len(truth)
    assert recall >= 0.85, recall
    # and the cap keeps the candidate set near-dup-sized, not quadratic
    assert len(found) < 2000


def test_simhash_udf_matches_expr(spark):
    """The Arrow-vectorized simhash fold is bit-identical to the pure
    expression form (the semantics contract) on real fixture text."""
    d = load_table(spark, SF_SMOKE, "documents").limit(200)
    rows = d.select(
        "doc_id",
        dedup_ops.simhash("text").alias("udf_sig"),
        dedup_ops.simhash_expr("text").alias("expr_sig"),
    ).collect()
    assert rows and all(r.udf_sig == r.expr_sig for r in rows)


def test_minhash_signature_forms_agree(spark):
    """The Arrow per-row signature fold is bit-identical to the
    explode+min-agg formulation (same token hashes, same rolling n-gram
    combine, same affine-permutation (a_i·h + b_i) mod p family) — in
    BOTH base-hash modes (crc32 fast path, md5 portable path)."""
    d = load_table(spark, SF_SMOKE, "documents").limit(200)
    for mode in ("crc32", "md5"):
        agg = {r["__id"]: list(r["__sig"])
               for r in dedup_ops.minhash_signatures_agg(
                   d, "doc_id", "text", hash=mode).collect()}
        arrow = {r["__id"]: list(r["__sig"])
                 for r in dedup_ops.minhash_signatures_arrow(
                     d, "doc_id", "text", hash=mode).collect()}
        assert agg == arrow and len(agg) == 200, mode


def test_minhash_md5_mode_same_lsh_behavior(spark):
    """The md5 portable mode is the SAME LSH algorithm under a different
    base-hash family: exact-duplicate texts are certain candidates with
    estimate 1.0 in both modes, and the candidate sets over the fixture
    overlap heavily (different uniform hash families sample different
    band collisions at the margin, but the high-similarity core is hash-
    family-invariant)."""
    d = load_table(spark, SF_SMOKE, "documents").limit(200)
    dup = d.limit(5).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"), "text"
    )
    docs = d.select("doc_id", "text").unionByName(dup)
    by_mode = {}
    for mode in ("crc32", "md5"):
        cand = dedup_ops.minhash_candidates(
            docs, "doc_id", "text", hash=mode
        ).collect()
        pairs = {(r.id_a, r.id_b): r.jaccard_est for r in cand}
        # every planted exact dup is a candidate at estimate exactly 1.0
        for r in dup.select("doc_id").collect():
            orig = r.doc_id - 1_000_000
            assert pairs.get((orig, r.doc_id)) == 1.0, (mode, orig)
        by_mode[mode] = {k for k, v in pairs.items() if v >= 0.8}
    # the >= 0.8 cores agree across hash families
    assert by_mode["crc32"] == by_mode["md5"]


def test_minhash_max_bucket_caps_degenerate_corpus(spark):
    """1k identical docs share every band bucket — uncapped that's
    16·C(1000,2) ≈ 8M candidate pairs on ONE reducer. The cap degrades
    oversized buckets to a star join: O(n) pairs, every member still
    connected to the representative, jaccard_est still 1.0."""
    docs = spark.createDataFrame(
        [(i, "the same exact document text repeated for every row") for i in range(1000)],
        "doc_id long, text string",
    )
    cand = dedup_ops.minhash_candidates(docs, "doc_id", "text", max_bucket=64)
    rows = cand.collect()
    assert len(rows) == 999, len(rows)  # star: (min_id, other) once each
    assert all(r.id_a == 0 and r.jaccard_est == 1.0 for r in rows)
    # near-dedup over the capped candidates still keeps exactly one survivor
    kept = dedup_ops.minhash_dedup(docs, "doc_id", "text", threshold=0.9, max_bucket=64)
    assert kept.count() == 1


def test_minhash_pair_strategies_identical(spark):
    """The grouped-array pair expansion (default, fewest stages) and the
    banded self-join (distributed fallback) produce identical candidate
    sets — on a healthy corpus AND on a degenerate one that trips the
    max_bucket star-pair cap."""
    d = load_table(spark, SF_SMOKE, "documents").limit(400)
    agg = sorted(map(tuple, dedup_ops.minhash_candidates(
        d, "doc_id", "text", pair_strategy="agg").collect()))
    join = sorted(map(tuple, dedup_ops.minhash_candidates(
        d, "doc_id", "text", pair_strategy="join").collect()))
    assert agg == join and agg
    degen = spark.createDataFrame(
        [(i, "all rows carry this identical text") for i in range(300)],
        "doc_id long, text string",
    )
    agg_d = sorted(map(tuple, dedup_ops.minhash_candidates(
        degen, "doc_id", "text", max_bucket=64, pair_strategy="agg").collect()))
    join_d = sorted(map(tuple, dedup_ops.minhash_candidates(
        degen, "doc_id", "text", max_bucket=64, pair_strategy="join").collect()))
    assert agg_d == join_d and len(agg_d) == 299


def _naive_substring_spans(docs: dict, W: int):
    """Reference: maximal runs of >=W consecutive equal tokens per doc
    pair per alignment diagonal — exactly the operator's contract."""
    spans = set()
    ids = sorted(docs)
    for ai in range(len(ids)):
        for bi in range(ai + 1, len(ids)):
            a, b = docs[ids[ai]], docs[ids[bi]]
            for d in range(-(len(b) - 1), len(a)):
                i = max(0, d)
                j = i - d
                run = 0
                while i <= len(a) and j <= len(b):
                    if i < len(a) and j < len(b) and a[i] == b[j]:
                        run += 1
                    else:
                        if run >= W:
                            spans.add(
                                (ids[ai], ids[bi], i - run + 1, j - run + 1, run)
                            )
                        run = 0
                    i += 1
                    j += 1
    return spans


def test_substring_spans_planted_quote_and_naive_reference(spark):
    """VERDICT r08 #5: exact substring-level dedup. A verbatim 20-token
    quote planted at different offsets in two otherwise-distinct docs is
    reported with its exact start positions and length; a seeded
    small-vocabulary corpus (dense with shared runs, including internal
    repetition) matches the naive maximal-run reference exactly; and a
    shared run one token SHORTER than min_tokens reports nothing."""
    import random

    quote = [f"q{i}" for i in range(20)]
    docs = {
        1: [f"a{i}" for i in range(7)] + quote + ["tail1"],
        2: [f"b{i}" for i in range(30)],
        5: quote + [f"c{i}" for i in range(12)],
    }
    df = spark.createDataFrame(
        [(k, " ".join(v)) for k, v in docs.items()], "doc_id long, text string"
    )
    got = {
        (r.doc_a, r.doc_b, r.start_a, r.start_b, r.span_tokens)
        for r in dedup_ops.substring_spans(df, "doc_id", "text", min_tokens=12).collect()
    }
    assert got == {(1, 5, 8, 1, 20)}  # 1-based positions, exact length

    # just-below-threshold: an 11-token shared run at min_tokens=12 is silent
    short = {1: ["x"] * 5 + quote[:11], 2: quote[:11] + ["y"] * 5}
    sdf = spark.createDataFrame(
        [(k, " ".join(v)) for k, v in short.items()], "doc_id long, text string"
    )
    assert dedup_ops.substring_spans(sdf, "doc_id", "text", min_tokens=12).count() == 0

    # seeded dense corpus vs the naive reference (tiny vocab => shared
    # runs everywhere, multiple diagonals, internal repetition)
    rng = random.Random(7)
    dense = {
        i: [rng.choice(("u", "v", "w")) for _ in range(28)] for i in range(6)
    }
    ddf = spark.createDataFrame(
        [(k, " ".join(v)) for k, v in dense.items()], "doc_id long, text string"
    )
    W = 5
    got_d = {
        (r.doc_a, r.doc_b, r.start_a, r.start_b, r.span_tokens)
        for r in dedup_ops.substring_spans(ddf, "doc_id", "text", min_tokens=W).collect()
    }
    assert got_d == _naive_substring_spans(dense, W) and got_d


def test_substring_spans_incremental_equals_filtered_rebuild(spark):
    """The span table's append==rebuild contract: probing a persisted
    anchor index with an arriving batch returns EXACTLY the full-corpus
    span table restricted to pairs touching the batch (new-vs-corpus +
    new-vs-new) — corpus text never re-read. Dense seeded corpus so
    batch-vs-batch duplicates from the two-sided probe are exercised,
    plus the hot-anchor cap parity."""
    import random

    rng = random.Random(3)
    docs = {i: [rng.choice(("u", "v", "w")) for _ in range(26)] for i in range(8)}
    full = spark.createDataFrame(
        [(k, " ".join(v)) for k, v in docs.items()], "doc_id long, text string"
    )
    batch_ids = {1, 4, 7}
    seen = full.filter(~F.col("doc_id").isin(*batch_ids))
    new = full.filter(F.col("doc_id").isin(*batch_ids))
    W = 5
    for cap in (None, 4):
        idx = dedup_ops.substring_anchor_index(seen, "doc_id", "text", W)
        got = {
            tuple(r)
            for r in dedup_ops.substring_spans_incremental(
                new, idx, "doc_id", "text", W, max_anchor_docs=cap
            ).collect()
        }
        want = {
            tuple(r)
            for r in dedup_ops.substring_spans(
                full, "doc_id", "text", W, max_anchor_docs=cap
            ).collect()
            if r.doc_a in batch_ids or r.doc_b in batch_ids
        }
        assert got == want and got, cap


def test_substring_spans_poly_mode_identical_to_md5(spark):
    """VERDICT r09 #2: the O(n) Karp–Rabin anchor mode computes EXACTLY
    the md5 mode's spans — planted quote, dense small-vocab corpus
    (multiple diagonals, internal repetition), several widths, plus
    the incremental append==rebuild contract in poly mode and the
    cross-mode probe refusals (metadata tag AND dtype backstop)."""
    import random

    import pytest as _pytest

    rng = random.Random(11)
    quote = [f"q{i}" for i in range(18)]
    docs = {
        1: [f"a{i}" for i in range(5)] + quote,
        2: quote + [f"b{i}" for i in range(9)],
        **{
            i: [rng.choice(("u", "v", "w")) for _ in range(26)]
            for i in range(3, 9)
        },
    }
    df = spark.createDataFrame(
        [(k, " ".join(v)) for k, v in docs.items()], "doc_id long, text string"
    )
    for W in (4, 7, 12):
        md5 = {
            tuple(r)
            for r in dedup_ops.substring_spans(
                df, "doc_id", "text", min_tokens=W
            ).collect()
        }
        poly = {
            tuple(r)
            for r in dedup_ops.substring_spans(
                df, "doc_id", "text", min_tokens=W, hash_mode="poly"
            ).collect()
        }
        assert poly == md5 and md5, W

    # incremental == rebuild-filtered, probing a POLY index
    batch_ids = {2, 5, 8}
    seen = df.filter(~F.col("doc_id").isin(*batch_ids))
    new = df.filter(F.col("doc_id").isin(*batch_ids))
    idx = dedup_ops.substring_anchor_index(
        seen, "doc_id", "text", 5, hash_mode="poly"
    )
    got = {
        tuple(r)
        for r in dedup_ops.substring_spans_incremental(
            new, idx, "doc_id", "text", 5, hash_mode="poly"
        ).collect()
    }
    want = {
        tuple(r)
        for r in dedup_ops.substring_spans(
            df, "doc_id", "text", 5, hash_mode="poly"
        ).collect()
        if r.doc_a in batch_ids or r.doc_b in batch_ids
    }
    assert got == want and got

    # per-doc coverage rides the same spans → identical signal
    cov_md5 = sorted(
        map(tuple, dedup_ops.span_coverage(df, "doc_id", "text", 5).collect())
    )
    cov_poly = sorted(
        map(
            tuple,
            dedup_ops.span_coverage(
                df, "doc_id", "text", 5, hash_mode="poly"
            ).collect(),
        )
    )
    assert cov_md5 == cov_poly

    # refusals: md5 probe against a poly index (metadata), and a
    # stripped-metadata index still refuses on the dtype backstop
    with _pytest.raises(ValueError, match="hash_mode"):
        dedup_ops.substring_spans_incremental(new, idx, "doc_id", "text", 5)
    stripped = idx.select(
        "__id", "__pos", F.col("__fp").cast("bigint").alias("__fp")
    )
    with _pytest.raises(ValueError, match="incompatible"):
        dedup_ops.substring_spans_incremental(
            new, stripped, "doc_id", "text", 5, hash_mode="md5"
        )
    # unknown mode refused loudly
    with _pytest.raises(ValueError, match="hash_mode"):
        dedup_ops.substring_anchor_index(
            df, "doc_id", "text", 5, hash_mode="sha1"
        )

    # the curation span pair rides the same fast path: poly ==
    # md5 for both the signal and the excised text
    from ucr_bigdata_snowfallproject_spark.operators import curation

    train, ev = df.filter("doc_id % 3 != 0"), df.filter("doc_id % 3 = 0")
    for op in (curation.decontaminate_spans, curation.excise_spans):
        a = sorted(map(tuple, op(train, ev, "doc_id", "text", 5).collect()))
        b = sorted(
            map(
                tuple,
                op(
                    train, ev, "doc_id", "text", 5, hash_mode="poly"
                ).collect(),
            )
        )
        assert a == b and a, op.__name__


def _naive_intra_doc_spans(docs: dict, W: int):
    """Reference: maximal runs of >=W consecutive equal tokens between a
    doc and ITSELF at a positive position offset — the cross-doc naive
    reference restricted to self-pairs, diagonals d < 0 only (pos_a <
    pos_b)."""
    spans = set()
    for did, a in docs.items():
        for d in range(1, len(a)):  # offset pos_b - pos_a
            run = 0
            for i in range(len(a) - d + 1):
                if i < len(a) - d and a[i] == a[i + d]:
                    run += 1
                else:
                    if run >= W:
                        spans.add((did, i - run + 1, i - run + 1 + d, run))
                    run = 0
    return spans


def test_intra_doc_spans_planted_repeat_and_naive_reference(spark):
    """Round 10: within-document repetition spans. A doc repeating its
    own 8-token paragraph reports exactly one maximal span with both
    1-based positions; a tandem repeat shorter than the window surfaces
    as one maximal run per diagonal; the seeded small-vocab corpus
    matches the naive self-alignment reference exactly; poly mode is
    identical; and the coverage signal matches a Python interval union
    over BOTH occurrences."""
    import random

    para = [f"p{i}" for i in range(8)]
    docs = {
        1: para + ["mid1", "mid2"] + para + ["tail"],
        2: [f"b{i}" for i in range(20)],                  # no repeats
        3: ["u", "v"] * 6,                                # tandem repeat
    }
    rng = random.Random(23)
    for i in range(4, 9):
        docs[i] = [rng.choice(("u", "v", "w")) for _ in range(24)]
    df = spark.createDataFrame(
        [(k, " ".join(v)) for k, v in docs.items()], "doc_id long, text string"
    )
    for W in (3, 5):
        got = {
            tuple(r)
            for r in dedup_ops.intra_doc_spans(
                df, "doc_id", "text", min_tokens=W
            ).collect()
        }
        assert got == _naive_intra_doc_spans(docs, W) and got, W
        poly = {
            tuple(r)
            for r in dedup_ops.intra_doc_spans(
                df, "doc_id", "text", min_tokens=W, hash_mode="poly"
            ).collect()
        }
        assert poly == got, W
    # the planted paragraph repeat is present with exact positions
    got5 = {
        tuple(r)
        for r in dedup_ops.intra_doc_spans(
            df, "doc_id", "text", min_tokens=5
        ).collect()
    }
    assert (1, 1, 11, 8) in got5

    # coverage == Python interval union over both occurrence sides
    W = 3
    cov = {
        r.doc_id: (r.n_tokens, r.rep_tokens, r.rep_frac)
        for r in dedup_ops.self_repetition_coverage(
            df, "doc_id", "text", min_tokens=W
        ).collect()
    }
    assert set(cov) == set(docs)
    for did, toks_ in docs.items():
        covered = set()
        for d2, sa, sb, ln in _naive_intra_doc_spans({did: toks_}, W):
            covered.update(range(sa, sa + ln))
            covered.update(range(sb, sb + ln))
        frac = round(len(covered) / len(toks_), 4)
        assert cov[did] == (len(toks_), len(covered), frac), did
    assert cov[2][1] == 0  # the no-repeat doc appears with zero coverage


def test_intra_doc_occurrence_cap_and_degenerate_short_circuit(spark):
    """VERDICT r10 #1: ``max_anchor_occurrences`` bounds the
    degenerate-doc O(L²) self-join. A doc of one token repeated L times
    makes every window fingerprint identical (L−W+1 occurrences of one
    (doc, fp)); with the cap it is dropped from the span report and
    SHORT-CIRCUITED to rep_frac = 1.0 by the coverage signal, while
    every under-cap doc stays bit-exact — and a cap above the corpus's
    max multiplicity is a no-op (capped == exact), in both hash modes
    and in the streaming twin."""
    para = " ".join(f"p{i}" for i in range(8))
    rows = [
        (1, f"{para} mid1 mid2 {para} tail"),   # paragraph repeat
        (2, " ".join(f"b{i}" for i in range(20))),  # no repeats
        (3, "u v " * 6),                        # tandem, fp multiplicity 5
        (4, "x " * 400),                        # DEGENERATE: 398 equal fps
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    W = 3
    for mode in ("md5", "poly"):
        exact_spans = {
            tuple(r)
            for r in dedup_ops.intra_doc_spans(
                df, "doc_id", "text", W, hash_mode=mode
            ).collect()
        }
        # cap above max multiplicity (398) == exact, span for span
        noop = {
            tuple(r)
            for r in dedup_ops.intra_doc_spans(
                df, "doc_id", "text", W, hash_mode=mode,
                max_anchor_occurrences=400,
            ).collect()
        }
        assert noop == exact_spans and any(r[0] == 4 for r in exact_spans)
        # cap=10: the degenerate doc's spans vanish; every other doc's
        # spans are untouched (all its multiplicities are <= 5)
        capped = {
            tuple(r)
            for r in dedup_ops.intra_doc_spans(
                df, "doc_id", "text", W, hash_mode=mode,
                max_anchor_occurrences=10,
            ).collect()
        }
        assert capped == {r for r in exact_spans if r[0] != 4}

        exact_cov = {
            r.doc_id: (r.n_tokens, r.rep_tokens, r.rep_frac)
            for r in dedup_ops.self_repetition_coverage(
                df, "doc_id", "text", W, hash_mode=mode
            ).collect()
        }
        cov = {
            r.doc_id: (r.n_tokens, r.rep_tokens, r.rep_frac)
            for r in dedup_ops.self_repetition_coverage(
                df, "doc_id", "text", W, hash_mode=mode,
                max_anchor_occurrences=10,
            ).collect()
        }
        # degenerate doc: honest degrade to all-repetition (exact mode
        # agrees here by construction: the whole doc IS one repeat)
        assert cov[4] == (400, 400, 1.0) and exact_cov[4] == cov[4]
        # everything else bit-exact vs the uncapped signal
        assert {k: v for k, v in cov.items() if k != 4} == {
            k: v for k, v in exact_cov.items() if k != 4
        }
        assert cov[2][1] == 0


def test_decontaminate_spans_matches_naive(spark):
    """Substring-level decontamination == naive cross-table maximal-run
    reference + Python interval union, on a fixture with a planted
    benchmark quote (partial overlap across two eval docs), a fully
    clean doc, and dense small-vocab docs exercising overlap merging."""
    import random

    from ucr_bigdata_snowfallproject_spark.operators import curation as cur

    rng = random.Random(5)
    quote = [f"q{i}" for i in range(14)]
    train = {
        1: [f"a{i}" for i in range(4)] + quote + ["tail"],
        2: [f"clean{i}" for i in range(25)],
        3: [rng.choice(("u", "v", "w")) for _ in range(24)],
        4: [rng.choice(("u", "v", "w")) for _ in range(24)],
    }
    evald = {
        100: quote[:13] + ["endx"],
        101: [rng.choice(("u", "v", "w")) for _ in range(24)],
    }
    tdf = spark.createDataFrame(
        [(k, " ".join(v)) for k, v in train.items()], "doc_id long, text string"
    )
    edf = spark.createDataFrame(
        [(k, " ".join(v)) for k, v in evald.items()], "doc_id long, text string"
    )
    W = 5
    got = {
        (r.doc_id, r.n_tokens, r.n_spans, r.max_span_tokens,
         r.contaminated_tokens, r.contamination, r.contaminated)
        for r in cur.decontaminate_spans(
            tdf, edf, "doc_id", "text", min_tokens=W
        ).collect()
    }
    # naive: maximal matching-token runs per (train, eval, diagonal)
    spans: dict = {k: [] for k in train}
    for tid, a in train.items():
        for eid, b in evald.items():
            for dgn in range(-(len(b) - 1), len(a)):
                i, j, run = max(0, dgn), max(0, dgn) - dgn, 0
                while i <= len(a) and j <= len(b):
                    if i < len(a) and j < len(b) and a[i] == b[j]:
                        run += 1
                    else:
                        if run >= W:
                            spans[tid].append((i - run + 1, run))
                        run = 0
                    i += 1
                    j += 1
    want = set()
    for tid, sp in spans.items():
        toks = set()
        for s, ln in sp:
            toks.update(range(s, s + ln))
        n = len(train[tid])
        want.add((
            tid, n, len(sp),  # one span row per (eval doc, diagonal, run)
            max((ln for _, ln in sp), default=0),
            len(toks), round(len(toks) / n, 4), len(toks) > 0,
        ))
    assert got == want
    one = {r for r in got if r[0] == 1}
    assert one == {(1, 19, 1, 13, 13, round(13 / 19, 4), True)}
    assert (2, 25, 0, 0, 0, 0.0, False) in got  # clean doc present


def test_excise_spans_matches_naive_token_cut(spark):
    """excise_spans == drop exactly the naive-covered token positions and
    reassemble in order: the planted-quote doc loses the quote verbatim
    (prefix+tail survive), the clean doc passes through byte-identical,
    a fully-contaminated doc empties, and the dense docs match the naive
    cut everywhere."""
    import random

    from ucr_bigdata_snowfallproject_spark.operators import curation as cur

    rng = random.Random(5)
    quote = [f"q{i}" for i in range(14)]
    train = {
        1: [f"a{i}" for i in range(4)] + quote + ["tail"],
        2: [f"clean{i}" for i in range(25)],
        3: [rng.choice(("u", "v", "w")) for _ in range(24)],
        5: list(quote),  # fully contaminated -> cleaned_text ''
    }
    evald = {100: list(quote), 101: [rng.choice(("u", "v", "w")) for _ in range(24)]}
    tdf = spark.createDataFrame(
        [(k, " ".join(v)) for k, v in train.items()], "doc_id long, text string"
    )
    edf = spark.createDataFrame(
        [(k, " ".join(v)) for k, v in evald.items()], "doc_id long, text string"
    )
    W = 5
    got = {
        r.doc_id: (r.n_tokens, r.kept_tokens, r.cleaned_text)
        for r in cur.excise_spans(tdf, edf, "doc_id", "text", min_tokens=W).collect()
    }
    # naive covered positions per train doc (cross-table maximal runs)
    for tid, a in train.items():
        cut = set()
        for b in evald.values():
            for dgn in range(-(len(b) - 1), len(a)):
                i, j, run = max(0, dgn), max(0, dgn) - dgn, 0
                while i <= len(a) and j <= len(b):
                    if i < len(a) and j < len(b) and a[i] == b[j]:
                        run += 1
                    else:
                        if run >= W:
                            cut.update(range(i - run, i))  # 0-based
                        run = 0
                    i += 1
                    j += 1
        kept = [w for p, w in enumerate(a) if p not in cut]
        assert got[tid] == (len(a), len(kept), " ".join(kept)), tid
    assert got[2][2] == " ".join(train[2])  # clean doc verbatim
    assert got[5] == (14, 0, "")  # fully contaminated


def test_anchor_index_width_mismatch_refused(spark, tmp_path):
    """The anchor index records its window width in the __fp column
    metadata; probing at a different min_tokens is refused instead of
    silently matching nothing — INCLUDING after a parquet round-trip
    (Spark persists column metadata in the parquet schema)."""
    import pytest

    d = load_table(spark, SF_SMOKE, "documents").limit(20)
    idx = dedup_ops.substring_anchor_index(d, "doc_id", "text", 12)
    path = str(tmp_path / "anchors")
    idx.write.parquet(path)
    loaded = spark.read.parquet(path)
    assert (loaded.schema["__fp"].metadata or {}).get("min_tokens") == 12
    with pytest.raises(ValueError, match="min_tokens=12"):
        dedup_ops.substring_spans_incremental(d, loaded, "doc_id", "text", 20)
    from ucr_bigdata_snowfallproject_spark.streaming.documents import (
        stream_span_flags,
    )

    with pytest.raises(ValueError, match="min_tokens=12"):
        stream_span_flags(d, loaded, min_tokens=20)
    # matching width still works (smoke, not a correctness claim)
    assert dedup_ops.substring_spans_incremental(
        d.limit(5), loaded, "doc_id", "text", 12
    ).count() >= 0
    # the r10 hash-mode tag also survives the round trip: a persisted
    # POLY index refuses an md5-mode probe after reload
    pidx = dedup_ops.substring_anchor_index(
        d, "doc_id", "text", 12, hash_mode="poly"
    )
    ppath = str(tmp_path / "anchors-poly")
    pidx.write.parquet(ppath)
    ploaded = spark.read.parquet(ppath)
    assert (ploaded.schema["__fp"].metadata or {}).get("hash_mode") == "poly"
    with pytest.raises(ValueError, match="hash_mode"):
        dedup_ops.substring_spans_incremental(d, ploaded, "doc_id", "text", 12)
    assert dedup_ops.substring_spans_incremental(
        d.limit(5), ploaded, "doc_id", "text", 12, hash_mode="poly"
    ).count() >= 0


def test_prebuilt_anchor_reuse_matches_inline_build(spark):
    """Round 18 (the capstone stage-3/4 shared anchor scan): passing a
    prebuilt substring_anchor_index through span_coverage(anchors=) and
    excise_spans(train_anchors=) — including an id-SUBSET of the index
    via a semi-join, the exact capstone pattern — returns row-identical
    results to the inline builds, and a width mismatch is refused."""
    import pytest

    from ucr_bigdata_snowfallproject_spark.operators import curation as cur

    d = load_table(spark, SF_SMOKE, "documents").limit(60)
    train = d.filter(F.col("doc_id") % 7 != 0)
    ev = d.filter(F.col("doc_id") % 7 == 0)
    W = 12
    anch = dedup_ops.substring_anchor_index(train, "doc_id", "text", W)

    cov_inline = dedup_ops.span_coverage(train, "doc_id", "text", min_tokens=W)
    cov_reuse = dedup_ops.span_coverage(
        train, "doc_id", "text", min_tokens=W, anchors=anch
    )
    key = lambda df: sorted(tuple(r) for r in df.collect())
    assert key(cov_inline) == key(cov_reuse)

    kept = train.filter(F.col("doc_id") % 3 != 0)
    kept_anch = anch.join(
        kept.select(F.col("doc_id").alias("__id")), "__id", "left_semi"
    )
    exc_inline = cur.excise_spans(kept, ev, "doc_id", "text", min_tokens=W)
    exc_reuse = cur.excise_spans(
        kept, ev, "doc_id", "text", min_tokens=W, train_anchors=kept_anch
    )
    assert key(exc_inline) == key(exc_reuse)

    with pytest.raises(ValueError, match="min_tokens"):
        dedup_ops.span_coverage(
            train, "doc_id", "text", min_tokens=W + 1, anchors=anch
        )
    with pytest.raises(ValueError, match="min_tokens"):
        cur.excise_spans(
            kept, ev, "doc_id", "text", min_tokens=W + 1, train_anchors=kept_anch
        )


def test_span_coverage_matches_naive_interval_merge(spark):
    """dedup.span_coverage == naive spans + Python interval-union per
    doc, on the seeded dense corpus (overlapping and contained spans
    everywhere — the merge must never double-count a token) plus a
    zero-coverage doc that must still appear with dup_tokens=0."""
    import random

    rng = random.Random(11)
    docs = {i: [rng.choice(("u", "v", "w")) for _ in range(30)] for i in range(5)}
    docs[99] = [f"unique{j}" for j in range(30)]  # shares nothing
    df = spark.createDataFrame(
        [(k, " ".join(v)) for k, v in docs.items()], "doc_id long, text string"
    )
    W = 5
    got = {
        (r.doc_id, r.n_tokens, r.dup_tokens, r.dup_frac)
        for r in dedup_ops.span_coverage(df, "doc_id", "text", min_tokens=W).collect()
    }
    # naive: spans -> per-doc 1-based token interval union
    ivals: dict = {k: set() for k in docs}
    for a, b, sa, sb, ln in _naive_substring_spans(docs, W):
        ivals[a].update(range(sa, sa + ln))
        ivals[b].update(range(sb, sb + ln))
    want = {
        (k, len(v), len(ivals[k]), round(len(ivals[k]) / len(v), 4))
        for k, v in docs.items()
    }
    assert got == want
    assert (99, 30, 0, 0.0) in got  # zero-coverage doc present


def test_substring_spans_max_anchor_docs_drops_boilerplate(spark):
    """max_anchor_docs: a boilerplate span shared by MANY docs (the k²
    join hazard) is dropped when its anchors exceed the doc cap, while a
    two-doc span survives — output is a subset of exact, pinned."""
    boiler = [f"n{i}" for i in range(12)]
    pair_span = [f"p{i}" for i in range(12)]
    docs = {i: [f"u{i}_{j}" for j in range(3)] + boiler for i in range(8)}
    docs[100] = pair_span + ["z1"]
    docs[101] = ["z2", "z3"] + pair_span
    df = spark.createDataFrame(
        [(k, " ".join(v)) for k, v in docs.items()], "doc_id long, text string"
    )
    exact = {
        (r.doc_a, r.doc_b)
        for r in dedup_ops.substring_spans(df, "doc_id", "text", min_tokens=12).collect()
    }
    capped = {
        (r.doc_a, r.doc_b)
        for r in dedup_ops.substring_spans(
            df, "doc_id", "text", min_tokens=12, max_anchor_docs=4
        ).collect()
    }
    assert capped == {(100, 101)}  # boilerplate clique gone, true pair kept
    assert capped < exact and len(exact) == 1 + 8 * 7 // 2


def test_fuzzy_self_join_max_block_bounds_stop_gram_block(spark):
    """VERDICT r08 #1, the degenerate stop-gram fixture: 600 SKU-like
    strings all sharing the q-gram 'an' (and each other's length). The
    hot blocks uncapped would expand C(600,2) = 179,700 candidate pairs
    before the levenshtein verify; max_block degrades them to star pairs,
    so the candidate set stays O(n·blocks) and every survivor is still a
    true ≤max_dist match (checked against a Python DP on the output)."""
    from ucr_bigdata_snowfallproject_spark.operators.text import (
        _fuzzy_blocks,
        _fuzzy_candidates,
        fuzzy_self_join,
    )

    skus = spark.createDataFrame(
        [(f"an{i:04d}",) for i in range(600)], "sku string"
    )
    blocks = _fuzzy_blocks(skus, "sku", max_dist=1, q=2)
    n_capped = _fuzzy_candidates(
        blocks, blocks, "key_a", "key_b", True, 100, False
    ).count()
    # the star degrade keeps candidate work linear-ish: a handful of star
    # fans (one per hot block) plus the small blocks' exact pairs — far
    # under the 179,700 the uncapped 'an' block alone would expand
    assert 0 < n_capped < 20_000, n_capped

    out = fuzzy_self_join(
        skus, "sku", max_dist=1, q=2, max_block=100
    ).collect()

    def lev(a, b):
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(min(prev[j] + 1, cur[j - 1] + 1,
                               prev[j - 1] + (ca != cb)))
            prev = cur
        return prev[-1]

    assert out  # star pairs vs each hot block's min DO yield real matches
    for r in out:
        assert r.key_a < r.key_b and lev(r.key_a, r.key_b) == r.dist <= 1


def test_embedding_near_dup_blocked_matches_exact(spark):
    """The LSH-blocked near-dup path reproduces the exact all-pairs form
    EXACTLY on the fixture (seeded hyperplanes ⇒ deterministic recall),
    and its plan contains no cartesian/nested-loop join."""
    e = load_table(spark, SF_SMOKE, "embeddings").filter(F.col("vec_id") < 300)
    exact = {
        (r.id_a, r.id_b, r.sim)
        for r in sim_ops.embedding_near_dup(e, threshold=0.3).collect()
    }
    blocked_df = sim_ops.embedding_near_dup_blocked(e, dim=64, threshold=0.3)
    blocked = {(r.id_a, r.id_b, r.sim) for r in blocked_df.collect()}
    assert exact and blocked == exact
    from ucr_bigdata_snowfallproject_spark.plans import checks

    plan = checks.explain_str(blocked_df, "simple")
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan, plan


def test_multimodal_decoder_injection(spark):
    """A real decoder (PIL in deployments; a fake here) flows through the
    SAME mapInPandas contract as the stub — only the decode callable
    changes."""
    media = multimodal.synthesize_media(spark, n=6)

    def fake_decoder(payload: bytes) -> tuple[int, int]:
        return (len(payload), 7)

    feats = {r.media_id: (r.width, r.height)
             for r in multimodal.extract_features(media, decoder=fake_decoder).collect()}
    raw = {r.media_id: r.n_bytes for r in media.select("media_id", "n_bytes").collect()}
    assert feats == {k: (raw[k], 7) for k in raw}
    # default resolution picks the stdlib header parser (with stub
    # fallback) when PIL is absent, PIL otherwise
    try:
        import PIL.Image  # noqa: F401
        assert multimodal.default_image_decoder() is multimodal._decode_image_pil
    except ImportError:
        assert multimodal.default_image_decoder() is multimodal._decode_image_auto


def test_salted_join_rejects_outer(spark):
    import pytest

    from ucr_bigdata_snowfallproject_spark.operators.skew import salted_join

    big = spark.createDataFrame([(1, "x")], "k long, v string")
    small = spark.createDataFrame([(1, "y")], "k long, w string")
    with pytest.raises(ValueError, match="salted_join"):
        salted_join(big, small, ["k"], how="full_outer")
    with pytest.raises(ValueError, match="salted_join"):
        salted_join(big, small, ["k"], how="right")
    assert salted_join(big, small, ["k"], how="inner").count() == 1


def test_resample_multi_unit_step(spark):
    """Multi-unit steps floor onto the true step grid (:00/:15/:30/:45 for
    '15 minutes'), not onto the 1-minute date_trunc — the silent-zero bug
    class where observed buckets miss the generated grid entirely."""
    import datetime as dt

    from ucr_bigdata_snowfallproject_spark.operators.resample import resample_forward_fill

    t0 = dt.datetime(2024, 1, 1, 0, 7)   # 00:07 → bucket 00:00
    rows = [
        ("a", t0, 1.0, 1),
        ("a", t0 + dt.timedelta(minutes=14), 2.0, 2),    # 00:21 → bucket 00:15
        ("a", t0 + dt.timedelta(minutes=53), 3.0, 3),    # 01:00 → bucket 01:00
        ("b", t0, 9.0, 4),
    ]
    df = spark.createDataFrame(rows, ["k", "ts", "v", "eid"])
    out = resample_forward_fill(df, "k", "ts", "v", "eid", "15 minutes")
    got = {
        (r["k"], r["bucket"].strftime("%H:%M")): (r["n_events"], r["last_value"])
        for r in out.collect()
    }
    assert got == {
        ("a", "00:00"): (1, 1.0),
        ("a", "00:15"): (1, 2.0),
        ("a", "00:30"): (0, 2.0),   # gap rows exist BECAUSE buckets hit the grid
        ("a", "00:45"): (0, 2.0),
        ("a", "01:00"): (1, 3.0),
        ("b", "00:00"): (1, 9.0),
    }
    import pytest

    with pytest.raises(ValueError, match="fixed-width"):
        resample_forward_fill(df, "k", "ts", "v", "eid", "2 months")


def test_resample_forward_fill_semantics(spark):
    """Gap rows get n_events=0 and carry the previous bucket's latest value;
    the per-bucket latest is by order_col (not arrival order)."""
    import datetime as dt

    from ucr_bigdata_snowfallproject_spark.operators.resample import resample_forward_fill

    t0 = dt.datetime(2024, 1, 1, 0, 30)
    rows = [
        # key "a": events in hours 0 and 3 — hours 1-2 are gaps
        ("a", t0, 10.0, 1),
        ("a", t0.replace(minute=45), 11.0, 2),          # same hour, later id wins
        ("a", t0 + dt.timedelta(hours=3), 30.0, 3),
        # key "b": single hour — no gaps generated
        ("b", t0, 99.0, 4),
    ]
    df = spark.createDataFrame(rows, ["k", "ts", "v", "eid"])
    out = resample_forward_fill(df, "k", "ts", "v", "eid", "1 hour")
    got = {(r["k"], r["bucket"].hour): (r["n_events"], r["last_value"]) for r in out.collect()}
    assert got == {
        ("a", 0): (2, 11.0),   # max_by eid within the hour
        ("a", 1): (0, 11.0),   # gap: forward-filled
        ("a", 2): (0, 11.0),
        ("a", 3): (1, 30.0),
        ("b", 0): (1, 99.0),
    }


def test_redact_pii_replaces_each_kind(spark):
    """Each PII class gets its typed token; clean text passes through
    unchanged (the fixture corpus is largely clean, so the mechanics are
    pinned here on synthetic rows)."""
    from ucr_bigdata_snowfallproject_spark.operators.text import redact_pii

    rows = [
        (1, "mail me at jane.doe+spam@example.co.uk today"),
        (2, "call +1 (415) 555-0199 or 020 7946 0958 now"),
        (3, "server at 192.168.0.1 responded"),
        (4, "perfectly clean prose with no identifiers"),
    ]
    df = spark.createDataFrame(rows, ["id", "text"])
    got = {r["id"]: r["red"] for r in df.select("id", redact_pii("text").alias("red")).collect()}
    assert got[1] == "mail me at <EMAIL> today"
    assert "<PHONE>" in got[2] and "555" not in got[2] and "7946" not in got[2]
    assert got[3] == "server at <IP> responded"
    assert got[4] == rows[3][1]


def test_repetition_stats_flags_boilerplate(spark):
    """dup_line_frac and top_ngram_share separate a looping/spammy doc from
    varied prose; single-line docs get dup_line_frac 0."""
    from ucr_bigdata_snowfallproject_spark.operators.text import repetition_stats

    spam = "\n".join(["click here to win"] * 9 + ["unique closing line"])
    prose = "the quick brown fox jumps over one lazy dog near a quiet river bank"
    df = spark.createDataFrame([(1, spam), (2, prose)], ["doc_id", "text"])
    got = {r["doc_id"]: r for r in repetition_stats(df, "doc_id", "text").collect()}
    assert got[1]["dup_line_frac"] == 0.8          # 10 lines, 2 distinct
    # trigrams are taken over the whole token stream (they span line breaks),
    # so the repeated "click here to" reaches 9/37 ≈ 0.24 — still 3× prose
    assert got[1]["top_ngram_share"] > 0.2
    assert got[2]["dup_line_frac"] == 0.0
    assert got[2]["top_ngram_share"] < 0.15         # all trigrams distinct


def test_hash_split_deterministic_and_proportioned(spark):
    """Split assignment is a pure function of (id, seed): stable across
    reruns and row order; proportions land near 90/5/5; a subset of the
    data gets identical labels (incremental-arrival stability)."""
    from ucr_bigdata_snowfallproject_spark.operators.curation import hash_split

    d = load_table(spark, SF_SMOKE, "documents")
    full = {r["doc_id"]: r["split"] for r in hash_split(d, "doc_id").select("doc_id", "split").collect()}
    again = {r["doc_id"]: r["split"] for r in hash_split(d.orderBy(F.desc("doc_id")), "doc_id").select("doc_id", "split").collect()}
    assert full == again
    sub = {r["doc_id"]: r["split"] for r in
           hash_split(d.filter(F.col("doc_id") % 2 == 0), "doc_id").select("doc_id", "split").collect()}
    assert all(full[k] == v for k, v in sub.items())
    n = len(full)
    frac_train = sum(1 for v in full.values() if v == "train") / n
    assert 0.8 < frac_train < 0.97

    import pytest

    with pytest.raises(ValueError, match="sum to 1"):
        hash_split(d, "doc_id", weights={"a": 0.5, "b": 0.4})


def test_decontaminate_flags_verbatim_leak(spark):
    """A training doc sharing a long verbatim span with the eval set gets
    contamination ≈ its leaked-shingle share; disjoint docs get 0."""
    from ucr_bigdata_snowfallproject_spark.operators.curation import decontaminate

    bench = "the capital of france is paris and the capital of italy is rome"
    leaked = "according to my notes " + bench + " which everyone knows"
    clean = "completely unrelated prose about gardening tips for dry summer climates here"
    train = spark.createDataFrame([(1, leaked), (2, clean)], ["doc_id", "text"])
    ev = spark.createDataFrame([(100, bench)], ["doc_id", "text"])
    got = {r["doc_id"]: r for r in decontaminate(train, ev, "doc_id", "text", n=5).collect()}
    assert got[1]["contaminated"] and got[1]["contamination"] > 0.5
    assert got[2]["n_hits"] == 0 and not got[2]["contaminated"]


def test_token_budget_mix_prefix_semantics(spark):
    """Greedy prefix in hash order: cumulative tokens never exceed the
    budget among kept rows, and the kept set is the maximal prefix (the
    first excluded doc per source would overflow)."""
    from ucr_bigdata_snowfallproject_spark.operators.curation import token_budget_mix
    from ucr_bigdata_snowfallproject_spark.operators.text import token_count

    d = load_table(spark, SF_SMOKE, "documents")
    kept = token_budget_mix(d, "source", "doc_id", token_count("text"), budget_tokens=800)
    rows = kept.collect()
    assert rows and all(r["cum_tokens"] <= 800 for r in rows)
    # determinism
    again = token_budget_mix(d, "source", "doc_id", token_count("text"), budget_tokens=800)
    assert sorted(r["doc_id"] for r in rows) == sorted(r["doc_id"] for r in again.collect())


def test_redact_pii_phone_bounds(spark):
    """The phone pattern allows at most punct-space-punct between digits:
    real phone formats redact; newline-spanning digit runs and multi-space
    table columns survive (over-redaction destroys numeric prose)."""
    from ucr_bigdata_snowfallproject_spark.operators.text import redact_pii

    rows = [
        (1, "call +1 (415) 555-0199 or 020 7946 0958 now"),
        (2, "cols 12  34  56  78  90 end"),       # double spaces: keep
        (3, "line1 1234\n5678 line2"),            # newline: keep
        (4, "dotted 415.555.0199 ok"),
    ]
    df = spark.createDataFrame(rows, ["id", "text"])
    got = {r["id"]: r["red"] for r in df.select("id", redact_pii("text").alias("red")).collect()}
    assert got[1] == "call <PHONE> or <PHONE> now"
    assert got[2] == rows[1][1]
    assert got[3] == rows[2][1]
    assert got[4] == "dotted <PHONE> ok"


def test_repetition_oracle_tokenization_on_irregular_whitespace(spark):
    """The DuckDB twin's regexp_split_to_array('\\s+') tokenization agrees
    with Spark's split(\\s+) on text the fixture never exercises — real
    newlines, double spaces, tabs — so the oracle convention holds beyond
    fixture cleanliness (ADVICE r02), including a non-zero dup_line_frac."""
    import duckdb
    import pandas as pd

    from ucr_bigdata_snowfallproject_spark.operators.text import repetition_stats

    docs = [
        (1, "alpha beta\nalpha beta\ngamma  delta\talpha beta"),
        (2, "one  two   three\none  two   three"),
        (3, "solo line no repeats at all"),
    ]
    sdf = spark.createDataFrame(docs, ["doc_id", "text"])
    got = {r["doc_id"]: (r["dup_line_frac"], r["top_ngram_share"])
           for r in repetition_stats(sdf, "doc_id", "text", n=3).collect()}
    assert got[1][0] > 0  # the multi-line path actually fires
    con = duckdb.connect()
    con.register("documents", pd.DataFrame(docs, columns=["doc_id", "text"]))
    oracle = con.sql(r"""
        WITH toks AS (
          SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS t
          FROM documents
        ), g AS (
          SELECT doc_id,
                 unnest(list_transform(
                     generate_series(1, greatest(len(t) - 2, 1)),
                     i -> array_to_string(t[i:i+2], ' '))) AS gram
          FROM toks
        ), gc AS (
          SELECT doc_id, gram, COUNT(*) AS c FROM g GROUP BY doc_id, gram
        ), shares AS (
          SELECT doc_id, ROUND(MAX(c)::DOUBLE / SUM(c), 4) AS top_ngram_share
          FROM gc GROUP BY doc_id
        ), lf AS (
          SELECT doc_id,
                 ROUND((len(ls) - len(list_distinct(ls))) / len(ls)::DOUBLE, 4)
                   AS dup_line_frac
          FROM (SELECT doc_id, string_split(text, chr(10)) AS ls FROM documents)
        )
        SELECT lf.doc_id, lf.dup_line_frac, shares.top_ngram_share
        FROM lf JOIN shares USING (doc_id)
    """).fetchall()
    assert {r[0]: (r[1], r[2]) for r in oracle} == got
    con.close()


def test_stdlib_image_decode_known_sizes():
    """PNG IHDR / GIF logical-screen / BMP info-header parsing returns the
    exact dimensions the payloads were built with; unknown formats raise."""
    import pytest

    cases = [(1, 1), (17, 3), (640, 480), (63, 63)]
    for w, h in cases:
        assert multimodal._decode_image_stdlib(multimodal.png_bytes(w, h)) == (w, h)
        assert multimodal._decode_image_stdlib(multimodal.gif_bytes(w, h)) == (w, h)
        assert multimodal._decode_image_stdlib(multimodal.bmp_bytes(w, h)) == (w, h)
        # JPEG: the marker walk must reach SOF0 (baseline) AND SOF2
        # (progressive), skipping APP0/DQT/DHT segments by length
        assert multimodal._decode_image_stdlib(multimodal.jpeg_bytes(w, h)) == (w, h)
        assert multimodal._decode_image_stdlib(
            multimodal.jpeg_bytes(w, h, progressive=True)
        ) == (w, h)
    with pytest.raises(ValueError):
        multimodal._decode_image_stdlib(b"\x00" * 64)
    # JPEG malformed streams refuse instead of guessing: SOI with no SOF,
    # and a desynced marker stream
    with pytest.raises(ValueError, match="JPEG"):
        multimodal._decode_image_stdlib(b"\xff\xd8\xff\xd9" + b"\x00" * 24)
    with pytest.raises(ValueError, match="JPEG"):
        multimodal._decode_image_stdlib(b"\xff\xd8\x00\x00" + b"\x00" * 24)
    # top-down BMP (negative height) decodes to positive dimensions
    import struct

    bmp = bytearray(multimodal.bmp_bytes(8, 4))
    bmp[22:26] = struct.pack("<i", -4)
    assert multimodal._decode_image_stdlib(bytes(bmp)) == (8, 4)


def test_jpeg_fixture_segment_lengths_walk_to_eoi():
    """Spec-strict marker walk over the synthesized JPEG: advancing by each
    segment's OWN length field must land exactly on the next 0xFF marker
    byte all the way to EOI (ADVICE r09 #1 — the DHT length was one byte
    long, which desyncs strict walkers like PIL at SOS; the in-repo stdlib
    decoder passed only because it returns early at SOF)."""
    import struct

    for progressive in (False, True):
        buf = multimodal.jpeg_bytes(13, 7, progressive=progressive)
        assert buf[:2] == b"\xff\xd8" and buf[-2:] == b"\xff\xd9"
        i, markers = 2, []
        while True:
            assert buf[i] == 0xFF, f"desync at offset {i}: expected marker"
            marker = buf[i + 1]
            markers.append(marker)
            if marker == 0xD9:  # EOI
                assert i + 2 == len(buf)
                break
            (seg_len,) = struct.unpack(">H", buf[i + 2 : i + 4])
            if marker == 0xDA:  # SOS: entropy data follows until EOI
                i = i + 2 + seg_len
                # scan entropy bytes (no 0xFF markers inside this fixture's
                # one-byte scan) up to the final EOI
                while not (buf[i] == 0xFF and buf[i + 1] == 0xD9):
                    i += 1
            else:
                i = i + 2 + seg_len
        assert 0xC4 in markers  # DHT was walked, not skipped by luck
        assert (0xC2 if progressive else 0xC0) in markers


def test_jpeg_fixture_opens_in_pil_when_installed():
    """When PIL is present (the preferred decoder in extract_features),
    the fixture JPEG must actually open — the regression ADVICE r09 #1
    described was PIL failing on the overlong DHT."""
    import pytest

    try:
        import io
        from PIL import Image
    except ImportError:
        pytest.skip("PIL not installed in this container")
    img = Image.open(io.BytesIO(multimodal.jpeg_bytes(13, 7)))
    assert img.size == (13, 7)


def _planted_image_payloads(spark, n=6):
    """Collect (doc_id, kind, payload) from the SAME synthesis the
    planted oracle query uses (training_b._synth_planted_image_media) —
    one row per format rotation at small ids."""
    from ucr_bigdata_snowfallproject_spark.queries.training_b import (
        _synth_planted_image_media,
    )

    d = spark.range(n).select(F.col("id").alias("doc_id"))
    return [
        (int(r["media_id"]), r["kind"], bytes(r["payload"]))
        for r in _synth_planted_image_media(d).collect()
    ]


def test_planted_image_payloads_decode_stdlib(spark):
    """The planted three-format rotation must decode to the planted dims
    through the stdlib parser (the container's default path) for every
    format — a desync between the hex synthesis and the parser is the
    bug class the oracle query exists to catch, pinned here at byte
    level too (the oracle drops the payload)."""
    for doc_id, kind, payload in _planted_image_payloads(spark):
        w, h = multimodal._decode_image_stdlib(payload)
        assert (w, h) == (1 + doc_id % 40, 1 + (doc_id * 7) % 30), (doc_id, kind)
        assert len(payload) == {"png": 66, "gif": 29}.get(
            kind, 54 + ((3 * (1 + doc_id % 40) + 3) // 4) * 4 * (1 + (doc_id * 7) % 30)
        )


def test_planted_gif_is_structurally_complete(spark):
    """Review r15: the planted GIF must be a COMPLETE single-frame file
    (screen descriptor + image descriptor + LZW block + terminator +
    trailer) because the planted query routes through the DEFAULT
    decoder — PIL's lazy open parses through the frame header, so the
    12-byte header-only form (fine for the stdlib-pinned
    multimodal_gif_dimensions) would crash every PIL deployment."""
    import struct

    for doc_id, kind, payload in _planted_image_payloads(spark):
        if kind != "gif":
            continue
        assert payload[:6] == b"GIF89a"
        w, h = struct.unpack("<HH", payload[6:10])
        assert payload[10:13] == b"\x00\x00\x00"  # no GCT, bg, aspect
        assert payload[13] == 0x2C  # image descriptor
        assert struct.unpack("<HHHH", payload[14:22]) == (0, 0, w, h)
        assert payload[22] == 0x00  # no local color table
        assert payload[23] == 0x02  # LZW min code size
        assert payload[24] == 0x02 and len(payload[25:27]) == 2  # sub-block
        assert payload[27] == 0x00  # block terminator
        assert payload[28] == 0x3B  # trailer
        assert len(payload) == 29


def test_planted_image_payloads_open_in_pil_when_installed(spark):
    """When PIL is present (the DEFAULT decoder extract_features
    resolves), all three planted formats must open and agree with the
    planted dims — the claim the oracle query's docstring makes."""
    import pytest

    try:
        import io
        from PIL import Image
    except ImportError:
        pytest.skip("PIL not installed in this container")
    for doc_id, kind, payload in _planted_image_payloads(spark):
        img = Image.open(io.BytesIO(payload))
        assert img.size == (1 + doc_id % 40, 1 + (doc_id * 7) % 30), (doc_id, kind)


def test_stdlib_png_is_fully_valid():
    """The synthesized PNG is a complete file (chunk CRCs included): every
    chunk's stored CRC re-verifies and the IDAT inflates to the expected
    raw scanline size."""
    import struct
    import zlib

    payload = multimodal.png_bytes(19, 7)
    assert payload[:8] == b"\x89PNG\r\n\x1a\n"
    off, seen = 8, []
    while off < len(payload):
        (length,) = struct.unpack(">I", payload[off : off + 4])
        typ = payload[off + 4 : off + 8]
        data = payload[off + 8 : off + 8 + length]
        (crc,) = struct.unpack(">I", payload[off + 8 + length : off + 12 + length])
        assert crc == zlib.crc32(typ + data) & 0xFFFFFFFF, typ
        seen.append(typ)
        if typ == b"IDAT":
            assert len(zlib.decompress(data)) == (19 + 1) * 7
        off += 12 + length
    assert seen == [b"IHDR", b"IDAT", b"IEND"]


def test_multimodal_extract_features_real_dimensions(spark):
    """End-to-end X5: image rows flow through mapInPandas and come back
    with the REAL dimensions their valid PNG/GIF/BMP payloads encode;
    audio/video rows fall back to the deterministic stub."""
    media = multimodal.synthesize_media(spark, n=24)
    payloads = {r.media_id: (r.kind, bytes(r.payload))
                for r in media.collect()}
    feats = {r.media_id: (r.width, r.height)
             for r in multimodal.extract_features(media).collect()}
    n_images = 0
    for mid, (kind, payload) in payloads.items():
        if kind == "image":
            n_images += 1
            assert feats[mid] == multimodal._decode_image_stdlib(payload)
        else:
            assert feats[mid] == multimodal._decode_image_stub(payload)
    assert n_images == 8


def test_stdlib_wav_decode_known_params():
    """The stdlib `wave` decode returns exactly the (rate, channels,
    frames) each synthesized PCM WAV was built with; non-WAV raises."""
    import pytest

    for rate, chans, frames in [(8000, 1, 1), (16000, 2, 333), (44100, 1, 160)]:
        payload = multimodal.wav_bytes(rate, chans, frames)
        assert multimodal.decode_audio_stdlib(payload) == (rate, chans, frames)
    with pytest.raises(ValueError):
        multimodal.decode_audio_stdlib(b"\x00" * 64)
    with pytest.raises(ValueError):
        multimodal.decode_audio_stdlib(multimodal.png_bytes(4, 4))


def test_multimodal_audio_features_real_metadata(spark):
    """End-to-end X5 audio: WAV rows flow through mapInPandas and come
    back with the real sample_rate/channels/frames their payloads encode;
    image/video rows are excluded by the kind filter."""
    media = multimodal.synthesize_media(spark, n=24)
    truth = {
        r.media_id: multimodal.decode_audio_stdlib(bytes(r.payload))
        for r in media.collect()
        if r.kind == "audio"
    }
    got = {
        r.media_id: (r.sample_rate, r.n_channels, r.n_samples)
        for r in multimodal.audio_features(media).collect()
    }
    assert got == truth and len(got) == 8
    durations = {
        r.media_id: r.duration_ms for r in multimodal.audio_features(media).collect()
    }
    for mid, (rate, _c, frames) in truth.items():
        assert durations[mid] == round(frames * 1000 / rate)


def test_token_budget_mix_prefilter_identity_and_bound(spark):
    """prefilter=True returns the bit-identical kept set (rows, priorities,
    cumulative sums) while the exact window runs over a strictly smaller
    survivor slice; a pathologically tight slack still converges to the
    identical answer through the widening retry."""
    from ucr_bigdata_snowfallproject_spark.operators.curation import (
        _prefilter_candidates,
        portable_hash,
        token_budget_mix,
    )
    from ucr_bigdata_snowfallproject_spark.operators.text import token_count

    d = load_table(spark, SF_SMOKE, "documents")
    # fixture: 20 sources × ~1400 tokens; budget 100 → thresholds tighten
    # (slack·budget/tot < 1) so the prefilter genuinely drops rows
    budget = 100

    def keyset(df):
        return {
            (r["doc_id"], r["priority"], r["n_tokens"], r["cum_tokens"])
            for r in df.collect()
        }

    plain = keyset(token_budget_mix(d, "source", "doc_id", token_count("text"), budget))
    fast = keyset(
        token_budget_mix(
            d, "source", "doc_id", token_count("text"), budget, prefilter=True
        )
    )
    assert plain and fast == plain
    # the window input really is bounded: survivors ≪ corpus
    work = d.withColumn("priority", portable_hash("doc_id", "mix")).withColumn(
        "n_tokens", token_count("text")
    )
    surv = _prefilter_candidates(work, "source", budget, slack=1.5)
    assert surv.count() < d.count() / 2
    # slack far too small → first threshold misses the boundary → the
    # verification pass widens it until the result is provably identical
    tight = keyset(
        token_budget_mix(
            d, "source", "doc_id", token_count("text"), budget,
            prefilter=True, prefilter_slack=0.01,
        )
    )
    assert tight == plain


def test_checkpoint_modes_identical_results(spark, tmp_path):
    """minhash_candidates under reliable / table / none checkpoint modes
    returns the identical candidate set as the default local mode — the
    fault-tolerance tier is a deployment policy, never a semantics knob."""
    import pytest

    d = load_table(spark, SF_SMOKE, "documents").limit(150)

    def pairs(**kw):
        return {
            (r.id_a, r.id_b, r.jaccard_est)
            for r in dedup_ops.minhash_candidates(d, "doc_id", "text", **kw).collect()
        }

    base = pairs()
    assert base
    assert pairs(checkpoint_mode="reliable") == base
    assert pairs(checkpoint_mode="table",
                 checkpoint_path=str(tmp_path / "sig")) == base
    assert pairs(checkpoint_mode="none") == base
    # the reliable path really wrote a checkpoint dir
    ckdir = spark.sparkContext._jsc.sc().getCheckpointDir()
    assert not ckdir.isEmpty()
    with pytest.raises(ValueError, match="checkpoint mode"):
        dedup_ops._materialize(d, "bogus")


# ---------------------------------------------------------------- round 4 ops


def test_mixture_weights_alpha_semantics(spark):
    """α=1 → weight = token share (epochs = 1 everywhere); α=0 → uniform
    over sources regardless of size."""
    from ucr_bigdata_snowfallproject_spark.operators import curation as cur
    from ucr_bigdata_snowfallproject_spark.operators import text as text_ops

    d = load_table(spark, SF_SMOKE, "documents")
    prop = cur.mixture_weights(d, "source", text_ops.token_count("text"), alpha=1.0).collect()
    tot = sum(r.n_tokens for r in prop)
    for r in prop:
        assert abs(r.weight - r.n_tokens / tot) < 1e-5
        assert abs(r.epochs - 1.0) < 1e-5
    uni = cur.mixture_weights(d, "source", text_ops.token_count("text"), alpha=0.0).collect()
    for r in uni:
        assert abs(r.weight - 1.0 / len(uni)) < 1e-5


def test_pack_sequences_layout(spark):
    """Placement manifest replays the greedy concat exactly: contiguous
    start offsets per shard, window indices consistent with a 512-token
    grid, and at least one document genuinely spanning a boundary."""
    from ucr_bigdata_snowfallproject_spark.operators import curation as cur
    from ucr_bigdata_snowfallproject_spark.operators import text as text_ops

    d = load_table(spark, SF_SMOKE, "documents")
    out = cur.pack_sequences(d, "doc_id", text_ops.token_count("text"), 512)
    by_shard: dict = {}
    for r in out.collect():
        by_shard.setdefault(r.shard, []).append(r)
    assert len(by_shard) > 1
    spans = 0
    for rows in by_shard.values():
        rows.sort(key=lambda r: r.doc_id)
        cum = 0
        for r in rows:
            assert r.start_token == cum
            assert r.seq_first == cum // 512
            assert r.offset_in_seq == cum % 512
            cum += r.n_tokens
            assert r.seq_last == (cum - 1) // 512
            spans += r.seq_last > r.seq_first
    assert spans > 0


def test_bigram_lm_hand_computed(spark):
    """Tiny corpus, probabilities checked by hand: add-1 smoothing over
    V = |distinct continuations|."""
    from ucr_bigdata_snowfallproject_spark.operators import text as text_ops

    docs = spark.createDataFrame(
        [(1, "a b a"), (2, "a b c")], "id long, text string"
    )
    lm = {
        (r.w1, r.w2): (r["count"], r.prob)
        for r in text_ops.bigram_lm(docs, "text").collect()
    }
    # bigrams: (a,b)×2, (b,a), (b,c); V = |{b, a, c}| = 3; c(a,·)=2, c(b,·)=2
    assert lm[("a", "b")] == (2, round(3 / 5, 6))
    assert lm[("b", "a")] == (1, round(2 / 5, 6))
    assert lm[("b", "c")] == (1, round(2 / 5, 6))
    assert len(lm) == 3


def test_incremental_exact_dedup_semantics(spark):
    """Clones of indexed docs die on the index anti-join (whitespace/case
    normalization applies); in-batch clones die on the min-id window; fresh
    docs survive with their fingerprint attached."""
    seen = spark.createDataFrame(
        [(1, "Hello   World"), (2, "foo bar")], "doc_id long, text string"
    )
    new = spark.createDataFrame(
        [
            (10, "hello world"),   # dup of seen #1 after normalization
            (11, "fresh doc"),
            (12, "fresh  DOC"),    # in-batch dup of 11 after normalization
            (13, "another one"),
        ],
        "doc_id long, text string",
    )
    kept = dedup_ops.incremental_exact_dedup(new, seen, "doc_id", "text")
    rows = {r.doc_id: r.fingerprint for r in kept.collect()}
    assert set(rows) == {11, 13}
    assert all(len(fp) == 32 for fp in rows.values())


def test_incremental_minhash_dedup_semantics(spark):
    """A batch doc identical to an indexed doc is dropped via the stored
    signature index (corpus text never read); in-batch near-dups keep the
    lower id; survivors carry their signature for index append."""
    d = load_table(spark, SF_SMOKE, "documents")
    seen = d.filter(F.col("doc_id") % 2 == 0)
    seen_sigs = dedup_ops.minhash_signatures_arrow(seen, "doc_id", "text")
    clone_of_seen = seen.limit(1).select(
        (F.col("doc_id") + 900000).alias("doc_id"), "text", "lang", "source", "n_chars"
    )
    new = d.filter(F.col("doc_id") % 2 == 1).unionByName(clone_of_seen)
    kept = dedup_ops.incremental_minhash_dedup(new, seen_sigs, "doc_id", "text")
    ids = {r.doc_id for r in kept.select("doc_id").collect()}
    assert not any(i >= 900000 for i in ids)          # clone died on the index
    assert ids and ids <= {r.doc_id for r in new.select("doc_id").collect()}
    assert len(kept.first()["__sig"]) == 64            # signatures ride along


def test_pq_encode_shape_and_range(spark):
    e = load_table(spark, SF_SMOKE, "embeddings")
    books = sim_ops._train_pq(e, "embedding", m=8, ksub=16, seed=42)
    assert len(books) == 8 and all(len(b) == 16 for b in books)
    codes = sim_ops.pq_encode(e, books).collect()
    assert all(len(r.code) == 8 and all(0 <= c < 16 for c in r.code) for r in codes)
    assert len(codes) == e.count()


def test_pq_topk_recall_vs_brute_force(spark):
    e = load_table(spark, SF_SMOKE, "embeddings")
    q = e.filter(F.col("vec_id") < 10).select(F.col("vec_id").alias("q_id"), "embedding")
    exact = _topk_sets(sim_ops.brute_force_topk(e, q, k=10))
    approx = _topk_sets(sim_ops.pq_topk(e, q, k=10, m=8, ksub=16))
    recalls = [len(exact[k] & approx.get(k, set())) / len(exact[k]) for k in exact]
    mean_recall = sum(recalls) / len(recalls)
    # uniform-random fixture is PQ's worst case too (no cluster structure
    # for codebooks to exploit); seeded codebooks make this deterministic
    assert mean_recall >= 0.35, mean_recall


def test_pq_int8_topk_recall_vs_brute_force(spark):
    """pq_int8_topk (integer-deterministic codebooks + exact rerank) —
    recall pin vs brute force. The exact rerank stage means every
    RETURNED similarity is the true cosine; only candidate coverage is
    approximate, so recall tracks refine directly."""
    e = load_table(spark, SF_SMOKE, "embeddings")
    cb_rows = sorted(
        sim_ops.quantize_embeddings(e.filter(F.col("vec_id") < 16), "vec_id")
        .select("vec_id", "codes").collect(),
        key=lambda r: r["vec_id"],
    )
    codebook = [
        [[int(x) for x in r["codes"][j * 8:(j + 1) * 8]] for r in cb_rows]
        for j in range(8)
    ]
    q = e.filter(F.col("vec_id") < 10).select(F.col("vec_id").alias("q_id"), "embedding")
    exact = _topk_sets(sim_ops.brute_force_topk(e, q, k=10))
    out = sim_ops.pq_int8_topk(e, q, codebook, k=10, refine=4)
    rows = out.collect()
    approx = {}
    sims = {}
    for r in rows:
        approx.setdefault(r.q_id, set()).add(r.vec_id)
        sims[(r.q_id, r.vec_id)] = r.sim
    recalls = [len(exact[k] & approx.get(k, set())) / len(exact[k]) for k in exact]
    mean_recall = sum(recalls) / len(recalls)
    assert mean_recall >= 0.35, mean_recall
    # rerank exactness: any hit shared with brute force carries the SAME
    # rounded exact cosine
    bf = {(r.q_id, r.vec_id): r.sim
          for r in sim_ops.brute_force_topk(e, q, k=10).collect()}
    shared = [k for k in bf if k in sims]
    assert shared and all(bf[k] == sims[k] for k in shared)


def test_simhash_md5_mode_same_fingerprint_semantics(spark):
    """The md5 simhash mode is the same ±1 bit-vote algorithm over a
    60-bit portable token-hash space: planes 60..63 are zero, exact-dup
    texts share every band (Hamming 0 — certain candidates), and the
    Hamming<=8 candidate core is stable across plausible near-dup
    structure."""
    d = load_table(spark, SF_SMOKE, "documents").limit(200)
    sigs = d.select(
        "doc_id", dedup_ops.simhash("text", hash="md5").alias("sh")
    ).collect()
    assert sigs and all(0 <= r.sh < (1 << 60) for r in sigs)
    dup = d.limit(5).select((F.col("doc_id") + 1_000_000).alias("doc_id"), "text")
    docs = d.select("doc_id", "text").unionByName(dup)
    cand = {
        (r.id_a, r.id_b): r.hamming
        for r in dedup_ops.simhash_candidates(
            docs, "doc_id", "text", band_bits=15, max_hamming=8, hash="md5"
        ).collect()
    }
    for r in dup.select("doc_id").collect():
        assert cand.get((r.doc_id - 1_000_000, r.doc_id)) == 0, r.doc_id
    # degenerate-band guard: band_bits that don't divide the 60 live
    # bits must refuse, not silently band zero planes
    import pytest

    with pytest.raises(ValueError, match="band_bits"):
        dedup_ops.simhash_candidates(
            docs, "doc_id", "text", band_bits=8, hash="md5"
        )
    # ADVICE r08: the default band_bits adapts per mode (15 for md5's
    # 60 live bits), so hash='md5' works without a second override and
    # matches the explicit band_bits=15 output exactly
    default_md5 = {
        (r.id_a, r.id_b, r.hamming)
        for r in dedup_ops.simhash_candidates(
            docs, "doc_id", "text", hash="md5"
        ).collect()
    }
    assert default_md5 == {(a, b, h) for (a, b), h in cand.items()}


def test_knn_graph_recall_and_symmetry_contract(spark):
    """ivf_int8_knn_graph: per-vector recall vs the exact per-vector
    top-k (brute force over the whole corpus), plus the structural
    contract — no self edges, exactly <=k neighbors per vector, every
    returned sim is the true rounded cosine."""
    e = load_table(spark, SF_SMOKE, "embeddings")
    cent_rows = sorted(
        sim_ops.quantize_embeddings(e.filter(F.col("vec_id") < 16), "vec_id")
        .select("vec_id", "codes").collect(),
        key=lambda r: r["vec_id"],
    )
    cents = [(int(r["vec_id"]), [int(x) for x in r["codes"]]) for r in cent_rows]
    rows = sim_ops.ivf_int8_knn_graph(e, cents, k=10, n_probe=2).collect()
    per_src = {}
    for r in rows:
        assert r.src_id != r.nbr_id
        per_src.setdefault(r.src_id, set()).add(r.nbr_id)
    assert all(len(v) <= 10 for v in per_src.values())
    assert len(per_src) == e.count()

    # exact per-vector top-10 for a sample of 20 vectors
    sample = e.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("q_id"), "embedding"
    )
    exact = _topk_sets(sim_ops.brute_force_topk(e, sample, k=11))
    recalls = []
    for q, nbrs in exact.items():
        nbrs = nbrs - {q}  # brute force includes self at sim 1.0
        got = per_src.get(q, set())
        recalls.append(len(nbrs & got) / max(len(nbrs), 1))
    mean_recall = sum(recalls) / len(recalls)
    # uniform-random fixture + 2/16 probed cells: recall tracks the
    # probed fraction of the corpus plus same-cell affinity
    assert mean_recall >= 0.2, mean_recall


def test_knn_graph_from_persisted_cells_identical(spark, tmp_path):
    """Rebuilding the kNN graph from a persisted inverted file
    (save_ivf_cells -> load_ivf_cells) is bit-identical to the inline
    build — the artifact path shares the oracle."""
    from ucr_bigdata_snowfallproject_spark import index_store as ix

    e = load_table(spark, SF_SMOKE, "embeddings")
    cent_rows = sorted(
        sim_ops.quantize_embeddings(e.filter(F.col("vec_id") < 16), "vec_id")
        .select("vec_id", "codes").collect(),
        key=lambda r: r["vec_id"],
    )
    cents = [(int(r["vec_id"]), [int(x) for x in r["codes"]]) for r in cent_rows]
    root = str(tmp_path / "cells")
    ix.save_ivf_cells(sim_ops.ivf_int8_build(e, cents), root)
    loaded = ix.load_ivf_cells(spark, root)
    key = lambda rows: sorted((r.src_id, r.nbr_id, r.sim) for r in rows)
    inline = key(sim_ops.ivf_int8_knn_graph(e, cents, k=5, n_probe=2).collect())
    from_art = key(
        sim_ops.ivf_int8_knn_graph(e, cents, k=5, n_probe=2, cells=loaded).collect()
    )
    assert inline == from_art


def test_knn_graph_all_cells_equals_brute_force(spark):
    """Exactness pin: probing EVERY cell (n_probe = n_centroids) makes
    the kNN graph identical to the exact per-vector cosine top-k — the
    approximation comes only from cell pruning, never from scoring."""
    e = load_table(spark, SF_SMOKE, "embeddings").filter(F.col("vec_id") < 120)
    cent_rows = sorted(
        sim_ops.quantize_embeddings(e.filter(F.col("vec_id") < 16), "vec_id")
        .select("vec_id", "codes").collect(),
        key=lambda r: r["vec_id"],
    )
    cents = [(int(r["vec_id"]), [int(x) for x in r["codes"]]) for r in cent_rows]
    got = sorted(
        (r.src_id, r.nbr_id, r.sim)
        for r in sim_ops.ivf_int8_knn_graph(e, cents, k=5, n_probe=16).collect()
    )
    q = e.select(F.col("vec_id").alias("q_id"), "embedding")
    bf = sim_ops.brute_force_topk(e, q, k=6)  # k+1: includes self at 1.0
    want = sorted(
        (r.q_id, r.vec_id, r.sim)
        for r in bf.collect()
        if r.q_id != r.vec_id
    )
    # brute force kept 6 per query incl. self; after dropping self some
    # queries have 6 non-self rows (self wasn't top-6) — trim to top-5
    per = {}
    for s_, n_, v_ in want:
        per.setdefault(s_, []).append((v_, n_))
    trimmed = sorted(
        (s_, n_, v_)
        for s_, rows in per.items()
        for v_, n_ in sorted(rows, key=lambda x: (-x[0], x[1]))[:5]
    )
    assert got == trimmed


def test_knn_graph_delta_equals_full_rebuild(spark):
    """ivf_int8_knn_graph_delta: graph-over-(old) + delta update ==
    graph-over-(old ∪ delta) bit-for-bit — the merge property
    top-k(A∪B) = top-k(top-k(A)∪B) plus probe-set invariance under the
    fixed centroid codes."""
    e = load_table(spark, SF_SMOKE, "embeddings")
    cent_rows = sorted(
        sim_ops.quantize_embeddings(e.filter(F.col("vec_id") < 16), "vec_id")
        .select("vec_id", "codes").collect(),
        key=lambda r: r["vec_id"],
    )
    cents = [(int(r["vec_id"]), [int(x) for x in r["codes"]]) for r in cent_rows]
    old = e.filter(F.col("vec_id") % 4 != 0)
    delta = e.filter(F.col("vec_id") % 4 == 0)
    old_cells = sim_ops.ivf_int8_build(old, cents)
    old_graph = sim_ops.ivf_int8_knn_graph(
        old, cents, k=7, n_probe=3, cells=old_cells
    )
    inc = sim_ops.ivf_int8_knn_graph_delta(
        old_graph, old_cells, delta, cents, k=7, n_probe=3
    )
    full = sim_ops.ivf_int8_knn_graph(e, cents, k=7, n_probe=3)
    key = lambda df: sorted((r.src_id, r.nbr_id, r.sim) for r in df.collect())
    assert key(inc) == key(full)


def test_pair_dot_scores_bit_identical_to_hof_fold(spark):
    """_pair_dot_scores (round 17 — the cogrouped Arrow pair kernel
    behind ivf_int8_knn_graph) reproduces the interpreted
    aggregate(zip_with(a, b, x·y), 0.0, acc+x) fold BIT-for-bit: the
    loop-over-dimension accumulation adds products in the same
    left-to-right IEEE order, float32→float64 widening is exact, and
    self-pairs are excluded. Checked with == on raw doubles (no
    rounding, no tolerance) over every cross pair of a float corpus
    including zero vectors and denormal-ish magnitudes."""
    import math

    from ucr_bigdata_snowfallproject_spark.operators.similarity import (
        _pair_dot_scores, dot, l2_norm,
    )

    vals = [
        (0, [0.1, -2.5e-7, 3.0e8, -1.0]),
        (1, [1.0, 1.0e-38, -7.77, 0.125]),
        (2, [0.0, 0.0, 0.0, 0.0]),
        (3, [-0.3333333, 2.2, 1.0e5, -9.99e-5]),
        (4, [5.5, -5.5, 5.5, -5.5]),
    ]
    df = spark.createDataFrame(
        [(i, [float(x) for x in v], 0 if i < 3 else 1) for i, v in vals],
        "vec_id long, embedding array<float>, __cell int",
    )
    members = df.select(
        "__cell",
        F.col("vec_id").alias("__mid"),
        F.col("embedding").alias("__mvec"),
        l2_norm(F.col("embedding")).alias("__mn"),
    )
    probers = df.select(
        "__cell",
        F.col("vec_id").alias("__qid"),
        F.col("embedding").alias("__qvec"),
        l2_norm(F.col("embedding")).alias("__qn"),
    )
    got = {
        (r.src_id, r.nbr_id): (r["__dot"], r["__qn"], r["__cfn"])
        for r in _pair_dot_scores(members, probers).collect()
    }
    # reference: the JVM HOF fold over the same per-cell cross pairs
    a = df.select(
        "__cell", F.col("vec_id").alias("qa"), F.col("embedding").alias("va")
    )
    b = df.select(
        "__cell", F.col("vec_id").alias("qb"), F.col("embedding").alias("vb")
    )
    ref_rows = (
        a.join(b, "__cell")
        .filter(F.col("qa") != F.col("qb"))
        .select(
            "qa",
            "qb",
            dot(F.col("va"), F.col("vb")).alias("d"),
            l2_norm(F.col("va")).alias("qn"),
            l2_norm(F.col("vb")).alias("cn"),
        )
        .collect()
    )
    ref = {(r.qa, r.qb): (r.d, r.qn, r.cn) for r in ref_rows}
    assert set(got) == set(ref)
    for k2, (d, qn, cn) in ref.items():
        gd, gqn, gcn = got[k2]
        # exact equality (NaN-safe): the kernel's accumulation order is
        # the fold's accumulation order
        for x, y in ((gd, d), (gqn, qn), (gcn, cn)):
            assert (x == y) or (math.isnan(x) and math.isnan(y)), (k2, x, y)


def test_basket_pair_cap_guard_semantics(spark):
    """Round 18 (VERDICT r17 #7 — the triangles edge-build cap): the
    bucket_pairs star-degrade applied to co-purchase baskets. Pins the
    guard's semantics: (a) with every basket at/under the cap the capped
    build equals the exact all-pairs build EXACTLY; (b) an over-cap
    basket degrades to star pairs against its min item (O(k) rows, the
    clique stays connected through the representative, all-pairs is
    gone); (c) triangle counts from sub-cap baskets are UNAFFECTED by
    capping a disjoint mega-basket — only the mega-basket's own
    non-representative triangles are forfeited (the documented
    degrade)."""
    from ucr_bigdata_snowfallproject_spark.operators.dedup import bucket_pairs
    from ucr_bigdata_snowfallproject_spark.operators.graph import (
        triangle_counts,
    )

    # three small baskets forming a planted triangle among items 1,2,3
    # plus one mega-basket of 10 items (> cap 5) on disjoint ids
    rows = [(100, i) for i in (1, 2)] + [(101, i) for i in (2, 3)] + [
        (102, i) for i in (1, 3)
    ] + [(103, i) for i in (1, 2, 3)] + [(200, i) for i in range(50, 60)]
    df = spark.createDataFrame(rows, "g long, item long")
    pairs = lambda cap: sorted(
        (r.id_a, r.id_b)
        for r in bucket_pairs(df, ["g"], id_col="item", max_bucket=cap).collect()
    )
    exact = pairs(None)
    assert pairs(10) == exact  # (a) cap >= max basket: identical
    capped = pairs(5)
    mega_exact = {(a, b) for a, b in exact if a >= 50}
    mega_star = {(50, b) for b in range(51, 60)}
    assert {(a, b) for a, b in capped if a >= 50} == mega_star  # (b)
    assert mega_star < mega_exact
    # small-basket pairs untouched
    assert [(a, b) for a, b in capped if a < 50] == [
        (a, b) for a, b in exact if a < 50
    ]
    # (c) planted triangle (1,2,3) counts identical under the cap;
    # the mega-basket's triangles (C(10,3)=120 per item pre-cap) vanish
    # (star edges alone close no triangle)
    tri = lambda cap: {
        r.node: r.n_triangles
        for r in triangle_counts(
            bucket_pairs(df, ["g"], id_col="item", max_bucket=cap),
            "id_a", "id_b",
        ).collect()
    }
    t_exact, t_capped = tri(None), tri(5)
    for n in (1, 2, 3):
        assert t_capped[n] == t_exact[n] == 1
    assert all(n < 50 for n in t_capped)  # star edges close no triangle


def test_pair_dot_scores_chunked_bit_identical(spark, monkeypatch):
    """Round 18 (VERDICT r17 #3): the prober-side block loop in
    _pair_dot_scores is invisible in results — with the block size forced
    to 1 (every prober its own dense block) the emitted (src, nbr, dot,
    qn, cfn) set equals the one-block run EXACTLY (== on raw doubles; the
    per-pair j-loop accumulation order is block-independent). Also pins
    the dimension-mismatch guard: mixed embedding widths in one cell
    raise with a descriptive message instead of silently truncating."""
    import pytest

    from ucr_bigdata_snowfallproject_spark.operators import similarity as S

    vals = [
        (0, [0.1, -2.5e-7, 3.0e8, -1.0]),
        (1, [1.0, 1.0e-38, -7.77, 0.125]),
        (2, [0.0, 0.0, 0.0, 0.0]),
        (3, [-0.3333333, 2.2, 1.0e5, -9.99e-5]),
        (4, [5.5, -5.5, 5.5, -5.5]),
    ]
    df = spark.createDataFrame(
        [(i, [float(x) for x in v], 0 if i < 3 else 1) for i, v in vals],
        "vec_id long, embedding array<float>, __cell int",
    )
    members = df.select(
        "__cell",
        F.col("vec_id").alias("__mid"),
        F.col("embedding").alias("__mvec"),
        S.l2_norm(F.col("embedding")).alias("__mn"),
    )
    probers = df.select(
        "__cell",
        F.col("vec_id").alias("__qid"),
        F.col("embedding").alias("__qvec"),
        S.l2_norm(F.col("embedding")).alias("__qn"),
    )

    def rows(block_rows):
        monkeypatch.setattr(S, "_PAIR_SCORE_BLOCK_ROWS", block_rows)
        return sorted(
            (r.src_id, r.nbr_id, r["__dot"], r["__qn"], r["__cfn"])
            for r in S._pair_dot_scores(members, probers).collect()
        )

    assert rows(1) == rows(4096)  # == on raw doubles, no tolerance

    ragged = probers.withColumn(
        "__qvec", F.slice(F.col("__qvec"), 1, 3)
    )
    monkeypatch.setattr(S, "_PAIR_SCORE_BLOCK_ROWS", 4096)
    with pytest.raises(Exception, match="prober dim"):
        S._pair_dot_scores(members, ragged).collect()


def test_cc_round_takes_neighbourhood_min_and_observes_counts(spark):
    """_cc_round: each node's new comp is the min over its closed
    neighbourhood's previous comps, where each round links every node to
    its previous comp; the counts observed on the materialising action
    are the nodes the round lowered and, of those, the ones that received
    a message (a link's included) above the new comp."""
    from ucr_bigdata_snowfallproject_spark.operators.dedup import (
        _cc_round, _cc_state, _materialize_observed, _round_counts,
    )

    edges = [(1, 2), (2, 3), (3, 4), (10, 11), (20, 20), (31, 30), (30, 32)]
    pairs = spark.createDataFrame(edges, "id_a long, id_b long")
    adj: dict = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    state, seen = _materialize_observed(_cc_state(pairs), "local", **_round_counts())
    before = {u: u for u in adj}
    for _round in range(4):
        rows = state.collect()
        comp = {r.u: r.comp for r in rows}
        # neighbour messages, plus each node's message to its own label
        msgs = {u: [before[v] for v in adj[u]] for u in adj}
        for u, c in before.items():
            if c != u:
                msgs[c].append(c)
        want = {u: min([before[u]] + msgs[u]) for u in adj}
        assert comp == want
        lowered = [u for u in adj if want[u] < before[u]]
        assert seen["lowered"] == len(lowered)
        assert seen["unsettled"] == sum(max(msgs[u]) > want[u] for u in lowered)
        for u, c in before.items():
            if c != u:
                adj[u].add(c)
                adj[c].add(u)
        assert {r.u: set(r.nbrs) for r in rows} == adj
        before = comp
        state, seen = _materialize_observed(_cc_round(state), "local", **_round_counts())


def test_semdedup_pairs_are_exact_subset(spark):
    """Every SemDeDup pair is a true near-dup (sims come from the same
    exact scorer), and the keep-set partitions the corpus with the
    pair-loser set."""
    e = load_table(spark, SF_SMOKE, "embeddings").filter(F.col("vec_id") < 500)
    exact = {
        (r.id_a, r.id_b): r.sim
        for r in sim_ops.embedding_near_dup(e, threshold=0.3).collect()
    }
    pairs = sim_ops.semdedup_pairs(e, n_clusters=8, threshold=0.3).collect()
    assert pairs, "fixture should produce within-cluster near-dups"
    for r in pairs:
        assert exact.get((r.id_a, r.id_b)) == r.sim
    kept = sim_ops.semdedup(e, n_clusters=8, threshold=0.3)
    losers = {r.id_b for r in pairs}
    kept_ids = {r.vec_id for r in kept.collect()}
    all_ids = {r.vec_id for r in e.select("vec_id").collect()}
    assert kept_ids == all_ids - losers


def test_cdc_chunks_shift_invariance(spark):
    """The CDC property fixed-width chunking lacks: prepending text only
    perturbs chunks up to the first content boundary — every later chunk
    fingerprints identically, so shared passages dedup across documents
    regardless of position."""
    import random

    rng = random.Random(7)
    words = ["w%03d" % rng.randrange(500) for _ in range(400)]
    base = " ".join(words)
    shifted = "three inserted prefix tokens " + base
    docs = spark.createDataFrame(
        [(1, base), (2, shifted)], "doc_id long, text string"
    )
    ch = dedup_ops.cdc_chunks(docs, "doc_id", "text", boundary_mod=16)
    fps: dict = {1: [], 2: []}
    for r in ch.collect():
        fps[r.doc_id].append((r.chunk_id, r.fingerprint))
    f1 = {fp for _, fp in fps[1]}
    f2 = {fp for _, fp in fps[2]}
    # everything after doc 1's first boundary chunk must reappear in doc 2
    tail1 = {fp for cid, fp in fps[1] if cid > min(c for c, _ in fps[1])}
    assert tail1, "fixture text should produce multiple chunks"
    assert tail1 <= f2
    # and the heads genuinely differ (the insertion landed somewhere)
    assert f1 != f2


def test_overlap_join_matches_naive_form(spark):
    """Grid-binned overlap join ≡ the naive inequality join on seeded
    random intervals — including duplicates-across-cells (intervals far
    longer than the grid) and key isolation."""
    import random

    rng = random.Random(5)
    lrows = [
        (i, rng.randrange(3), s := rng.randrange(0, 5000), s + rng.randrange(0, 900))
        for i in range(120)
    ]
    rrows = [
        (1000 + i, rng.randrange(3), s := rng.randrange(0, 5000), s + rng.randrange(0, 900))
        for i in range(120)
    ]
    L = spark.createDataFrame(lrows, "lid long, k long, ls long, le long")
    R = spark.createDataFrame(rrows, "rid long, k long, rs long, re long")
    got = {
        (r.lid, r.rid)
        for r in asof_ops.overlap_join(
            L, R, "ls", "le", "rs", "re", keys=["k"], grid=100
        ).collect()
    }
    want = {
        (l[0], r[0])
        for l in lrows
        for r in rrows
        if l[1] == r[1] and l[2] <= r[3] and r[2] <= l[3]
    }
    assert got == want and want


def test_sample_per_group_deterministic_and_stable(spark):
    """Same sample on rerun; removing other rows never changes which of
    the surviving rows are sampled (hash order is row-intrinsic); k caps
    every group."""
    from ucr_bigdata_snowfallproject_spark.operators import curation as cur

    d = load_table(spark, SF_SMOKE, "documents")
    s1 = {(r.doc_id, r.source) for r in cur.sample_per_group(d, "source", "doc_id", 5).collect()}
    s2 = {(r.doc_id, r.source) for r in cur.sample_per_group(d, "source", "doc_id", 5).collect()}
    assert s1 == s2
    per = {}
    for did, src in s1:
        per.setdefault(src, set()).add(did)
    assert all(len(v) <= 5 for v in per.values()) and len(per) > 1
    # drop half the corpus NOT in the sample: sampled survivors must keep
    # their membership (displacement-only stability)
    sampled_ids = {d_ for d_, _ in s1}
    half = d.filter((F.col("doc_id") % 2 == 0) | F.col("doc_id").isin(sampled_ids))
    s3 = {(r.doc_id, r.source) for r in cur.sample_per_group(half, "source", "doc_id", 5).collect()}
    # hash ranks are row-intrinsic: a surviving sampled row can only move
    # UP in rank when others are removed, so it must still be sampled
    assert s1 <= s3


def test_video_features_decode_known_params(spark):
    """The ISO-BMFF box walker reads back exactly the timescale/duration/
    track-count the synthesizer wrote (round-trip pin), and v1-mvhd and
    corrupt payloads behave (parsed / dropped)."""
    known = multimodal.mp4_bytes(duration_ms=2500, timescale=90_000, n_tracks=2)
    scale, dur, tracks = multimodal.decode_video_stdlib(known)
    assert (scale, tracks) == (90_000, 2) and round(dur * 1000 / scale) == 2500

    media = multimodal.synthesize_media(spark, n=30)
    feats = {r.media_id: r for r in multimodal.video_features(media).collect()}
    vids = {r.media_id for r in media.filter(F.col("kind") == "video").collect()}
    assert set(feats) == vids  # every synthetic MP4 decodes
    assert all(r.n_tracks in (1, 2) and 100 <= r.duration_ms <= 60_000
               for r in feats.values())

    import pytest

    with pytest.raises(ValueError):
        multimodal.decode_video_stdlib(b"\x00" * 64)


def test_profile_table_approx_switch_and_semantics(spark):
    """Profile counts match hand-derivation on a table WITH nulls; the
    approx (HLL) switch keeps exact null counts and lands distincts within
    sketch tolerance."""
    from ucr_bigdata_snowfallproject_spark.operators import aggregates as agg

    rows = [(i, float(i % 7) if i % 5 else None, "s%d" % (i % 3)) for i in range(200)]
    df = spark.createDataFrame(rows, "id long, v double, s string")
    prof = {r.col_name: r for r in agg.profile_table(df).collect()}
    assert prof["v"].n_nulls == 40 and prof["v"].n_distinct == 7
    assert prof["id"].n_nulls == 0 and prof["id"].n_distinct == 200
    assert prof["s"].min_d is None and prof["s"].n_distinct == 3
    assert prof["v"].min_d == 0.0 and prof["v"].max_d == 6.0
    approx = {r.col_name: r for r in agg.profile_table(df, approx=True).collect()}
    assert approx["v"].n_nulls == 40
    assert abs(approx["id"].n_distinct - 200) / 200 < 0.15


def test_snapshot_diff_hand_counts(spark):
    from ucr_bigdata_snowfallproject_spark.operators import aggregates as agg

    old = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c"), (4, None)], "k long, v string"
    )
    new = spark.createDataFrame(
        [(2, "b"), (3, "CHANGED"), (4, None), (5, "new")], "k long, v string"
    )
    d = {r.col_name: r for r in agg.snapshot_diff(old, new, "k").collect()}
    r = d["v"]
    assert (r.n_added, r.n_removed, r.n_changed, r.n_unchanged) == (1, 1, 1, 2)


def test_psi_drift_detects_shift(spark):
    """PSI ≈ 0 on identical snapshots; large under a location shift; the
    standard monitoring thresholds order correctly."""
    from ucr_bigdata_snowfallproject_spark.operators import aggregates as agg

    base = spark.range(2000).select((F.col("id") % 100).cast("double").alias("v"))
    same = agg.psi_drift(base, base, "v").first()
    assert abs(same.psi) < 1e-9 and same.n_old == same.n_new == 2000
    shifted = spark.range(2000).select(
        ((F.col("id") % 100) + 60).cast("double").alias("v")
    )
    drift = agg.psi_drift(base, shifted, "v").first()
    assert drift.psi > 0.25, drift.psi


def test_incremental_minhash_banded_index_identity(spark):
    """Probing a precomputed banded index table (the persisted-index scale
    path) keeps survivor sets identical to banding the signature frame at
    probe time."""
    d = load_table(spark, SF_SMOKE, "documents")
    seen = d.filter(F.col("doc_id") % 2 == 0)
    seen_sigs = dedup_ops.minhash_signatures_arrow(seen, "doc_id", "text")
    new = d.filter(F.col("doc_id") % 2 == 1)
    live = {
        r.doc_id
        for r in dedup_ops.incremental_minhash_dedup(
            new, seen_sigs, "doc_id", "text"
        ).select("doc_id").collect()
    }
    idx = dedup_ops.band_signatures(seen_sigs, "s")
    stored = {
        r.doc_id
        for r in dedup_ops.incremental_minhash_dedup(
            new, None, "doc_id", "text", seen_banded=idx
        ).select("doc_id").collect()
    }
    assert live == stored and live
    # ADVICE r08: a banded index carries its hash mode in the __bucket
    # type — probing the crc32-built index under hash='md5' (string
    # buckets vs int) would match nothing and silently pass every
    # near-dup through; it must refuse instead. Both directions.
    import pytest

    with pytest.raises(ValueError, match="hash mode"):
        dedup_ops.incremental_minhash_dedup(
            new, None, "doc_id", "text", seen_banded=idx, hash="md5"
        )
    idx_md5 = dedup_ops.band_signatures(seen_sigs, "s", hash="md5")
    with pytest.raises(ValueError, match="hash mode"):
        dedup_ops.incremental_minhash_dedup(
            new, None, "doc_id", "text", seen_banded=idx_md5, hash="crc32"
        )


def test_pq_int8_topk_empty_codebook_refused(spark):
    """ADVICE r08: an empty codebook_codes list raises the descriptive
    ValueError, not a bare IndexError from CB[0].shape."""
    import pytest

    e = load_table(spark, SF_SMOKE, "embeddings").limit(8)
    with pytest.raises(ValueError, match="codebook_codes is empty"):
        sim_ops.pq_int8_topk(e, e.limit(1), [], k=3)


def test_bpe_merge_learning_matches_reference(spark):
    """Distributed BPE merge learning ≡ a driver-side reference
    implementation (same greedy rule, same lexicographic tie-break) on a
    small corpus — merges, order, and weighted counts all identical."""
    from collections import Counter

    from ucr_bigdata_snowfallproject_spark.operators import text as text_ops

    texts = [
        "low lower lowest low low",
        "new newer newest new lower",
        "low new lowest newest newer",
    ]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "id long, text string")
    got = text_ops.learn_bpe_merges(df, "text", n_merges=8)

    # reference: classic BPE on the word-frequency table
    wf = Counter(w for t in texts for w in t.lower().split())
    vocab = {w: list(w) for w in wf}
    want = []
    for _ in range(8):
        pc: Counter = Counter()
        for w, syms in vocab.items():
            for a, b in zip(syms, syms[1:]):
                pc[(a, b)] += wf[w]
        if not pc:
            break
        best = min(pc.items(), key=lambda kv: (-kv[1], kv[0]))
        (a, b), cnt = best
        if cnt < 2:
            break
        want.append((a, b, cnt))
        for w, syms in vocab.items():
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            vocab[w] = out
    assert got == want and len(got) >= 5


def test_winsorize_clips_to_group_band(spark):
    """Winsorize keeps every row and clips exactly to each group's
    quantile band (numpy-checked); approx mode stays within sketch
    tolerance of the exact bounds."""
    import numpy as np

    from ucr_bigdata_snowfallproject_spark.operators import aggregates as agg

    rows = [(("a" if i % 2 else "b"), float(v)) for i, v in enumerate(range(200))]
    df = spark.createDataFrame(rows, "g string, v double")
    out = agg.winsorize(df, ["g"], "v", lower=0.1, upper=0.9, round_digits=None)
    got = [(r.g, r.v, r.v_wins) for r in out.collect()]
    assert len(got) == 200
    by_g = {}
    for g, v, _ in got:
        by_g.setdefault(g, []).append(v)
    for g, v, w in got:
        lo = float(np.quantile(np.array(by_g[g]), 0.1))
        hi = float(np.quantile(np.array(by_g[g]), 0.9))
        assert abs(w - min(max(v, lo), hi)) < 1e-9


# ---------------------------------------------------------------- round 5 ops


def test_index_artifacts_train_once_query_many(spark, tmp_path):
    """VERDICT r04 #4: ANN index artifacts outlive query jobs — centroids
    and PQ codebooks round-trip bit-identically through the snapshot
    store, and probing with a LOADED quantizer returns exactly what
    per-call training returns (same seed → same sample → same Lloyd
    fixpoint), so train-once/query-many is an identity, not an
    approximation."""
    from ucr_bigdata_snowfallproject_spark import index_store as ix

    e = load_table(spark, SF_SMOKE, "embeddings")
    q = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), "embedding"
    )

    def key(rows):
        return {(r.q_id, r.vec_id, r.sim) for r in rows}

    cents = sim_ops._train_centroids(e, "embedding", 16, 42)
    root_c = str(tmp_path / "centroids")
    ix.save_centroids(spark, cents, root_c)
    loaded = ix.load_centroids(spark, root_c)
    assert loaded == cents  # float64 parquet round-trip is exact

    per_call = sim_ops.ivf_topk(
        e, q, k=10, n_centroids=16, n_probe=4, seed=42
    ).collect()
    external = sim_ops.ivf_topk(e, q, k=10, n_probe=4, centroids=loaded).collect()
    assert key(external) == key(per_call) and per_call

    books = sim_ops._train_pq(e, "embedding", m=8, ksub=16, seed=42)
    root_p = str(tmp_path / "pq")
    ix.save_pq_codebooks(spark, books, root_p)
    lbooks = ix.load_pq_codebooks(spark, root_p)
    assert lbooks == books
    per_call_pq = sim_ops.pq_topk(e, q, k=10, m=8, ksub=16, seed=42).collect()
    external_pq = sim_ops.pq_topk(e, q, k=10, codebooks=lbooks).collect()
    assert key(external_pq) == key(per_call_pq) and per_call_pq


def test_minhash_index_artifact_probe_identity(spark, tmp_path):
    """The stored banded MinHash index (index_store round-trip, clustered
    on the probe key) probes identically to banding the signature frame
    fresh — the seen_banded fast path IS the persisted-index path."""
    from ucr_bigdata_snowfallproject_spark import index_store as ix

    docs = load_table(spark, SF_SMOKE, "documents")
    seen = docs.filter(F.col("doc_id") < 200)
    new = docs.filter((F.col("doc_id") >= 150) & (F.col("doc_id") < 300))
    sigs = dedup_ops.minhash_signatures_arrow(seen, "doc_id", "text", 64, 3)
    banded = dedup_ops.band_signatures(sigs, "s", 64, 16)
    root = str(tmp_path / "mh_index")
    ix.save_minhash_index(banded, root, n_files=4)
    loaded = ix.load_minhash_index(spark, root)
    assert loaded.count() == banded.count()

    fresh = {
        r.doc_id
        for r in dedup_ops.incremental_minhash_dedup(
            new, sigs, "doc_id", "text"
        ).select("doc_id").collect()
    }
    stored = {
        r.doc_id
        for r in dedup_ops.incremental_minhash_dedup(
            new, None, "doc_id", "text", seen_banded=loaded
        ).select("doc_id").collect()
    }
    assert stored == fresh and fresh


def test_dedup_pipeline_tiers_reliable_and_table(spark, tmp_path):
    """VERDICT r04 #5: the end-to-end near-dedup pipeline — minhash_dedup
    survivors AND dup_components labels — is
    tier-invariant under the fault-tolerant 'reliable' and
    restart-survivable 'table' materialization modes. The 100 TB
    deployment modes run here, not just in docstrings."""
    d = load_table(spark, SF_SMOKE, "documents").limit(150)
    base = {
        r.doc_id
        for r in dedup_ops.minhash_dedup(d, "doc_id", "text", threshold=0.8)
        .select("doc_id")
        .collect()
    }
    assert base
    for mode in ("reliable", "table"):
        kw = {"checkpoint_mode": mode}
        if mode == "table":
            kw["checkpoint_path"] = str(tmp_path / "sig_step")
        got = {
            r.doc_id
            for r in dedup_ops.minhash_dedup(
                d, "doc_id", "text", threshold=0.8, **kw
            ).select("doc_id").collect()
        }
        assert got == base, mode

    cand = dedup_ops.minhash_candidates(d, "doc_id", "text").filter(
        F.col("jaccard_est") >= 0.8
    ).select("id_a", "id_b")
    base_labels = {
        (r.id, r.comp)
        for r in dedup_ops.dup_components(cand, checkpoint_mode="local").collect()
    }
    assert base_labels
    for mode in ("reliable", "table"):
        got = {
            (r.id, r.comp)
            for r in dedup_ops.dup_components(cand, checkpoint_mode=mode).collect()
        }
        assert got == base_labels, mode


def test_ivf_indexed_probe_identity_and_partition_pruning(spark, tmp_path):
    """Probe-only IVF over the persisted inverted file returns exactly
    what the self-contained ivf_topk returns (same centroids), and the
    probe's static __cell filter reaches the partitioned store as a
    PartitionFilter — the scan reads probed cell dirs only."""
    import os

    from ucr_bigdata_snowfallproject_spark import index_store as ix
    from ucr_bigdata_snowfallproject_spark.plans import checks

    e = load_table(spark, SF_SMOKE, "embeddings")
    q = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), "embedding"
    )
    cents, cells = sim_ops.build_ivf_index(e, n_centroids=16, seed=42)
    root = str(tmp_path / "ivf_cells")
    ix.save_ivf_cells(cells, root)
    loaded = ix.load_ivf_cells(spark, root)
    # layout IS the index: one dir per cell
    vdir = os.path.join(root, "v=0")
    assert sum(n.startswith("__cell=") for n in os.listdir(vdir)) > 1

    base = sim_ops.ivf_topk(e, q, k=10, n_centroids=16, n_probe=4, seed=42).collect()
    got = sim_ops.ivf_topk_indexed(loaded, q, cents, k=10, n_probe=4).collect()
    key = lambda rows: {(r.q_id, r.vec_id, r.sim) for r in rows}  # noqa: E731
    assert key(got) == key(base) and base

    pruned = loaded.filter(F.col("__cell").isin([0, 3]))
    txt = checks.explain_str(pruned, "formatted")
    seg = txt.split("PartitionFilters", 1)
    assert len(seg) == 2 and "__cell" in seg[1][:200], txt[:500]


def test_apply_bpe_invariants(spark):
    """BPE encode: hand-computed merges apply in rank order (all
    occurrences), concatenating a word's tokens reproduces the normalized
    word, zero merges degrade to characters, and encoding a corpus with
    its own learned merges is deterministic."""
    from ucr_bigdata_snowfallproject_spark.operators import text as text_ops

    df = spark.createDataFrame(
        [(1, "abab  cab"), (2, "AB ab"), (3, None)],
        "doc_id long, text string",
    )
    # rank 0 merges first: a+b -> ab everywhere, then ab+ab -> abab
    merges = [("a", "b", 9), ("ab", "ab", 5)]
    got = {
        r.doc_id: (list(r.bpe_tokens), r.n_bpe_tokens)
        for r in text_ops.apply_bpe(df, "doc_id", "text", merges).collect()
    }
    assert got[1] == (["abab", "c", "ab"], 3)
    assert got[2] == (["ab", "ab"], 2)       # lowercased before encoding
    assert got[3] == ([], 0)                 # NULL text → empty encoding

    chars = {
        r.doc_id: list(r.bpe_tokens)
        for r in text_ops.apply_bpe(df, "doc_id", "text", []).collect()
    }
    assert chars[1] == list("ababcab")

    d = load_table(spark, SF_SMOKE, "documents").limit(100)
    learned = text_ops.learn_bpe_merges(d, "text", n_merges=16)
    a = {r.doc_id: list(r.bpe_tokens) for r in text_ops.apply_bpe(d, "doc_id", "text", learned).collect()}
    b = {r.doc_id: list(r.bpe_tokens) for r in text_ops.apply_bpe(d, "doc_id", "text", learned).collect()}
    assert a == b
    # round-trip: joining tokens reproduces the normalized text's words
    import re

    for r in d.select("doc_id", "text").collect()[:25]:
        words = [w for w in re.split(r"\s+", (r.text or "").strip().lower()) if w]
        toks = a[r.doc_id]
        assert "".join(toks) == "".join(words)


def test_mad_outlier_stats_hand_case(spark):
    """MAD robustness hand-case: med/MAD ignore the outlier they flag
    (a z-score detector would have its mean/std dragged by the 100)."""
    from ucr_bigdata_snowfallproject_spark.operators import aggregates as agg_ops

    df = spark.createDataFrame(
        [("a", 1.0), ("a", 2.0), ("a", 3.0), ("a", 4.0), ("a", 100.0),
         ("b", 5.0), ("b", 5.0), ("b", 5.0)],
        "g string, v double",
    )
    got = {r.g: r for r in agg_ops.mad_outlier_stats(df, ["g"], "v", k=3.0).collect()}
    assert got["a"].n == 5 and got["a"].med == 3.0 and got["a"].mad == 1.0
    assert got["a"].n_outliers == 1          # only the 100
    assert got["b"].mad == 0.0 and got["b"].n_outliers == 0  # zero spread


def test_stratified_sample_nested_deterministic(spark):
    """Hash-threshold stratified sampling: deterministic, default-rate 0
    drops unlisted strata entirely, and raising a rate only ADDS rows
    (samples at different rates nest — the ablation-study property)."""
    from ucr_bigdata_snowfallproject_spark.operators import curation as cur_ops

    d = load_table(spark, SF_SMOKE, "documents")
    lo = {r.doc_id for r in cur_ops.stratified_sample(
        d, "lang", {"en": 0.2}, "doc_id").select("doc_id").collect()}
    hi = {r.doc_id for r in cur_ops.stratified_sample(
        d, "lang", {"en": 0.6}, "doc_id").select("doc_id").collect()}
    again = {r.doc_id for r in cur_ops.stratified_sample(
        d, "lang", {"en": 0.2}, "doc_id").select("doc_id").collect()}
    assert lo == again and lo and lo < hi    # strict nesting on the fixture
    langs = {r.lang for r in cur_ops.stratified_sample(
        d, "lang", {"en": 0.5}, "doc_id").select("lang").distinct().collect()}
    assert langs == {"en"}                   # default_rate=0 drops the rest
    n_en = d.filter(F.col("lang") == "en").count()
    assert abs(len(hi) / n_en - 0.6) < 0.15  # rate is approximately honored


def test_seeded_samplers_identity_and_rate(spark):
    """The rows-only seeded Spark-sampler entries (sample_orders_seeded /
    stratified_sample_orders) keep their engine-native determinism pin:
    two runs draw the IDENTICAL row set (fixed seed), the realized rate
    is near the nominal fraction, and the portable md5-threshold twins
    (sample_orders_portable / stratified_sample_portable — the
    externally-proven faces, VERDICT r15 next-round #3) draw a
    same-sized-but-different set (different randomness, same
    distribution)."""
    from ucr_bigdata_snowfallproject_spark.queries import REGISTRY

    def rows(name):
        fn, _ = REGISTRY[name]
        return {tuple(r) for r in fn(spark, SF_SMOKE).collect()}

    n_orders = load_table(spark, SF_SMOKE, "orders").count()
    seeded = rows("sample_orders_seeded")
    assert seeded == rows("sample_orders_seeded")      # identity across runs
    assert abs(len(seeded) / n_orders - 0.1) < 0.05    # realized ≈ nominal
    portable = rows("sample_orders_portable")
    assert abs(len(portable) / n_orders - 0.1) < 0.05
    assert portable != seeded                          # different draws

    strat = rows("stratified_sample_orders")
    assert strat == rows("stratified_sample_orders")   # identity across runs
    strat_p = rows("stratified_sample_portable")
    # per-stratum realized rates near nominal for BOTH faces
    import collections
    frac = {"1-URGENT": 0.5, "2-HIGH": 0.2, "3-MEDIUM": 0.1,
            "4-NOT SPECIFIED": 0.1, "5-LOW": 0.05}
    totals = collections.Counter(
        r.o_orderpriority
        for r in load_table(spark, SF_SMOKE, "orders").collect()
    )
    for got in (strat, strat_p):
        by = collections.Counter(t[1] for t in got)
        for pri, f in frac.items():
            assert abs(by[pri] / totals[pri] - f) < 0.12, (pri, by[pri])


def test_funnel_counts_hand_case(spark):
    """Funnel ordering semantics: a click BEFORE the user's first view
    doesn't count; stages anchor at the earliest qualifying event; depth
    counts are non-increasing."""
    import datetime as dt

    from ucr_bigdata_snowfallproject_spark.operators.windows import funnel_counts

    t = lambda s: dt.datetime(2024, 1, 1, 0, 0, s)  # noqa: E731
    rows = [
        (1, t(1), "view"), (1, t(2), "click"), (1, t(3), "purchase"),
        (2, t(2), "view"), (2, t(1), "click"), (2, t(5), "purchase"),
        (3, t(1), "click"), (3, t(2), "purchase"),
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp, event_type string")
    got = {
        r.step: (r.step_idx, r.n_users)
        for r in funnel_counts(df, "user_id", "ts", "event_type",
                               ["view", "click", "purchase"]).collect()
    }
    assert got == {"view": (0, 2), "click": (1, 1), "purchase": (2, 1)}


def test_chunk_documents_overlap_semantics(spark):
    """Chunk windows step by chunk−overlap: consecutive chunks share
    exactly `overlap` tokens, every token appears in some chunk, the last
    chunk may be short, and empty docs produce no chunks."""
    from ucr_bigdata_snowfallproject_spark.operators import text as text_ops

    df = spark.createDataFrame(
        [(1, " ".join(f"t{i}" for i in range(10))), (2, "a b"), (3, "   ")],
        "doc_id long, text string",
    )
    got = {}
    rows = text_ops.chunk_documents(df, "doc_id", "text", chunk_tokens=8, overlap=2)
    for r in rows.collect():
        got.setdefault(r.doc_id, []).append((r.chunk_id, r.n_tokens, r.chunk_text))
    # doc 1: 10 tokens, step 6 → chunks [t0..t7], [t6..t9]
    assert sorted(got[1]) == [
        (0, 8, " ".join(f"t{i}" for i in range(8))),
        (1, 4, "t6 t7 t8 t9"),
    ]
    assert got[2] == [(0, 2, "a b")]      # short doc → one short chunk
    assert 3 not in got                    # whitespace-only → no chunks
    import pytest

    with pytest.raises(ValueError, match="overlap"):
        text_ops.chunk_documents(df, "doc_id", "text", chunk_tokens=4, overlap=4)


def test_shard_assignments_stability_and_balance(spark):
    """Sharding: deterministic across runs; appending new rows never
    reorders existing examples within a shard (hash order is per-row);
    shards are roughly balanced; (shard, pos) is a dense unique layout."""
    from ucr_bigdata_snowfallproject_spark.operators import curation as cur_ops

    d = load_table(spark, SF_SMOKE, "documents")
    half = d.filter(F.col("doc_id") < 250)

    def layout(df):
        return {
            r.doc_id: (r.shard, r.pos)
            for r in cur_ops.shard_assignments(df, "doc_id", n_shards=8).collect()
        }

    a, b = layout(d), layout(d)
    assert a == b and len(a) == d.count()
    # dense unique positions per shard
    by_shard: dict = {}
    for s, p in a.values():
        by_shard.setdefault(s, []).append(p)
    for s, ps in by_shard.items():
        assert sorted(ps) == list(range(1, len(ps) + 1)), s
    # rough balance: no shard more than 2.5x the mean
    mean = len(a) / 8
    assert all(len(ps) < 2.5 * mean for ps in by_shard.values())
    # append-stability: relative order of the old rows is unchanged
    small = layout(half)
    for s in range(8):
        old_order = [k for k, (sh, p) in sorted(small.items(), key=lambda kv: kv[1][1]) if sh == s]
        new_order = [k for k, (sh, p) in sorted(a.items(), key=lambda kv: kv[1][1])
                     if sh == s and k in small]
        assert old_order == new_order, s


def test_expectations_nulls_fail_and_quarantine_reasons(spark):
    """Quality gates: NULL conditions violate (never slip through),
    enforce keeps only all-pass rows, quarantine carries the sorted list
    of violated expectation names, and the split partitions the input."""
    from ucr_bigdata_snowfallproject_spark.operators import expectations as ex

    df = spark.createDataFrame(
        [(1, 10.0, "O"), (2, -5.0, "O"), (3, None, "X"), (4, 7.0, None)],
        "id long, price double, status string",
    )
    exps = {
        "pos_price": F.col("price") > 0,
        "known_status": F.col("status").isin("O", "F"),
    }
    rep = {r.expectation: (r.n_rows, r.n_fail)
           for r in ex.expectation_report(df, exps).collect()}
    assert rep == {"pos_price": (4, 2), "known_status": (4, 2)}

    kept = {r.id for r in ex.enforce_expectations(df, exps).collect()}
    assert kept == {1}
    passed, bad = ex.quarantine_split(df, exps)
    assert {r.id for r in passed.collect()} == {1}
    reasons = {r.id: list(r.failed) for r in bad.collect()}
    assert reasons == {
        2: ["pos_price"],
        3: ["known_status", "pos_price"],
        4: ["known_status"],
    }


def test_dsir_scores_prefer_target_domain(spark):
    """DSIR sanity: scoring the corpus against an English-target
    distribution must rank in-domain (en) documents above the rest on
    average — the signal the importance-resampling step selects on."""
    from ucr_bigdata_snowfallproject_spark.operators import curation

    d = load_table(spark, SF_SMOKE, "documents")
    scored = curation.dsir_scores(
        d, d.filter(F.col("lang") == "en"), "doc_id", "text"
    ).join(d.select("doc_id", "lang"), "doc_id")
    rows = scored.groupBy(F.col("lang") == "en").agg(
        F.avg("dsir_score").alias("m")
    ).collect()
    means = {r[0]: r.m for r in rows}
    assert means[True] > means[False]
    # every scored doc carries a feature count and a finite score
    assert scored.filter(F.col("n_feats") <= 0).count() == 0


def test_embedding_centroid_drift_self_is_one(spark):
    """A snapshot drifted against itself must give centroid_cos == 1.0
    for every label (exact fixed-point centroids are identical)."""
    e = load_table(spark, SF_SMOKE, "embeddings")
    out = sim_ops.embedding_centroid_drift(e, e, "label").collect()
    assert len(out) == 10
    assert all(r.centroid_cos == 1.0 for r in out)


def test_embedding_centroids_match_quantized_reference(spark):
    """Fixed-point centroids == a numpy replay of the same quantize →
    integer-sum → shifted floor division recurrence, exactly — including
    negative components (where Spark DIV and naive floor diverge)."""
    import math

    rows = [
        (0, [-0.51, 0.25, 0.0]),
        (0, [0.49, -0.75, 1.0]),
        (0, [-0.011, 0.333, -0.999]),
        (1, [-1.5, 2.5, -0.25]),
        (1, [0.5, -0.5, 0.125]),
    ]
    df = spark.createDataFrame(rows, "g int, embedding array<float>")
    got = {
        (r.g, r.pos): (r.c_fix, r.n)
        for r in sim_ops.embedding_centroids(df, "g").collect()
    }
    q, shift = 10**6, 4 * 10**6
    for g in (0, 1):
        vecs = [v for gg, v in rows if gg == g]
        for pos in range(3):
            qs = [int(math.floor(float(np_f32(v[pos])) * q + 0.5)) for v in vecs]
            s, n = sum(qs), len(qs)
            expected = (s + shift * n) // n - shift
            assert got[(g, pos)] == (expected, n), (g, pos, got[(g, pos)], expected)


def np_f32(x):
    import numpy as np

    return np.float32(x)


def test_quantize_embeddings_roundtrip_and_edges(spark):
    """int8 quantization: codes in [-127,127]; dequantize error per
    component is ≤ scale/2 (+ float32 read noise); a ±max component hits
    exactly ±127; zero vectors emit all-zero codes with scale 0; the
    element-wise codes of a hand vector match the formula."""
    data = [
        (1, [0.5, -1.0, 0.25, 0.0]),   # maxabs 1.0 → scale 1/127
        (2, [0.0, 0.0, 0.0, 0.0]),     # zero vector
        (3, [2.0, 1.0, -0.5, 0.1]),
    ]
    df = spark.createDataFrame(data, "vec_id long, embedding array<double>")
    q = sim_ops.quantize_embeddings(df, "vec_id")
    rows = {r.vec_id: r for r in q.collect()}

    import math

    def ref_codes(vec):
        m = max(abs(x) for x in vec)
        if m == 0:
            return [0] * len(vec), 0.0
        return [math.floor(x / m * 127 + 0.5) for x in vec], m / 127

    for vid, vec in data:
        exp_codes, exp_scale = ref_codes(vec)
        assert list(rows[vid].codes) == exp_codes, vid
        assert abs(rows[vid].q_scale - exp_scale) < 1e-15, vid
        assert all(-127 <= c <= 127 for c in rows[vid].codes)

    deq = sim_ops.dequantize_embeddings(q, out_col="recon")
    recon = {r.vec_id: list(r.recon) for r in deq.collect()}
    for vid, vec in data:
        scale = rows[vid].q_scale
        for orig, rec in zip(vec, recon[vid]):
            assert abs(orig - rec) <= scale / 2 + 1e-12, (vid, orig, rec)


def test_remove_boilerplate_lines_hand_case(spark):
    """Planted boilerplate: a footer line shared by 3 docs dies
    everywhere; unique lines and blank lines survive in order; an
    all-boilerplate doc stays as a row with cleaned_text=''."""
    from ucr_bigdata_snowfallproject_spark.operators.text import (
        remove_boilerplate_lines,
    )

    footer = "(c) 2026 example.com - all rights reserved"
    docs = [
        (1, f"alpha one\n\nbody text A\n{footer}"),
        (2, f"beta two\n{footer}\nbody text B"),
        (3, f"{footer}\ngamma three"),
        (4, footer),                       # all-boilerplate
        (5, "delta four\nunique line"),    # untouched
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = {
        r.doc_id: r
        for r in remove_boilerplate_lines(
            df, "doc_id", "text", min_doc_freq=3
        ).collect()
    }
    assert len(out) == 5
    assert out[1].cleaned_text == "alpha one\n\nbody text A"
    assert out[2].cleaned_text == "beta two\nbody text B"
    assert out[3].cleaned_text == "gamma three"
    assert out[4].cleaned_text == "" and out[4].n_kept == 0
    assert out[5].cleaned_text == "delta four\nunique line"
    assert out[1].n_lines == 4 and out[1].n_kept == 3


def test_char_entropy_hand_cases(spark):
    """Known entropies: uniform 4-char text = 2 bits; single-char = 0;
    empty = 0; 'aabb' = 1 bit; unicode counts as one char."""
    from ucr_bigdata_snowfallproject_spark.operators.text import char_entropy

    docs = [
        (1, "abcd"),      # 4 distinct, uniform -> 2.0
        (2, "aaaa"),      # single char -> 0.0
        (3, ""),          # empty -> 0.0
        (4, "aabb"),      # two chars, uniform -> 1.0
        (5, "éé"),        # unicode single char -> 0.0
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {r.doc_id: r.char_entropy for r in char_entropy(df, "doc_id", "text").collect()}
    assert got == {1: 2.0, 2: 0.0, 3: 0.0, 4: 1.0, 5: 0.0}


def test_histogram_fixed_clamping_and_empty_bins(spark):
    """Every group emits exactly n_bins rows; out-of-range values land in
    the edge bins; empty bins carry n=0; NULLs excluded."""
    from ucr_bigdata_snowfallproject_spark.operators.aggregates import histogram_fixed

    rows = [
        ("a", -5.0), ("a", 0.0), ("a", 9.9), ("a", 25.0), ("a", 100.0),
        ("b", 15.0), ("b", None),
    ]
    df = spark.createDataFrame(rows, "k string, v double")
    out = histogram_fixed(df, ["k"], "v", lo=0.0, hi=40.0, n_bins=4)
    res = {(r.k, r.bin): (r.n, r.lo_edge, r.hi_edge) for r in out.collect()}
    assert len(res) == 8  # 2 groups x 4 bins
    assert res[("a", 0)][0] == 3   # -5 clamped, 0.0, 9.9
    assert res[("a", 1)][0] == 0   # empty bin present
    assert res[("a", 2)][0] == 1   # 25.0
    assert res[("a", 3)][0] == 1   # 100 clamped into top bin
    assert res[("b", 1)][0] == 1 and res[("b", 0)][0] == 0  # NULL dropped
    assert res[("a", 2)][1:] == (20.0, 30.0)


def test_weighted_sample_prefers_heavy_and_is_deterministic(spark):
    """Efraimidis-Spirakis sampling: across many seeds, a 50×-heavier
    item wins the k=1 draw far more often than the light ones; identical
    seed ⇒ identical sample; weight≤0/NULL rows are unsampleable."""
    from ucr_bigdata_snowfallproject_spark.operators.curation import (
        weighted_sample_per_group,
    )

    rows = [("g", i, 500 if i == 0 else 10) for i in range(6)]
    rows += [("g", 96, 0), ("g", 97, -3), ("g", 98, None)]
    df = spark.createDataFrame(rows, "grp string, id long, w long")

    wins = 0
    n_seeds = 30
    for s in range(n_seeds):
        got = weighted_sample_per_group(
            df, ["grp"], "id", "w", k=1, seed=f"s{s}"
        ).collect()
        assert len(got) == 1
        assert got[0].id < 90  # nonpositive/NULL weights never sampled
        if got[0].id == 0:
            wins += 1
    # P(win) = 500/550 ≈ 0.909 per draw; 30 draws ⇒ <10 wins has
    # probability ~1e-12 — deterministic given the fixed seed list anyway
    assert wins >= 10, wins

    a = weighted_sample_per_group(df, ["grp"], "id", "w", k=3, seed="x").collect()
    b = weighted_sample_per_group(df, ["grp"], "id", "w", k=3, seed="x").collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_bigram_logppl_hand_case(spark):
    """Hand-computable LM: corpus {'a b a b', 'a b'} -> p(b|a)=4/5,
    p(a|b)=2/3; doc scores are the quantized-term means; a one-token doc
    emits no row."""
    import math

    from ucr_bigdata_snowfallproject_spark.operators.text import bigram_logppl

    docs = [(1, "a b a b"), (2, "a b"), (3, "solo")]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        r.doc_id: (r.bigram_logppl, r.n_bigrams)
        for r in bigram_logppl(df, "doc_id", "text").collect()
    }

    def q(p):
        return math.floor(-math.log(p) * 1e12 + 0.5)

    t_ab, t_ba = q(4 / 5), q(2 / 3)
    exp1 = math.floor((t_ab * 2 + t_ba) / 3 / 1e12 * 1e6 + 0.5) / 1e6
    exp2 = math.floor(float(t_ab) / 1 / 1e12 * 1e6 + 0.5) / 1e6
    assert got == {1: (exp1, 3), 2: (exp2, 1)}


def test_audio_chunk_manifest_known_layout(spark):
    """Chunk manifest over a known WAV (8kHz mono, 160 samples = 20ms):
    5ms chunks, 1ms overlap -> starts at 0,4,8,12,16; last window short;
    byte ranges match 16-bit PCM after the 44-byte header."""
    from ucr_bigdata_snowfallproject_spark.operators import multimodal

    payload = multimodal.wav_bytes(sample_rate=8000, n_channels=1, n_samples=160)
    media = spark.createDataFrame(
        [(1, "audio", payload), (2, "audio", b"not a wav")],
        "media_id long, kind string, payload binary",
    )
    rows = sorted(
        multimodal.audio_chunk_manifest(media, chunk_ms=5, overlap_ms=1).collect(),
        key=lambda r: r.chunk_id,
    )
    assert [r.media_id for r in rows] == [1] * len(rows)  # corrupt row dropped
    assert [(r.start_ms, r.end_ms) for r in rows] == [
        (0, 5), (4, 9), (8, 13), (12, 17), (16, 20)
    ]
    # 8kHz mono PCM16 = 16 bytes/ms, header 44
    assert rows[0].byte_start == 44 and rows[0].byte_end == 44 + 5 * 16
    assert rows[-1].byte_end == 44 + 20 * 16  # exactly the data chunk end


def test_bloom_bitmap_artifact_roundtrip(spark, tmp_path):
    """build_bloom_bitmap → save → load → bloom_semi_join(bitmap=...)
    equals both the build-inline form and the plain semi join; the loaded
    parameters drive the probe."""
    from ucr_bigdata_snowfallproject_spark.index_store import (
        load_bloom_bitmap, save_bloom_bitmap,
    )
    from ucr_bigdata_snowfallproject_spark.operators.relational import (
        bloom_semi_join, build_bloom_bitmap, semi_join,
    )

    li = load_table(spark, SF_SMOKE, "lineitem").select("l_orderkey", "l_linenumber")
    hot = load_table(spark, SF_SMOKE, "orders").filter(F.col("o_totalprice") > 400000)

    bm = build_bloom_bitmap(hot, "o_orderkey", num_bits=1 << 14, num_hashes=3)
    root = str(tmp_path / "bloom")
    save_bloom_bitmap(spark, bm, root, num_bits=1 << 14, num_hashes=3)
    loaded, nb, nh = load_bloom_bitmap(spark, root)
    assert loaded == bm and nb == 1 << 14 and nh == 3

    via_artifact = bloom_semi_join(
        li, hot, "l_orderkey", "o_orderkey", num_bits=nb, num_hashes=nh,
        bitmap=loaded,
    )
    plain = semi_join(
        li, hot.select(F.col("o_orderkey").alias("l_orderkey")), ["l_orderkey"]
    )
    assert via_artifact.exceptAll(plain).count() == 0
    assert plain.exceptAll(via_artifact).count() == 0


def test_bloom_semi_join_join_mode_matches_literal(spark):
    """Round 13: the broadcast word-table probe (mode="join") == the
    array-literal probe == the plain semi join, at a word count 32× the
    literal ceiling AND at a tiny bitmap (false-positive-dominated);
    auto mode picks join above _BLOOM_LITERAL_MAX_WORDS; a prebuilt
    bitmap list feeds the join form too (occupied-words conversion)."""
    from ucr_bigdata_snowfallproject_spark.operators.relational import (
        _BLOOM_LITERAL_MAX_WORDS, bloom_semi_join, build_bloom_bitmap,
        semi_join,
    )

    li = load_table(spark, SF_SMOKE, "lineitem").select(
        "l_orderkey", "l_linenumber"
    )
    hot = load_table(spark, SF_SMOKE, "orders").filter(
        F.col("o_totalprice") > 400000
    )
    plain = sorted(
        map(
            tuple,
            semi_join(
                li,
                hot.select(F.col("o_orderkey").alias("l_orderkey")),
                ["l_orderkey"],
            ).collect(),
        )
    )
    big = 64 * _BLOOM_LITERAL_MAX_WORDS * 32
    for nb, mode in ((big, "join"), (big, None), (1 << 8, "join"),
                     (1 << 14, "literal")):
        got = sorted(
            map(
                tuple,
                bloom_semi_join(
                    li, hot, "l_orderkey", "o_orderkey", num_bits=nb,
                    mode=mode,
                ).collect(),
            )
        )
        assert got == plain, f"num_bits={nb} mode={mode}"
    # prebuilt bitmap → join form: the dense list converts driver-side to
    # the occupied-words frame and probes identically
    bm = build_bloom_bitmap(hot, "o_orderkey", num_bits=1 << 14, num_hashes=3)
    via_list = sorted(
        map(
            tuple,
            bloom_semi_join(
                li, hot, "l_orderkey", "o_orderkey", num_bits=1 << 14,
                bitmap=bm, mode="join",
            ).collect(),
        )
    )
    assert via_list == plain


def test_bloom_anti_join_matches_plain(spark):
    """Round 13: bloom_anti_join == plain left-anti join in every probe
    form — the Bloom miss branch keeps definite non-members with zero
    exchange, the hit branch's exact anti join rescues false positives.
    A fp-SATURATED bitmap (all-ones single word: every probe 'hits')
    degrades to the plain anti join; an empty build side keeps all."""
    from ucr_bigdata_snowfallproject_spark.operators.relational import (
        anti_join, bloom_anti_join,
    )

    li = load_table(spark, SF_SMOKE, "lineitem").select(
        "l_orderkey", "l_linenumber"
    )
    hot = load_table(spark, SF_SMOKE, "orders").filter(
        F.col("o_totalprice") > 400000
    )
    plain = sorted(
        map(
            tuple,
            anti_join(
                li,
                hot.select(F.col("o_orderkey").alias("l_orderkey")),
                ["l_orderkey"],
            ).collect(),
        )
    )
    assert plain
    for kw in (
        {},  # auto: join form
        {"mode": "literal", "num_bits": 1 << 14},
        {"mode": "join", "num_bits": 1 << 23},
        {"mode": "literal", "num_bits": 64, "bitmap": [-1]},  # fp-saturated
    ):
        got = sorted(
            map(
                tuple,
                bloom_anti_join(
                    li, hot, "l_orderkey", "o_orderkey", **kw
                ).collect(),
            )
        )
        assert got == plain, kw
    empty = hot.filter(F.lit(False))
    kept = bloom_anti_join(
        li, empty, "l_orderkey", "o_orderkey", num_bits=1 << 10
    ).count()
    assert kept == li.count()


def test_decontaminate_spans_bloom_matches_exact(spark):
    """Round 13: decontaminate_spans(bloom_prefilter=True) == the exact
    operator row-for-row — the anchor-side Bloom prefilter only admits
    a superset of matching fingerprints and the anchor equi-join
    rescues false positives — in BOTH eval-side plans (broadcast and
    forced-shuffled, where the prefilter actually cuts the exchange);
    excise_spans rides the same switch."""
    d = load_table(spark, SF_SMOKE, "documents")
    train = d.filter(F.col("doc_id") % 7 != 0)
    ev = d.filter(F.col("doc_id") % 7 == 0)
    rows = lambda df: sorted(map(tuple, df.collect()))
    exact = rows(
        curation_ops.decontaminate_spans(
            train, ev, "doc_id", "text", min_tokens=12
        )
    )
    assert any(r[6] for r in exact)  # fixture must contain contamination
    for bc in (None, False):
        got = rows(
            curation_ops.decontaminate_spans(
                train, ev, "doc_id", "text", min_tokens=12,
                broadcast_eval=bc, bloom_prefilter=True,
            )
        )
        assert got == exact, f"broadcast_eval={bc}"
    exact_x = rows(
        curation_ops.excise_spans(train, ev, "doc_id", "text", min_tokens=12)
    )
    got_x = rows(
        curation_ops.excise_spans(
            train, ev, "doc_id", "text", min_tokens=12, bloom_prefilter=True
        )
    )
    assert got_x == exact_x


def test_bloom_words_artifact_roundtrip(spark, tmp_path):
    """Round 13: the occupied-words frame artifact — build_bloom_words →
    save_bloom_words → load_bloom_words → bloom_semi_join(words=...) ==
    the plain semi join, at a num_bits only the sparse artifact can
    carry (2^34 — the dense bitmap list would be 256 MiB of driver
    words and an int32 overflow in the dense artifact's schema); the
    loaded params drive the probe; a words frame with mode='literal'
    refuses."""
    import pytest as _pytest

    from ucr_bigdata_snowfallproject_spark.index_store import (
        load_bloom_words, save_bloom_words,
    )
    from ucr_bigdata_snowfallproject_spark.operators.relational import (
        bloom_semi_join, build_bloom_words, semi_join,
    )

    li = load_table(spark, SF_SMOKE, "lineitem").select(
        "l_orderkey", "l_linenumber"
    )
    hot = load_table(spark, SF_SMOKE, "orders").filter(
        F.col("o_totalprice") > 400000
    )
    nb = 1 << 34
    w = build_bloom_words(hot, "o_orderkey", num_bits=nb, num_hashes=3)
    root = str(tmp_path / "bloom_words")
    save_bloom_words(w, root, num_bits=nb, num_hashes=3)
    loaded_w, lnb, lnh = load_bloom_words(spark, root)
    assert (lnb, lnh) == (nb, 3)
    got = sorted(
        map(
            tuple,
            bloom_semi_join(
                li, hot, "l_orderkey", "o_orderkey", num_bits=lnb,
                num_hashes=lnh, words=loaded_w, mode="join",
            ).collect(),
        )
    )
    plain = sorted(
        map(
            tuple,
            semi_join(
                li,
                hot.select(F.col("o_orderkey").alias("l_orderkey")),
                ["l_orderkey"],
            ).collect(),
        )
    )
    assert got == plain
    with _pytest.raises(ValueError, match="words frame"):
        bloom_semi_join(
            li, hot, "l_orderkey", "o_orderkey", num_bits=1 << 10,
            words=loaded_w, mode="literal",
        )


def test_bloom_auto_bits_rule():
    """The decontaminate_bloom auto-sizing rule (round 13, VERDICT r12
    What's-wrong #1): ~10 bits per estimated eval shingle, next power of
    two, floor 2^14 — and the sf0.1-shaped estimate (~13k shingles)
    reproduces the 2^17 the r12 gated query pinned BY HAND after
    measuring the 2^20 literal's 14-16 s plan/codegen cliff."""
    from ucr_bigdata_snowfallproject_spark.operators.curation import (
        _bloom_auto_bits,
    )

    assert _bloom_auto_bits(0) == 1 << 14
    assert _bloom_auto_bits(1) == 1 << 14
    assert _bloom_auto_bits(1638) == 1 << 14  # 16,380 ≤ 2^14
    assert _bloom_auto_bits(1639) == 1 << 15
    assert _bloom_auto_bits(13_000) == 1 << 17  # the r12 manual choice
    assert _bloom_auto_bits(13_108) == 1 << 18
    # no ceiling: a 10^9-shingle eval union gets an fp-correct 2^34 —
    # unreachable as a plan literal, served by the join form
    assert _bloom_auto_bits(10**9) == 1 << 34


def test_dedupe_doc_lines_hand_case(spark):
    """Repeated non-blank lines keep the FIRST occurrence only; blanks
    always survive; trim-equal lines count as repeats; zero-shuffle."""
    from ucr_bigdata_snowfallproject_spark.operators.text import dedupe_doc_lines
    from ucr_bigdata_snowfallproject_spark.plans import checks

    docs = [
        (1, "a\nb\na\n\nb\nc"),        # a,b repeat; blank kept
        (2, "x\n x \nx"),              # ' x ' trims to x -> repeat
        (3, ""),                        # empty doc
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = dedupe_doc_lines(df, "doc_id", "text")
    assert checks.shuffle_count(out) == 0
    got = {r.doc_id: (r.n_lines, r.n_kept, r.cleaned_text) for r in out.collect()}
    assert got[1] == (6, 4, "a\nb\n\nc")
    assert got[2] == (3, 1, "x")
    assert got[3] == (1, 1, "")


def test_ngram_containment_quote_detection(spark):
    """A short doc quoted verbatim inside a long doc scores containment
    ≈1 in the short→long direction while its Jaccard stays small — the
    asymmetry that motivates the operator."""
    from ucr_bigdata_snowfallproject_spark.operators.dedup import (
        ngram_containment_all_pairs, ngram_jaccard_all_pairs,
    )

    quote = "the quick brown fox jumps over the lazy dog"
    filler = " ".join(f"w{i}" for i in range(200))
    docs = [(1, quote), (2, f"{filler} {quote} {filler}")]
    df = spark.createDataFrame(docs, "doc_id long, text string")

    cont = ngram_containment_all_pairs(df, "doc_id", "text", n=3).collect()
    assert len(cont) == 1
    r = cont[0]
    assert (r.id_a, r.id_b) == (1, 2)
    assert r.containment_a_in_b >= 0.99         # the quote is fully inside
    assert r.containment_b_in_a < 0.1           # the long doc is not in the quote

    jac = ngram_jaccard_all_pairs(df, "doc_id", "text", n=3).collect()
    assert jac[0].jaccard < 0.1                  # symmetric score misses it


def test_proportional_interleave_evenness(spark):
    """A 90/10 source mix interleaves ~9:1 throughout: within any prefix
    of the global order, each source's share tracks its corpus share to
    within one item-per-source; determinism across calls."""
    from ucr_bigdata_snowfallproject_spark.operators.curation import (
        proportional_interleave,
    )

    rows = [(i, "big") for i in range(90)] + [(1000 + i, "small") for i in range(10)]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    out = proportional_interleave(df, "source", "doc_id")
    ordered = [r.source for r in out.orderBy("interleave_rank").collect()]
    assert len(ordered) == 100
    for prefix in (10, 25, 50, 75, 100):
        n_small = sum(1 for s in ordered[:prefix] if s == "small")
        expected = prefix * 10 / 100
        assert abs(n_small - expected) <= 1, (prefix, n_small)

    again = [r.source for r in proportional_interleave(df, "source", "doc_id")
             .orderBy("interleave_rank").collect()]
    assert ordered == again


def test_term_distribution_jsd_bounds_and_identity(spark):
    """JSD properties: identical corpora -> 0 bits; disjoint vocabularies
    -> 1 bit; symmetric in its arguments."""
    from ucr_bigdata_snowfallproject_spark.operators.text import (
        term_distribution_jsd,
    )

    a = spark.createDataFrame([(1, "apple banana apple")], "i long, text string")
    b = spark.createDataFrame([(2, "cherry date date")], "i long, text string")

    same = term_distribution_jsd(a, a, "text").collect()[0]
    assert same.jsd_bits == 0.0

    disj = term_distribution_jsd(a, b, "text").collect()[0]
    assert disj.jsd_bits == 1.0
    assert disj.vocab == 4 and disj.n_terms_a == 3 and disj.n_terms_b == 3

    fwd = term_distribution_jsd(a, b, "text").collect()[0].jsd_bits
    rev = term_distribution_jsd(b, a, "text").collect()[0].jsd_bits
    assert fwd == rev


def test_bm25_ranking_semantics(spark):
    """BM25 on a hand-built corpus: a document matching BOTH query terms
    outranks single-term documents; a rarer term contributes more than a
    common one (idf ordering); scores are non-negative (Lucene variant)."""
    from ucr_bigdata_snowfallproject_spark.operators import retrieval

    docs = spark.createDataFrame(
        [
            (1, "quantum common stuff here"),    # both query terms
            (2, "quantum theory basics here"),   # rare term only
            (3, "common words common words"),    # common term only, tf=2
            (4, "common filler text here"),      # common term only
            (5, "unrelated content entirely"),
        ],
        "doc_id long, text string",
    )
    q = spark.createDataFrame([(0, "quantum common")], "query_id long, query string")
    out = retrieval.bm25_topk(q, docs, "doc_id", "text", k=5)
    rows = {r.doc_id: (r.rank, r.score) for r in out.collect()}
    assert 5 not in rows                      # no shared term → never scored
    assert all(s >= 0 for _, s in rows.values())
    assert rows[1][0] == 1                    # both-terms doc wins
    # 'quantum' (df=2) must outscore 'common' (df=3) at equal tf:
    assert rows[2][1] > rows[3][1]


def test_bm25_prebuilt_stats_identity(spark):
    """Train-once/query-many: scoring against prebuilt corpus stats (as a
    user would after persisting them through table.py) is bit-identical to
    the inline single-plan form."""
    from ucr_bigdata_snowfallproject_spark.operators import retrieval

    docs = load_table(spark, SF_SMOKE, "documents").limit(100)
    q = spark.createDataFrame(
        [(0, "spark window agg"), (1, "fast table scan")],
        "query_id long, query string",
    )
    inline = retrieval.bm25_topk(q, docs, "doc_id", "text", k=5).collect()
    stats = retrieval.bm25_corpus_stats(docs, "doc_id", "text")
    reused = retrieval.bm25_topk(
        q, docs, "doc_id", "text", k=5, corpus_stats=stats
    ).collect()
    key = lambda r: (r.query_id, r.rank)  # noqa: E731
    assert sorted(inline, key=key) == sorted(reused, key=key)


def test_bm25_corpus_stats_inrow_matches_explode_groupby(spark):
    """Round 18 (VERDICT r17 #4 — the in-row TF/DL build): tf, lens and
    dfreq from the run-length-over-sorted-array form equal the old
    explode → (doc, term) groupBy reference EXACTLY, including the edge
    docs the old form silently dropped (empty text, whitespace-only
    text, NULL text: no tf rows, no lens row)."""
    from ucr_bigdata_snowfallproject_spark.operators import retrieval
    from ucr_bigdata_snowfallproject_spark.operators.text import tokens

    docs = spark.createDataFrame(
        [
            (1, "b a c a b a"),
            (2, "  x   x  "),          # multi-space → empty tokens dropped
            (3, ""),                   # no tokens → absent everywhere
            (4, "   "),                # whitespace-only → absent everywhere
            (5, None),                 # NULL text → absent everywhere
            (6, "z"),
        ],
        "doc_id long, text string",
    )
    tf, lens, dfreq = retrieval.bm25_corpus_stats(
        docs, "doc_id", "text", persist_tf=False
    )
    # the pre-r18 reference build
    terms = docs.select(
        F.col("doc_id"), F.explode(tokens("text")).alias("term")
    ).filter(F.col("term") != "")
    ref_tf = terms.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    ref_lens = ref_tf.groupBy("doc_id").agg(F.sum("tf").alias("dl"))
    ref_dfreq = ref_tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    key = lambda df: sorted(tuple(r) for r in df.collect())  # noqa: E731
    assert key(tf) == key(ref_tf)
    assert key(lens) == key(ref_lens)
    assert key(dfreq) == key(ref_dfreq)
    names_types = lambda df: [(f.name, f.dataType) for f in df.schema]  # noqa: E731
    assert names_types(tf) == names_types(ref_tf)      # (doc_id, term, tf)
    assert names_types(lens) == names_types(ref_lens)  # nullability may differ
    assert names_types(dfreq) == names_types(ref_dfreq)


def test_key_skew_stats_hand_case(spark):
    """One hot key (90 rows) + 10 singleton keys: every stat is hand
    computable; the approx-percentile switch stays within sketch error."""
    from ucr_bigdata_snowfallproject_spark.operators.aggregates import (
        key_skew_stats,
    )

    rows = [(0,)] * 90 + [(k,) for k in range(1, 11)]
    df = spark.createDataFrame(rows, "k long")
    r = key_skew_stats(df, ["k"]).collect()[0]
    assert (r.n_keys, r.n_rows, r.max_count) == (11, 100, 90)
    assert r.p50_count == 1.0          # 10 of 11 keys are singletons
    assert r.top_share == 0.9
    # cv = sqrt(11*(8100+10) - 100^2)/100 = sqrt(79210)/100
    import math

    assert r.cv_count == round(math.sqrt(11 * 8110 - 10000) / 100, 6)

    ra = key_skew_stats(df, ["k"], approx=True).collect()[0]
    assert (ra.n_keys, ra.n_rows, ra.max_count) == (11, 100, 90)
    assert abs(ra.p50_count - 1.0) <= 1.0


def test_bm25_index_roundtrip(spark, tmp_path):
    """Persisted BM25 corpus stats (index_store.save/load_bm25_stats)
    answer queries bit-identically to the inline form — the
    train-once/query-many artifact shape; the corpus text is never
    re-read at probe time."""
    from ucr_bigdata_snowfallproject_spark import index_store as ix
    from ucr_bigdata_snowfallproject_spark.operators import retrieval

    docs = load_table(spark, SF_SMOKE, "documents").limit(120)
    q = spark.createDataFrame(
        [(0, "spark window agg"), (1, "stream batch merge")],
        "query_id long, query string",
    )
    inline = retrieval.bm25_topk(q, docs, "doc_id", "text", k=5).collect()

    root = str(tmp_path / "bm25_idx")
    stats = retrieval.bm25_corpus_stats(docs, "doc_id", "text", persist_tf=False)
    versions = ix.save_bm25_stats(*stats, root)
    assert versions == (0, 0, 0)
    loaded = ix.load_bm25_stats(spark, root)
    reused = retrieval.bm25_topk(
        q, docs, "doc_id", "text", k=5, corpus_stats=loaded
    ).collect()
    key = lambda r: (r.query_id, r.rank)  # noqa: E731
    assert sorted(inline, key=key) == sorted(reused, key=key)


def test_heavy_hitters_exact_across_partitionings(spark):
    """The MG candidate phase must never lose a true heavy hitter
    regardless of partition layout: compare against the plain
    groupBy/HAVING answer on a skewed synthetic column under 1, 7, and 32
    partitions; also pin the tiny-counter edge (k far below the distinct
    count) where compaction pressure is maximal."""
    from ucr_bigdata_snowfallproject_spark.operators.aggregates import (
        heavy_hitters,
    )

    # 3 hot values (1200/800/400 rows) + 400 singleton values, n=2800
    rows = (
        [("hot_a",)] * 1200 + [("hot_b",)] * 800 + [("hot_c",)] * 400
        + [(f"cold_{i}",) for i in range(400)]
    )
    df = spark.createDataFrame(rows, "v string")
    expected = {("hot_a", 1200), ("hot_b", 800), ("hot_c", 400)}  # >5% of 2800
    for parts in (1, 7, 32):
        got = {
            (r.item, r.cnt)
            for r in heavy_hitters(
                df.repartition(parts), "v", min_share=0.05
            ).collect()
        }
        assert got == expected, (parts, got)
    # counters below the guarantee bound are clamped up (ceil(1/0.05)=20),
    # so exactness survives a user lowball; a raised value is honored too
    for forced in (3, 100):
        got = {
            (r.item, r.cnt)
            for r in heavy_hitters(
                df.repartition(5), "v", min_share=0.05, counters=forced
            ).collect()
        }
        assert got == expected, forced


def test_session_state_release_paths(spark):
    """Round-6 bench-hygiene contract (VERDICT r05 #1): operators that
    persist multi-consumer intermediates register them for bulk release,
    and clear_session_state drops EVERY persistent block — including
    localCheckpoint blocks catalog.clearCache() can't see — while leaving
    persisted (non-checkpointed) frames recomputable."""
    from ucr_bigdata_snowfallproject_spark.operators import retrieval, text
    from ucr_bigdata_snowfallproject_spark.operators._util import (
        _TRACKED,
        release_tracked,
    )
    from ucr_bigdata_snowfallproject_spark.session import clear_session_state

    clear_session_state(spark)  # start from a clean slate
    docs = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "alpha beta"), (3, "beta beta delta")],
        "doc_id long, text string",
    )
    q = spark.createDataFrame([(0, "beta delta")], "query_id long, query string")
    before = len(_TRACKED)
    out = retrieval.bm25_topk(q, docs, "doc_id", "text", k=2)
    rows1 = out.count()
    tf_out = text.tfidf_top_terms(docs, "doc_id", "text", k=2)
    tf_rows = tf_out.count()
    assert len(_TRACKED) >= before + 2  # both persist sites registered
    jsc = spark.sparkContext._jsc
    assert jsc.getPersistentRDDs().size() >= 1
    assert release_tracked() >= 1
    clear_session_state(spark)
    assert jsc.getPersistentRDDs().size() == 0
    # persisted-not-checkpointed frames recompute identically after release
    assert out.count() == rows1
    assert tf_out.count() == tf_rows
    clear_session_state(spark)


def test_pagerank_release_caches_is_self_contained(spark):
    """ADVICE r09 #2: ``pagerank(release_caches=True)`` unpersists every
    frame the call persisted (edges, invariants, per-round ranks) before
    returning, leaving ZERO persistent blocks behind — and the eagerly
    checkpointed result is bit-identical to the default lazy-plan form."""
    from ucr_bigdata_snowfallproject_spark.operators import graph
    from ucr_bigdata_snowfallproject_spark.session import clear_session_state

    clear_session_state(spark)
    edges = [(0, 1), (1, 2), (2, 0), (2, 3), (3, 3), (4, 0)]
    df = spark.createDataFrame(edges, "s long, d long")
    # persist mode exercises per-round rank persists too (n_iter > 5 would;
    # force it explicitly so the test stays fast)
    expected = {
        r.node: r.rank_fix
        for r in graph.pagerank(
            df, "s", "d", n_iter=3, checkpoint_mode="persist"
        ).collect()
    }
    clear_session_state(spark)
    jsc = spark.sparkContext._jsc
    assert jsc.getPersistentRDDs().size() == 0
    got_df = graph.pagerank(
        df, "s", "d", n_iter=3, checkpoint_mode="persist", release_caches=True
    )
    # the ONLY block left is the returned result's own localCheckpoint
    # storage (the caller's data — releasing that too would defeat the
    # call); every operator-internal persist (edges, invariants, per-round
    # ranks — several frames in persist mode) is gone
    assert jsc.getPersistentRDDs().size() == 1
    assert {r.node: r.rank_fix for r in got_df.collect()} == expected
    clear_session_state(spark)
    assert jsc.getPersistentRDDs().size() == 0


def test_heavy_hitters_rejects_non_round_trippable_types(spark):
    """ADVICE r05: binary (invalid UTF-8 collapses under cast-to-string)
    and complex types (non-injective rendering) must be rejected loudly,
    not silently merged; atomic numerics/strings stay supported."""
    import pytest as _pytest

    from ucr_bigdata_snowfallproject_spark.operators import aggregates

    b = spark.createDataFrame([(bytearray(b"\xff\xfe"),)], "item binary")
    with _pytest.raises(TypeError, match="binary"):
        aggregates.heavy_hitters(b, "item", min_share=0.5)
    a = spark.createDataFrame([([1, 2],)], "item array<int>")
    with _pytest.raises(TypeError, match="array"):
        aggregates.heavy_hitters(a, "item", min_share=0.5)
    ok = spark.createDataFrame([(1.5,), (1.5,), (2.0,)], "item double")
    got = {
        (r.item, r.cnt)
        for r in aggregates.heavy_hitters(ok, "item", min_share=0.5).collect()
    }
    assert got == {(1.5, 2)}


def test_key_skew_stats_cv_exact_past_int64(spark):
    """ADVICE r05: n_keys·Σc² must not wrap int64. Counts of ~3·10⁹ per
    key would previously overflow the long product; the decimal path keeps
    the CV exact. Simulated via pre-aggregated counts through the same
    expression (driving 10⁹ real rows through a unit test is pointless):
    verify the decimal expression at the operator level with counts whose
    Σc² exceeds 2⁶³."""
    from pyspark.sql import functions as F

    # Two keys with huge per-key counts: c = 4e9 each → Σc² = 3.2e19 > 2⁶³.
    counts = spark.createDataFrame(
        [(4_000_000_000,), (4_000_000_000,)], "__c long"
    )
    row = counts.agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.sum("__c").alias("n_rows"),
        F.sum(F.col("__c").cast("decimal(19,0)") * F.col("__c")).alias("__sum2"),
    ).select(
        F.sqrt(
            (
                F.col("n_keys").cast("decimal(19,0)") * F.col("__sum2")
                - F.col("n_rows").cast("decimal(19,0)") * F.col("n_rows")
            ).cast("double")
        ).alias("num")
    ).collect()[0]
    # uniform counts → variance 0 → exact 0.0 (int64 would have wrapped
    # into garbage or NaN under sqrt)
    assert row.num == 0.0


def test_twa_exact_at_int64_overflow_boundary(spark):
    """VERDICT r05 #4: Σ(v·dur) must not wrap int64. At scale=100 /
    hourly buckets a long·long product overflows for |value| ≳ 2.56e7;
    values near and past that boundary must still match the DuckDB
    oracle (HUGEINT sums) exactly — the decimal(38,0) path guarantees it."""
    import datetime

    import duckdb

    from ucr_bigdata_snowfallproject_spark.operators.resample import (
        time_weighted_avg,
    )

    t0 = datetime.datetime(2024, 1, 1, 0, 0, 0)

    def at(minutes):
        return t0 + datetime.timedelta(minutes=minutes)

    # v=4e7 → __v=4e9 cents; a full-hour segment's product is
    # 4e9·3.6e9 = 1.44e19 > 2^63 ≈ 9.22e18 (wraps as a long multiply).
    rows = [
        (1, at(0), 40_000_000.0),     # held 2 full hours
        (1, at(120), -30_000_000.0),  # negative side of the boundary
        (1, at(180), 12_345_678.9),   # partial coverage tail
        (1, at(210), 0.0),
    ]
    df = spark.createDataFrame(rows, "k long, ts timestamp, v double")
    out = time_weighted_avg(df, ["k"], "ts", "v", bucket_us=3_600_000_000)
    got = sorted(
        (r.k, str(r.bucket_start), r.covered_us, r.twa) for r in out.collect()
    )

    con = duckdb.connect()
    vals = ", ".join(
        f"(1, TIMESTAMP '{ts.isoformat(sep=' ')}', {v!r})" for _, ts, v in rows
    )
    ddf = con.sql(f"""
    WITH obs(k, ts, value) AS (VALUES {vals}),
    seg AS (
      SELECT k, epoch_us(ts) AS t0, lead(epoch_us(ts)) OVER w AS t1,
             CAST(ROUND(value * 100, 0) AS BIGINT) AS v
      FROM obs WINDOW w AS (PARTITION BY k ORDER BY ts)
    ), live AS (SELECT * FROM seg WHERE t1 IS NOT NULL AND t1 > t0),
    per_bucket AS (
      SELECT k, v, b,
             LEAST(t1, (b+1)*3600000000) - GREATEST(t0, b*3600000000) AS dur
      FROM live,
           UNNEST(generate_series(CAST(FLOOR(t0/3600000000) AS BIGINT),
                                  CAST(FLOOR((t1-1)/3600000000) AS BIGINT))) AS u(b)
    ), agged AS (
      SELECT k, b, SUM(CAST(v AS HUGEINT) * dur) AS num, SUM(dur) AS den
      FROM per_bucket GROUP BY k, b
    )
    SELECT k, make_timestamp(b*3600000000) AS bucket_start,
           CAST(den AS BIGINT) AS covered_us,
           FLOOR(CAST(num AS DOUBLE) / (CAST(den AS DOUBLE) * 100) * 1e6 + 0.5)
             / 1e6 AS twa
    FROM agged WHERE den > 0
    """).fetchall()
    want = sorted((k, str(b), c, t) for k, b, c, t in ddf)
    assert got == want
    # sanity: constant 4e7 held across full buckets reproduces EXACTLY
    assert any(t == 40_000_000.0 for _, _, _, t in got)
    con.close()


def _assert_links_forward(root, old, new):
    """Every data file of ``v=old`` is the same inode under ``v=new``
    (hard-linked, never copied); every other data file of ``v=new`` is a
    new inode — only the delta's files were written."""
    import os

    from ucr_bigdata_snowfallproject_spark import table as T

    def subs(v):
        return {rel.split("/", 1)[1] for rel in T._self_files(root, v)}

    old_subs, new_subs = subs(old), subs(new)
    assert old_subs < new_subs
    for sub in old_subs:
        assert os.path.samefile(
            os.path.join(root, f"v={old}", sub), os.path.join(root, f"v={new}", sub)
        ), sub
    for sub in new_subs - old_subs:
        assert os.stat(os.path.join(root, f"v={new}", sub)).st_nlink == 1, sub


def test_bm25_incremental_append_is_zero_copy_and_exact(spark, tmp_path):
    """append_bm25_delta contract: tf/lens versions hard-link every
    existing file (zero-copy append — only delta files are new inodes),
    dfreq merges additively per term-bucket, and the merged index scores
    EXACTLY like a full rebuild."""
    import os

    from ucr_bigdata_snowfallproject_spark import index_store
    from ucr_bigdata_snowfallproject_spark.operators import retrieval

    docs = load_table(spark, SF_SMOKE, "documents").select("doc_id", "text")
    base = docs.filter(F.col("doc_id") < 60)
    delta = docs.filter((F.col("doc_id") >= 60) & (F.col("doc_id") < 100))
    both = docs.filter(F.col("doc_id") < 100)
    root = str(tmp_path / "bm25")

    tf, lens, dfreq = retrieval.bm25_corpus_stats(
        base, "doc_id", "text", persist_tf=False
    )
    index_store.save_bm25_stats(tf, lens, dfreq, root)
    index_store.append_bm25_delta(spark, root, delta, "doc_id", "text")

    # zero-copy: every v0 posting file is v1's file by inode; only the
    # delta's files are new
    _assert_links_forward(os.path.join(root, "tf"), 0, 1)

    # exactness: merged index == full rebuild, score for score
    q = spark.createDataFrame(
        [(0, "spark window agg"), (1, "fast table scan")],
        "query_id long, query string",
    )
    inc = retrieval.bm25_topk(
        q, both, "doc_id", "text", k=5, round_digits=4,
        corpus_stats=index_store.load_bm25_stats(spark, root),
    )
    full = retrieval.bm25_topk(q, both, "doc_id", "text", k=5, round_digits=4)
    assert sorted(map(tuple, inc.collect())) == sorted(map(tuple, full.collect()))
    # time travel: the pre-delta index still answers as of version 0
    old = retrieval.bm25_topk(
        q, base, "doc_id", "text", k=5, round_digits=4,
        corpus_stats=index_store.load_bm25_stats(spark, root, versions=(0, 0, 0)),
    )
    old_direct = retrieval.bm25_topk(q, base, "doc_id", "text", k=5, round_digits=4)
    assert sorted(map(tuple, old.collect())) == sorted(map(tuple, old_direct.collect()))


def test_rrf_fuse_hand_case(spark):
    """RRF semantics by hand: doc ranked 1st+2nd across two lists beats a
    doc ranked 1st in one list only; quantized contributions match the
    closed form floor(1e12/(60+r)+0.5)."""
    from ucr_bigdata_snowfallproject_spark.operators.retrieval import rrf_fuse

    a = spark.createDataFrame(
        [(0, 10, 1), (0, 11, 2)], "query_id long, doc_id long, rank int"
    )
    b = spark.createDataFrame(
        [(0, 11, 1), (0, 12, 2)], "query_id long, doc_id long, rank int"
    )
    out = {r.doc_id: (r.rank, r.rrf_score)
           for r in rrf_fuse([a, b], id_col="doc_id", k=3).collect()}

    def c(r):
        import math
        return math.floor(1e12 / (60 + r) + 0.5)

    def score(*ranks):
        import math
        return math.floor(sum(c(r) for r in ranks) / 1e12 * 1e6 + 0.5) / 1e6

    assert out[11] == (1, score(2, 1))      # in both lists → wins
    assert out[10] == (2, score(1))         # single first place
    assert out[12] == (3, score(2))


def test_join_size_estimate_matches_actual_join(spark):
    """The estimate IS the inner-join cardinality — pin it against the
    real join at fixture scale, plus the empty-intersection zero path."""
    from ucr_bigdata_snowfallproject_spark.operators import aggregates

    e = load_table(spark, SF_SMOKE, "events")
    est = aggregates.join_size_estimate(e, e, ["user_id"]).collect()[0]
    actual = e.select("user_id").join(
        e.select(F.col("user_id").alias("u2")), F.col("user_id") == F.col("u2")
    ).count()
    assert int(est["join_rows"]) == actual
    assert int(est["max_key_rows"]) <= actual
    assert 0.0 < est["top_share"] <= 1.0

    disjoint = aggregates.join_size_estimate(
        e.filter(F.col("user_id") < 0), e, ["user_id"]
    ).collect()[0]
    assert int(disjoint["join_rows"]) == 0
    assert disjoint["n_join_keys"] == 0
    assert disjoint["top_share"] == 0.0


def test_epoch_upsample_realized_counts(spark):
    """Realized copies per source track epochs × n_docs (hash-Bernoulli on
    the fractional part — deterministic, so the tolerance is statistical
    only in the fixture sense), and copy_idx is dense 1..n per doc."""
    from ucr_bigdata_snowfallproject_spark.operators import curation as cur

    d = load_table(spark, SF_SMOKE, "documents")
    ep = cur.mixture_weights(d, "source", F.col("n_chars"), alpha=0.5).select(
        "source", "epochs"
    )
    up = cur.epoch_upsample(d.join(F.broadcast(ep), "source"), "doc_id", "epochs")
    per = {
        r["source"]: (r["n"], r["e"], r["docs"])
        for r in up.groupBy("source")
        .agg(F.count(F.lit(1)).alias("n"), F.first("epochs").alias("e"))
        .join(
            d.groupBy("source").agg(F.count(F.lit(1)).alias("docs")), "source"
        )
        .collect()
    }
    assert per
    for src, (n, e, docs) in per.items():
        expect = e * docs
        assert abs(n - expect) <= 0.15 * docs + 2, (src, n, expect)
    # copy_idx dense per doc: max == count
    bad = (
        up.groupBy("doc_id")
        .agg(F.max("copy_idx").alias("mx"), F.count(F.lit(1)).alias("c"))
        .filter(F.col("mx") != F.col("c"))
        .count()
    )
    assert bad == 0


def test_negative_sample_contract(spark):
    """Negatives are pool members, never the anchor, ≤ k slots per anchor,
    and deterministic across invocations (hash draws, no RNG)."""
    from ucr_bigdata_snowfallproject_spark.operators import curation as cur

    e = load_table(spark, SF_SMOKE, "embeddings")
    anchors = e.filter(F.col("vec_id") < 20)
    neg = cur.negative_sample(e, anchors, "vec_id", k=4)
    rows = neg.collect()
    pool = {r["vec_id"] for r in e.select("vec_id").collect()}
    assert rows
    per_anchor: dict = {}
    for r in rows:
        assert r["neg_id"] in pool
        assert r["neg_id"] != r["anchor"]
        assert 1 <= r["slot"] <= 4
        per_anchor.setdefault(r["anchor"], set()).add(r["slot"])
    assert all(len(s) <= 4 for s in per_anchor.values())
    again = sorted((r["anchor"], r["slot"], r["neg_id"]) for r in
                   cur.negative_sample(e, anchors, "vec_id", k=4).collect())
    assert again == sorted((r["anchor"], r["slot"], r["neg_id"]) for r in rows)


def test_eval_ranking_hand_computed(spark):
    """eval_ranking against a hand-worked example, incl. the
    unanswered-query zero-row contract (no silent query drops)."""
    import math

    from ucr_bigdata_snowfallproject_spark.operators import retrieval as ret

    run = spark.createDataFrame(
        [(1, "b", 1), (1, "x", 2), (1, "a", 3)],
        "query_id long, doc string, rank int",
    )
    qrels = spark.createDataFrame(
        [(1, "a"), (1, "b"), (1, "c"), (2, "z")], "query_id long, doc string"
    )
    rows = {
        r["query_id"]: r
        for r in ret.eval_ranking(run, qrels, "doc", k=3).collect()
    }
    r1 = rows[1]
    assert (r1["n_rel"], r1["n_hit"]) == (3, 2)
    assert r1["recall_k"] == round(2 / 3, 6)
    assert r1["precision_k"] == round(2 / 3, 6)
    assert r1["mrr_k"] == 1.0  # first hit at rank 1
    g = [int(math.floor(1e12 / math.log2(i + 1) + 0.5)) for i in (1, 2, 3)]
    assert r1["ndcg_k"] == round((g[0] + g[2]) / (g[0] + g[1] + g[2]), 6)
    r2 = rows[2]  # query with relevant docs but no run rows: all zeros
    assert (r2["n_rel"], r2["n_hit"]) == (1, 0)
    assert r2["recall_k"] == 0.0 and r2["mrr_k"] == 0.0 and r2["ndcg_k"] == 0.0


def test_bipartite_project_cap_and_weights(spark):
    """Co-occurrence weights count each group once per pair (row
    multiplicity collapsed), and over-cap groups are excluded entirely."""
    from ucr_bigdata_snowfallproject_spark.operators import graph as graph_ops

    rows = (
        [(1, "a"), (1, "b"), (1, "b"), (2, "a"), (2, "b"), (2, "c")]
        + [(3, x) for x in "abcde"]  # size 5 > cap 4 → excluded
    )
    df = spark.createDataFrame(rows, "g long, i string")
    got = {
        (r["item_a"], r["item_b"]): r["weight"]
        for r in graph_ops.bipartite_project(df, "g", "i", max_group=4).collect()
    }
    # group 3 contributes nothing; (a,b) in groups 1+2, (a,c)/(b,c) in 2
    assert got == {("a", "b"): 2, ("a", "c"): 1, ("b", "c"): 1}


def test_macro_average_includes_zero_metric_queries(spark):
    """VERDICT r06 #7: the macro average counts unanswered queries as
    zero-metric ROWS — the same hand fixture as the per-query test, so
    macro = mean(query1, 0-row query2), never mean over answered
    queries only. Fixed-point path: exact on the 10⁶ grid."""
    import math

    from ucr_bigdata_snowfallproject_spark.operators import retrieval as ret

    run = spark.createDataFrame(
        [(1, "b", 1), (1, "x", 2), (1, "a", 3)],
        "query_id long, doc string, rank int",
    )
    qrels = spark.createDataFrame(
        [(1, "a"), (1, "b"), (1, "c"), (2, "z")], "query_id long, doc string"
    )
    per = ret.eval_ranking(run, qrels, "doc", k=3)
    m = ret.macro_average(per).collect()[0]
    assert m["n_queries"] == 2
    r1 = round(2 / 3, 6)
    assert m["macro_recall"] == round(r1 / 2, 6)
    assert m["macro_precision"] == round(r1 / 2, 6)
    assert m["macro_mrr"] == 0.5  # (1.0 + 0.0) / 2
    g = [int(math.floor(1e12 / math.log2(i + 1) + 0.5)) for i in (1, 2, 3)]
    nd1 = round((g[0] + g[2]) / (g[0] + g[1] + g[2]), 6)
    assert m["macro_ndcg"] == round(nd1 / 2, 6)


def test_epoch_upsample_null_epochs_fails_loudly(spark):
    """ADVICE r06: a NULL epochs factor (mis-joined mixture table) must
    never silently drop rows — default mode raises with the offending
    id; null_epochs=1.0 opts into an explicit keep-one-copy fallback."""
    import pytest

    from ucr_bigdata_snowfallproject_spark.operators import curation as cur

    df = spark.createDataFrame(
        [(1, 2.0), (2, None), (3, 1.0)], "doc_id long, epochs double"
    )
    with pytest.raises(Exception, match="NULL epochs"):
        cur.epoch_upsample(df, "doc_id", "epochs").collect()
    kept = cur.epoch_upsample(df, "doc_id", "epochs", null_epochs=1.0)
    per = {
        r["doc_id"]: r["n"]
        for r in kept.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert per[1] == 2 and per[2] == 1 and per[3] == 1  # NULL → exactly 1 copy


def test_ks_statistic_quantized_mode(spark):
    """VERDICT r06 #5: ks_statistic(quantize=(lo, hi, n_bins)) bounds the
    distinct-value window to ≤ n_bins rows BY CONSTRUCTION (histogram_
    fixed's clamped width_bucket rule). Hand case: with bins that
    separate the two samples completely the binned D equals the exact D;
    a coarser grid lower-bounds it."""
    from ucr_bigdata_snowfallproject_spark.operators import aggregates as agg

    a = spark.createDataFrame([(float(v),) for v in (1, 2, 3, 4)], "v double")
    b = spark.createDataFrame([(float(v),) for v in (11, 12, 13, 14)], "v double")
    exact = agg.ks_statistic(a, b, "v").collect()[0]
    assert exact["ks"] == 1.0 and exact["n_a"] == 4 and exact["n_b"] == 4
    # 2 bins over [0, 20): a's values land in bin 0, b's in bin 1 → D = 1
    qz = agg.ks_statistic(a, b, "v", quantize=(0.0, 20.0, 2)).collect()[0]
    assert qz["ks"] == 1.0
    # 1 bin: everything coincides → D = 0 (the lower-bound degenerate)
    qz1 = agg.ks_statistic(a, b, "v", quantize=(0.0, 20.0, 1)).collect()[0]
    assert qz1["ks"] == 0.0
    # out-of-range values clamp into edge bins, not NULL/drop
    c = spark.createDataFrame([(-5.0,), (25.0,)], "v double")
    qc = agg.ks_statistic(a, c, "v", quantize=(0.0, 20.0, 2)).collect()[0]
    assert qc["n_b"] == 2


def test_ivf_int8_indexed_identity_and_recall(spark):
    """VERDICT r06 #6: the int8-deterministic IVF — (a) probe-only path
    over saved/loaded cells is bit-identical to the inline build (the
    train-once/query-many contract), (b) recall vs brute force is
    respectable at n_probe=4/16 cells, (c) the pruned scan touches only
    probed cells."""
    import tempfile

    from ucr_bigdata_snowfallproject_spark import index_store as ix

    e = load_table(spark, SF_SMOKE, "embeddings")
    cent_rows = (
        sim_ops.quantize_embeddings(e.filter(F.col("vec_id") < 16), "vec_id")
        .select("vec_id", "codes")
        .collect()
    )
    cents = [
        (int(r["vec_id"]), [int(x) for x in r["codes"]])
        for r in sorted(cent_rows, key=lambda r: r["vec_id"])
    ]
    q = e.filter(F.col("vec_id") < 5).select(F.col("vec_id").alias("q_id"), "embedding")

    inline = sim_ops.ivf_int8_topk(e, q, cents, k=10, n_probe=4)
    cells = sim_ops.ivf_int8_build(e, cents)
    root = tempfile.mkdtemp(prefix="snowfall-ivf8-test-") + "/cells"
    ix.save_ivf_cells(cells, root)
    loaded = ix.load_ivf_cells(spark, root)
    indexed = sim_ops.ivf_int8_topk_indexed(loaded, q, cents, k=10, n_probe=4)

    key = lambda rows: sorted((r["q_id"], r["vec_id"], r["sim"]) for r in rows)
    got_inline, got_indexed = key(inline.collect()), key(indexed.collect())
    assert got_inline == got_indexed and len(got_indexed) == 50

    truth = {
        (r["q_id"], r["vec_id"])
        for r in sim_ops.brute_force_topk(e, q, k=10).collect()
    }
    hits = sum(1 for r in got_indexed if (r[0], r[1]) in truth)
    assert hits / len(truth) >= 0.4, hits / len(truth)

    # zero-norm centroid rejected loudly
    import pytest

    with pytest.raises(ValueError, match="zero code norm"):
        sim_ops.ivf_int8_build(e, [(0, [0] * 8)])


def test_ivf_int8_partition_pruning(spark, tmp_path):
    """The int8 IVF probe's static __cell IN filter reaches the
    cell-partitioned store as a PartitionFilter (layout IS the index —
    same contract as the float IVF), so a probe reads ~n_probe/n_cells
    of the artifact and none of the corpus."""
    import os

    from ucr_bigdata_snowfallproject_spark import index_store as ix
    from ucr_bigdata_snowfallproject_spark.plans import checks

    e = load_table(spark, SF_SMOKE, "embeddings")
    cents = [
        (int(r["vec_id"]), [int(x) for x in r["codes"]])
        for r in sim_ops.quantize_embeddings(
            e.filter(F.col("vec_id") < 16), "vec_id"
        ).select("vec_id", "codes").collect()
    ]
    root = str(tmp_path / "ivf8_cells")
    ix.save_ivf_cells(sim_ops.ivf_int8_build(e, cents), root)
    loaded = ix.load_ivf_cells(spark, root)
    vdir = os.path.join(root, "v=0")
    assert sum(n.startswith("__cell=") for n in os.listdir(vdir)) > 1

    pruned = loaded.filter(F.col("__cell").isin([0, 3]))
    txt = checks.explain_str(pruned, "formatted")
    seg = txt.split("PartitionFilters", 1)
    assert len(seg) == 2 and "__cell" in seg[1][:200], txt[:500]


def test_ivf_int8_append_matches_full_rebuild(spark, tmp_path):
    """index_store.append_ivf_cells: base + two chained deltas compose to
    EXACTLY the full-build inverted file (same rows), the delta versions
    hard-link every earlier cell file (zero-copy — base dir untouched,
    only delta files are new inodes), and a probe over the appended
    version is bit-identical to the full-build probe."""
    import os

    from ucr_bigdata_snowfallproject_spark import index_store as ix

    e = load_table(spark, SF_SMOKE, "embeddings")
    cents = [
        (int(r["vec_id"]), [int(x) for x in r["codes"]])
        for r in sim_ops.quantize_embeddings(
            e.filter(F.col("vec_id") < 16), "vec_id"
        ).select("vec_id", "codes").collect()
    ]
    root = str(tmp_path / "cells")
    base = e.filter(F.col("vec_id") % 3 == 0)
    d1 = e.filter(F.col("vec_id") % 3 == 1)
    d2 = e.filter(F.col("vec_id") % 3 == 2)
    ix.save_ivf_cells(sim_ops.ivf_int8_build(base, cents), root)
    base_files = {
        (dp, f)
        for dp, _, fs in os.walk(os.path.join(root, "v=0"))
        for f in fs
    }
    v1 = ix.append_ivf_cells(sim_ops.ivf_int8_build(d1, cents), root)
    _assert_links_forward(root, 0, 1)
    v2 = ix.append_ivf_cells(sim_ops.ivf_int8_build(d2, cents), root)
    _assert_links_forward(root, 1, 2)
    assert (v1, v2) == (1, 2)
    # zero-copy: the base version dir is byte-for-byte untouched
    assert base_files == {
        (dp, f)
        for dp, _, fs in os.walk(os.path.join(root, "v=0"))
        for f in fs
    }

    composed = ix.load_ivf_cells(spark, root)
    full = sim_ops.ivf_int8_build(e, cents)
    key = lambda rows: sorted((r["vec_id"], r["__cell"]) for r in rows)
    assert key(composed.collect()) == key(full.collect())

    q = e.filter(F.col("vec_id") < 5).select(F.col("vec_id").alias("q_id"), "embedding")
    got = sim_ops.ivf_int8_topk_indexed(composed, q, cents, k=10, n_probe=4)
    want = sim_ops.ivf_int8_topk(e, q, cents, k=10, n_probe=4)
    rk = lambda rows: sorted((r["q_id"], r["vec_id"], r["sim"]) for r in rows)
    assert rk(got.collect()) == rk(want.collect())

    # time travel: version 0 still reads as just the base
    v0 = ix.load_ivf_cells(spark, root, version=0)
    assert v0.count() == base.count()


def test_export_linear_scorer_matches_mllib(spark):
    """ml.quality.export_linear_scorer: folding the scaler into raw-
    feature weights reproduces the MLlib pipeline's probabilities —
    sigmoid(exported logit) == score_quality's quality_prob (within
    fold-order float tolerance) — so the shipped-config apply path
    (score_quality_linear, zero MLlib) is a faithful stand-in for the
    trained model."""
    import math

    from ucr_bigdata_snowfallproject_spark.ml import quality as q

    d = (
        load_table(spark, SF_SMOKE, "documents")
        .select("doc_id", "text", "lang")
        .withColumn("__label", (F.col("lang") == "en").cast("double"))
    )
    model = q.train_quality_classifier(d, "text", "__label")
    w = q.export_linear_scorer(model)
    assert set(w) == {*q.QUALITY_FEATURES, "__intercept"}

    probs = {
        r["doc_id"]: r["quality_prob"]
        for r in q.score_quality(model, d, "text").collect()
    }
    logits = {
        r["doc_id"]: r["quality_logit"]
        for r in q.score_quality_linear(d, "text", w, round_digits=8).collect()
    }
    assert probs.keys() == logits.keys() and probs
    for k in probs:
        p = 1.0 / (1.0 + math.exp(-logits[k]))
        assert abs(p - probs[k]) < 2e-4, (k, p, probs[k])


def test_keep_best_survivor_policy(spark):
    """dedup.keep_best: the survivor per key follows the caller's total
    order (quality desc, id tiebreak), degenerating to exact_dedup's
    min-id rule under [id asc]."""
    from ucr_bigdata_snowfallproject_spark.operators import dedup as dd

    df = spark.createDataFrame(
        [("k1", 1, 0.2), ("k1", 2, 0.9), ("k1", 3, 0.9),
         ("k2", 4, 0.1), ("k3", 5, None)],
        "k string, id long, q double",
    )
    best = {
        r["k"]: r["id"]
        for r in dd.keep_best(
            df, ["k"], [F.col("q").desc_nulls_last(), F.col("id").asc()]
        ).collect()
    }
    assert best == {"k1": 2, "k2": 4, "k3": 5}  # tie -> lower id; NULL kept
    minid = {
        r["k"]: r["id"]
        for r in dd.keep_best(df, ["k"], [F.col("id").asc()]).collect()
    }
    assert minid == {"k1": 1, "k2": 4, "k3": 5}


def test_sq8_append_matches_full_requantize(spark, tmp_path):
    """index_store.append_sq8_codes: base + delta compose (zero-copy
    hard-link append) to exactly the full corpus quantization, and a probe
    over the appended artifact is bit-identical to the inline two-stage
    search over the whole corpus."""
    from ucr_bigdata_snowfallproject_spark import index_store as ix

    e = load_table(spark, SF_SMOKE, "embeddings")
    base = e.filter(F.col("vec_id") % 4 != 0)
    delta = e.filter(F.col("vec_id") % 4 == 0)
    root = str(tmp_path / "sq8")
    ix.save_sq8_codes(sim_ops.quantize_embeddings(base, "vec_id"), root)
    ix.append_sq8_codes(sim_ops.quantize_embeddings(delta, "vec_id"), root)
    loaded = ix.load_sq8_codes(spark, root)
    full = sim_ops.quantize_embeddings(e, "vec_id")
    key = lambda rows: sorted(
        (r["vec_id"], tuple(r["codes"]), r["q_scale"]) for r in rows
    )
    assert key(loaded.collect()) == key(full.collect())

    q = e.filter(F.col("vec_id") < 5).select(F.col("vec_id").alias("q_id"), "embedding")
    got = sim_ops.int8_rerank_topk(e, q, k=10, refine=4, corpus_codes=loaded)
    want = sim_ops.int8_rerank_topk(e, q, k=10, refine=4)
    rk = lambda rows: sorted((r["q_id"], r["vec_id"], r["sim"]) for r in rows)
    assert rk(got.collect()) == rk(want.collect())


def test_vacuum_of_appended_ivf_root_keeps_every_row(spark, tmp_path):
    """An appended IVF version is self-contained (earlier cell files are
    hard-linked into it), so vacuum_snapshots with keep_last=1 removes
    every older version and load_ivf_cells still returns every row."""
    import os

    from ucr_bigdata_snowfallproject_spark import index_store as ix
    from ucr_bigdata_snowfallproject_spark import table as tbl

    e = load_table(spark, SF_SMOKE, "embeddings")
    cents = [
        (int(r["vec_id"]), [int(x) for x in r["codes"]])
        for r in sim_ops.quantize_embeddings(
            e.filter(F.col("vec_id") < 8), "vec_id"
        ).select("vec_id", "codes").collect()
    ]
    root = str(tmp_path / "appended")
    ix.save_ivf_cells(
        sim_ops.ivf_int8_build(e.filter(F.col("vec_id") % 2 == 0), cents), root
    )
    ix.append_ivf_cells(
        sim_ops.ivf_int8_build(e.filter(F.col("vec_id") % 2 == 1), cents), root
    )
    assert tbl.vacuum_snapshots(root, keep_last=1) == [0]
    assert not os.path.isdir(os.path.join(root, "v=0"))
    key = lambda rows: sorted((r["vec_id"], r["__cell"]) for r in rows)
    assert key(ix.load_ivf_cells(spark, root).collect()) == key(
        sim_ops.ivf_int8_build(e, cents).collect()
    )


def test_eval_ranking_ignores_malformed_ranks(spark):
    """ADVICE r07: ranks outside 1..k (0, negative) must be filtered out
    BEFORE the element_at gain lookup — rank 0 throws at runtime and a
    negative rank silently indexes the gain array from the END, corrupting
    DCG. Malformed rows behave exactly as if absent."""
    from ucr_bigdata_snowfallproject_spark.operators import retrieval as ret

    qrels = spark.createDataFrame(
        [("q1", "d1"), ("q1", "d2")], "query_id string, doc string"
    )
    clean = spark.createDataFrame(
        [("q1", "d1", 1), ("q1", "d3", 2)],
        "query_id string, doc string, rank int",
    )
    dirty = clean.union(
        spark.createDataFrame(
            [("q1", "d2", 0), ("q1", "d2", -1), ("q1", "d2", -3)],
            "query_id string, doc string, rank int",
        )
    )
    key = lambda df: sorted(
        tuple(r) for r in ret.eval_ranking(df, qrels, "doc", k=3).collect()
    )
    assert key(dirty) == key(clean)


def test_bin_index_clamps_before_int_narrowing(spark):
    """ADVICE r07: a value > ~2^31 bin-widths out of range must clamp to
    the edge bin — the old floor(...).cast('int') wrapped the raw index in
    int32 BEFORE the clamp, landing extreme values in interior bins."""
    from ucr_bigdata_snowfallproject_spark.operators import aggregates as agg

    df = spark.createDataFrame(
        [("k", 1e12), ("k", -1e12), ("k", 0.5)], "k string, v double"
    )
    out = {
        r["bin"]: r["n"]
        for r in agg.histogram_fixed(df, ["k"], "v", lo=0.0, hi=1.0, n_bins=4)
        .collect()
    }
    assert out == {0: 1, 1: 0, 2: 1, 3: 1}  # -1e12→bin0, 0.5→bin2, 1e12→bin3

    a = spark.createDataFrame([(1e12,), (0.1,)], "v double")
    b = spark.createDataFrame([(-1e12,), (0.1,)], "v double")
    row = agg.ks_statistic(a, b, "v", quantize=(0.0, 1.0, 4)).collect()[0]
    # after edge-clamping: a→{bin3, bin0}, b→{bin0, bin0}; ECDFs diverge
    # by 1/2 at every pre-top step → D = 0.5 exactly
    assert row.ks == 0.5


def _semdedup_fixture(spark):
    """4-dim toy corpus for semdedup_int8: centroids c0 = e_x, c1 = e_y;
    cell 0 holds a near-dup pair (10, 11) plus a distinct survivor (12),
    cell 1 holds a single vector (20)."""
    rows = [
        (10, [1.0, 0.01, 0.0, 0.0]),
        (11, [0.99, 0.012, 0.0, 0.0]),
        (12, [0.8, 0.55, 0.0, 0.0]),
        (20, [0.01, 1.0, 0.0, 0.0]),
    ]
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    centroid_codes = [(0, [127, 0, 0, 0]), (1, [0, 127, 0, 0])]
    return corpus, centroid_codes


def test_semdedup_keep_rule_drops_centroid_closer_member(spark):
    """SemDeDup keep-the-edge rule: of the near-dup pair (10, 11) in
    cell 0, vec 10 sits CLOSER to the centroid (codes [127,1,0,0] vs
    [127,2,0,0]) so IT is dropped and the edge member 11 survives; the
    distinct vector 12 and the singleton cell 1 are untouched."""
    corpus, centroid_codes = _semdedup_fixture(spark)
    out = {
        r["vec_id"]: r
        for r in sim_ops.semdedup_int8(corpus, centroid_codes, eps=0.95).collect()
    }
    assert {i: r["is_dup"] for i, r in out.items()} == {10: 1, 11: 0, 12: 0, 20: 0}
    assert out[10]["cell"] == 0 and out[11]["cell"] == 0 and out[12]["cell"] == 0
    assert out[20]["cell"] == 1
    assert out[10]["cell_n"] == 3 and out[20]["cell_n"] == 1
    assert out[10]["cent_sim"] > out[11]["cent_sim"]


def test_semdedup_max_cell_rows_short_circuit(spark):
    """Over-cap cells skip the pairwise join and keep exactly the single
    member FARTHEST from the centroid (min (cent_sim, id)): with
    max_cell_rows=2, cell 0 (3 members) short-circuits to keep only
    vec 12 (cent_sim ≈ 0.824 < the ≈1.0 pair), while the under-cap
    singleton cell 1 stays on the exact path."""
    corpus, centroid_codes = _semdedup_fixture(spark)
    out = {
        r["vec_id"]: r["is_dup"]
        for r in sim_ops.semdedup_int8(
            corpus, centroid_codes, eps=0.95, max_cell_rows=2
        ).collect()
    }
    assert out == {10: 1, 11: 1, 12: 0, 20: 0}


def test_semdedup_zero_vector_total(spark):
    """A zero vector (maxabs = 0 → all-zero codes) must flow through
    with cent_sim = 0.0 and never join a pair (cosine undefined —
    excluded by construction since its rounded sim is NULL-safe 0)."""
    rows = [
        (10, [1.0, 0.01, 0.0, 0.0]),
        (30, [0.0, 0.0, 0.0, 0.0]),
    ]
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    centroid_codes = [(0, [127, 0, 0, 0]), (1, [0, 127, 0, 0])]
    out = {
        r["vec_id"]: r
        for r in sim_ops.semdedup_int8(corpus, centroid_codes, eps=0.95).collect()
    }
    assert out[30]["cent_sim"] == 0.0
    assert out[30]["is_dup"] == 0 and out[10]["is_dup"] == 0


def test_semantic_decontaminate_planted_and_zero_vector(spark):
    """semantic_decontaminate_int8: a train copy of an eval vector is
    contaminated (same cell, sim ≈ 1.0); a zero train vector flows
    through clean (norm-0 pairs are guarded out BEFORE the threshold —
    Spark orders NaN above every number); output is total over train."""
    ev = spark.createDataFrame(
        [(100, [1.0, 0.02, 0.0, 0.0])], "vec_id long, embedding array<float>"
    )
    train = spark.createDataFrame(
        [
            (1, [0.99, 0.021, 0.0, 0.0]),   # ≈ eval 100 → contaminated
            (2, [0.01, 1.0, 0.0, 0.0]),     # other cell → clean
            (3, [0.0, 0.0, 0.0, 0.0]),      # zero vector → clean, total
        ],
        "vec_id long, embedding array<float>",
    )
    centroid_codes = [(0, [127, 0, 0, 0]), (1, [0, 127, 0, 0])]
    out = {
        r["vec_id"]: r
        for r in sim_ops.semantic_decontaminate_int8(
            train, ev, centroid_codes, eps=0.95
        ).collect()
    }
    assert set(out) == {1, 2, 3}
    assert out[1]["contaminated"] == 1 and out[1]["n_eval_hits"] == 1
    assert out[1]["max_eval_sim"] >= 0.999
    assert out[2]["contaminated"] == 0 and out[2]["max_eval_sim"] == 0.0
    assert out[3]["contaminated"] == 0 and out[3]["n_eval_hits"] == 0


def test_semdedup_delta_matches_batch_including_old_survivor_flips(spark):
    """semdedup_int8_delta == semdedup_int8 on the union, bit-identical —
    including the one interesting transition: OLD survivors beaten by a
    NEW pair (13 near-dups old 12 with LOWER cent_sim → old 12 flips to
    dup; 21 near-dups old 20 likewise), while old-only drops (10) carry
    over and within-delta pairs score too."""
    old_rows = [
        (10, [1.0, 0.01, 0.0, 0.0]),
        (11, [0.99, 0.012, 0.0, 0.0]),
        (12, [0.8, 0.55, 0.0, 0.0]),
        (20, [0.01, 1.0, 0.0, 0.0]),
    ]
    delta_rows = [
        (13, [0.75, 0.6, 0.0, 0.0]),    # near 12, farther from centroid
        (21, [0.012, 0.995, 0.0, 0.0]), # near 20, farther from centroid
    ]
    schema = "vec_id long, embedding array<float>"
    old = spark.createDataFrame(old_rows, schema)
    delta = spark.createDataFrame(delta_rows, schema)
    centroid_codes = [(0, [127, 0, 0, 0]), (1, [0, 127, 0, 0])]
    batch = sim_ops.semdedup_int8(
        old.unionByName(delta), centroid_codes, eps=0.95
    )
    flagged_old = sim_ops.semdedup_int8(old, centroid_codes, eps=0.95)
    inc = sim_ops.semdedup_int8_delta(
        flagged_old, old, delta, centroid_codes, eps=0.95
    )
    key = lambda r: r["vec_id"]
    b, i = sorted(batch.collect(), key=key), sorted(inc.collect(), key=key)
    assert [tuple(r) for r in b] == [tuple(r) for r in i]
    flags = {r["vec_id"]: r["is_dup"] for r in i}
    assert flags == {10: 1, 11: 0, 12: 1, 13: 0, 20: 1, 21: 0}


def test_semdedup_coarse_kernel_matches_plain_join(spark):
    """coarse_eps engages the grouped-Arrow coarse+refine pair kernel;
    at a margin below eps it must reproduce the plain HOF-join path
    bit-identically on the toy fixture (and compose with the cell cap:
    over-cap cells short-circuit before the Arrow stage either way)."""
    corpus, centroid_codes = _semdedup_fixture(spark)
    plain = sorted(
        map(tuple, sim_ops.semdedup_int8(corpus, centroid_codes, eps=0.95).collect())
    )
    coarse = sorted(
        map(
            tuple,
            sim_ops.semdedup_int8(
                corpus, centroid_codes, eps=0.95, coarse_eps=0.93
            ).collect(),
        )
    )
    assert plain == coarse
    capped_plain = sorted(
        map(
            tuple,
            sim_ops.semdedup_int8(
                corpus, centroid_codes, eps=0.95, max_cell_rows=2
            ).collect(),
        )
    )
    capped_coarse = sorted(
        map(
            tuple,
            sim_ops.semdedup_int8(
                corpus, centroid_codes, eps=0.95, max_cell_rows=2, coarse_eps=0.93
            ).collect(),
        )
    )
    assert capped_plain == capped_coarse


def test_semantic_decontaminate_broadcast_guard_fallback(spark):
    """VERDICT r11 #2: the eval-embedding broadcast is SIZED — forcing
    the shuffled fallback (broadcast_eval=False) produces output
    bit-identical to the forced broadcast plan and to the default sized
    path (which, for a 1-row eval suite, chooses broadcast)."""
    ev = spark.createDataFrame(
        [(100, [1.0, 0.02, 0.0, 0.0])], "vec_id long, embedding array<float>"
    )
    train = spark.createDataFrame(
        [
            (1, [0.99, 0.021, 0.0, 0.0]),
            (2, [0.01, 1.0, 0.0, 0.0]),
            (3, [0.0, 0.0, 0.0, 0.0]),
        ],
        "vec_id long, embedding array<float>",
    )
    centroid_codes = [(0, [127, 0, 0, 0]), (1, [0, 127, 0, 0])]
    outs = {
        mode: sorted(
            map(
                tuple,
                sim_ops.semantic_decontaminate_int8(
                    train, ev, centroid_codes, eps=0.95, broadcast_eval=mode
                ).collect(),
            )
        )
        for mode in (True, False, None)
    }
    assert outs[True] == outs[False] == outs[None]
    assert {r[0]: r[4] for r in outs[True]} == {1: 1, 2: 0, 3: 0}


def test_semdedup_delta_max_cell_rows_matches_batch(spark):
    """ADVICE r11: max_cell_rows plumbed through the delta form — when
    the DELTA pushes a previously under-cap cell over the cap, the
    incremental result equals the batch-on-union short-circuit (keep
    the single min-(cent_sim, id) member, everything else duplicate),
    on both the HOF and the coarse Arrow pair paths; a cell with ZERO
    delta members (cell 1) rides through untouched (the pruned old
    side never reaches the pair stage)."""
    old_rows = [
        (10, [1.0, 0.01, 0.0, 0.0]),
        (11, [0.99, 0.012, 0.0, 0.0]),   # near 10 → 10 dropped in old run
        (12, [0.8, 0.55, 0.0, 0.0]),
        (20, [0.01, 1.0, 0.0, 0.0]),     # singleton cell 1, no delta lands
    ]
    delta_rows = [(13, [0.95, 0.2, 0.0, 0.0])]  # 4th member of cell 0
    schema = "vec_id long, embedding array<float>"
    old = spark.createDataFrame(old_rows, schema)
    delta = spark.createDataFrame(delta_rows, schema)
    centroid_codes = [(0, [127, 0, 0, 0]), (1, [0, 127, 0, 0])]
    for coarse in (None, 0.93):
        batch = sorted(
            map(
                tuple,
                sim_ops.semdedup_int8(
                    old.unionByName(delta), centroid_codes, eps=0.95,
                    max_cell_rows=3, coarse_eps=coarse,
                ).collect(),
            )
        )
        flagged_old = sim_ops.semdedup_int8(
            old, centroid_codes, eps=0.95, max_cell_rows=3, coarse_eps=coarse
        )
        inc = sorted(
            map(
                tuple,
                sim_ops.semdedup_int8_delta(
                    flagged_old, old, delta, centroid_codes, eps=0.95,
                    max_cell_rows=3, coarse_eps=coarse,
                ).collect(),
            )
        )
        assert batch == inc, f"coarse_eps={coarse}"
        flags = {r[0]: r[4] for r in inc}
        # cell 0 over cap (4 > 3): keeper is 12 (min cent_sim); the old
        # pair survivor 11 flips, old drop 10 stays dropped, new 13 dup
        assert flags == {10: 1, 11: 1, 12: 0, 13: 1, 20: 0}


def test_fast_path_twins_match_md5_siblings(spark):
    """VERDICT r12 Next #7: the crc32/xxhash fast-path registry twins
    (`dedup_minhash_candidates`, `dedup_minhash_components`,
    `dedup_simhash_candidates`) are rows-only entries whose ALGORITHMS
    are externally hash-proven through their portable-md5 siblings;
    this pin ties each fast path to its sibling ON THE FIXTURE (the
    `test_seeded_semdedup_survivors_match_int8_twin` pattern), so the
    justified-rows-only ledger carries a deterministic
    identity-to-proven-twin check instead of a bare rows>0 smoke.

    - MinHash: the LSH band structure is identical across hash modes
      (64 permutations over the same Mersenne space, 16 bands), so on
      the fixture the candidate PAIR SET, the decision set
      (jaccard_est ≥ 0.5), and the downstream component labels are all
      IDENTICAL to the md5 twin's.
    - SimHash: the band structure necessarily differs (8×8-bit live
      bands for xxhash64 vs 4×15-bit for md5's 60 live planes), so raw
      candidate sets are incomparable BY DESIGN and even truth-recall
      differs by exactly one fixture pair (the 4-band md5 form is the
      strictly-coarser prefilter).  The deterministic pin is therefore
      EXACT per-mode truth-miss sets: fast misses {(33,436)}, md5
      misses {(33,436),(89,114)}, and md5's truth-hits are a SUBSET of
      the fast path's — any drift in either mode's decision surface
      fails loudly."""
    d = load_table(spark, SF_SMOKE, "documents")

    fast = dedup_ops.minhash_candidates(d, "doc_id", "text", num_hashes=64,
                                        bands=16)
    md5 = dedup_ops.minhash_candidates(d, "doc_id", "text", num_hashes=64,
                                       bands=16, hash="md5")
    pairs_fast = {(r.id_a, r.id_b) for r in fast.collect()}
    pairs_md5 = {(r.id_a, r.id_b) for r in md5.collect()}
    assert pairs_fast and pairs_fast == pairs_md5
    dec_fast = {(r.id_a, r.id_b)
                for r in fast.filter(F.col("jaccard_est") >= 0.5).collect()}
    dec_md5 = {(r.id_a, r.id_b)
               for r in md5.filter(F.col("jaccard_est") >= 0.5).collect()}
    assert dec_fast and dec_fast == dec_md5

    comp_fast = {
        tuple(r)
        for r in dedup_ops.dup_components(
            fast.filter(F.col("jaccard_est") >= 0.5)
        ).collect()
    }
    comp_md5 = {
        tuple(r)
        for r in dedup_ops.dup_components(
            md5.filter(F.col("jaccard_est") >= 0.5)
        ).collect()
    }
    assert comp_fast and comp_fast == comp_md5

    truth = {
        (r.id_a, r.id_b)
        for r in dedup_ops.ngram_jaccard_all_pairs(
            d, "doc_id", "text", min_jaccard=0.8
        ).collect()
    }
    assert truth
    sim_fast = {(r.id_a, r.id_b)
                for r in dedup_ops.simhash_candidates(d, "doc_id", "text").collect()}
    sim_md5 = {(r.id_a, r.id_b)
               for r in dedup_ops.simhash_candidates(
                   d, "doc_id", "text", hash="md5").collect()}
    assert truth - sim_fast == {(33, 436)}
    assert truth - sim_md5 == {(33, 436), (89, 114)}
    assert truth & sim_md5 <= sim_fast


def test_losers_arrow_boundary_double_matches_engine_rounding(spark):
    """ADVICE r11 (medium): the Arrow pair kernel's refine stage must
    round like the ENGINES — Spark's F.round rounds the shortest-decimal
    repr of the double (0.94995's nearest double has exact binary
    0.94994999…, repr "0.94995" → rounds UP to 0.9500 ≥ 0.95), while the
    r11 kernel thresholded on the exact binary expansion and REJECTED
    such a pair. Construct a 2-vector cell whose pair cosine computes to
    exactly that boundary double (unit norms by ulp-search, dot = d) and
    pin kernel == HOF path == flagged."""
    import math
    from decimal import Decimal

    d = 0.94995
    assert Decimal(d) < Decimal("0.94995")  # binary sits BELOW the boundary
    assert repr(d) == "0.94995"             # but the engines' repr reaches it
    # find s with fl(d*d + s*s) == 1.0 so the Spark-side l2 norm is 1.0
    s = math.sqrt(1.0 - d * d)
    for _ in range(64):
        if d * d + s * s == 1.0:
            break
        s = math.nextafter(s, math.inf if d * d + s * s < 1.0 else -math.inf)
    assert d * d + s * s == 1.0 and math.sqrt(1.0) == 1.0
    corpus = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [d, s])], "vec_id long, embedding array<double>"
    )
    centroid_codes = [(0, [127, 0]), (1, [0, 127])]
    plain = {
        r["vec_id"]: r["is_dup"]
        for r in sim_ops.semdedup_int8(
            corpus, centroid_codes, eps=0.95
        ).collect()
    }
    arrow = {
        r["vec_id"]: r["is_dup"]
        for r in sim_ops.semdedup_int8(
            corpus, centroid_codes, eps=0.95, coarse_eps=0.93
        ).collect()
    }
    # the pair IS a near-dup under engine rounding: loser is vec 1
    # (cent_sim 1.0 > vec 2's) — and the Arrow kernel agrees with the
    # HOF path bit-for-bit
    assert plain == {1: 1, 2: 0}
    assert arrow == plain


def test_seeded_semdedup_survivors_match_int8_twin(spark):
    """VERDICT r11 #8: the seeded-float SemDeDup (rows-only in the
    registry) is tied to the externally hash-proven int8 twin — on the
    fixture codebook (centroids passed explicitly, so the quantizer is
    the SAME artifact on both paths) and a fixture where the two keep
    rules provably coincide (every near-dup pair's lower id is also the
    edge member — min-id-survives == keep-the-edge), the SURVIVOR SETS
    are identical. The seeded path stays rows-only for its kmeans mode;
    this pin is the deterministic external anchor the rows-only ledger
    cites."""
    rows = [
        # cell x: near-dup pair (10, 11) — 10 has the LOWER id AND sits
        # farther from e_x (cent_sim lower), so both rules keep 10
        (10, [0.90, 0.30, 0.0, 0.0]),
        (11, [0.91, 0.28, 0.0, 0.0]),
        (12, [0.60, 0.75, 0.0, 0.0]),   # distinct survivor, cell x edge
        # cell y: near-dup pair (20, 21), same arrangement
        (20, [0.30, 0.90, 0.0, 0.0]),
        (21, [0.28, 0.91, 0.0, 0.0]),
    ]
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    centroid_codes = [(0, [127, 0, 0, 0]), (1, [0, 127, 0, 0])]
    float_centroids = [[1.0, 0.0, 0.0, 0.0], [0.0, 1.0, 0.0, 0.0]]
    int8_survivors = {
        r["vec_id"]
        for r in sim_ops.semdedup_int8(
            corpus, centroid_codes, eps=0.95
        ).collect()
        if r["is_dup"] == 0
    }
    seeded_survivors = {
        r["vec_id"]
        for r in sim_ops.semdedup(
            corpus, threshold=0.95, centroids=float_centroids
        ).collect()
    }
    assert int8_survivors == seeded_survivors == {10, 12, 20}


def test_decontaminate_bloom_matches_exact(spark):
    """decontaminate_bloom == decontaminate bit-for-bit (round 12): the
    Bloom bitmap only admits a SUPERSET of the true hit shingles and
    the verify join removes the false positives — pinned both at the
    default bitmap size AND at a pathologically tiny bitmap (64 bits ⇒
    nearly every probe is a false positive ⇒ the prefilter admits
    ~everything and the verify join does all the work): correctness is
    bitmap-size-independent, only the prefilter selectivity degrades."""
    d = load_table(spark, SF_SMOKE, "documents")
    train = d.filter(F.col("doc_id") % 17 != 0)
    ev = d.filter(F.col("doc_id") % 17 == 0)
    exact = sorted(
        map(
            tuple,
            curation_ops.decontaminate(
                train, ev, "doc_id", "text", n=5, threshold=0.1
            ).collect(),
        )
    )
    # (num_bits, mode): auto-sized default (join form); tiny 64-bit
    # literal (nearly every probe a false positive ⇒ the verify join
    # does all the work); forced JOIN form at a word count far above the
    # literal cliff (round 13 — the broadcast word-table rung); auto
    # mode at the r12 cliff size 2^20 (join form, num_bits-independent).
    for bits, mode in ((None, None), (64, "literal"), (1 << 23, "join"),
                       (1 << 20, None)):
        bloom = sorted(
            map(
                tuple,
                curation_ops.decontaminate_bloom(
                    train, ev, "doc_id", "text", n=5, threshold=0.1,
                    num_bits=bits, mode=mode,
                ).collect(),
            )
        )
        assert bloom == exact, f"num_bits={bits} mode={mode}"
    # the fixture must actually CONTAIN contamination or the equalities
    # above prove nothing (ADVICE r12: the old `or len(exact) > 0` clause
    # was vacuously true on any non-empty result)
    assert any(r[4] for r in exact)


def test_gopher_rules_hand_cases(spark):
    """Round-13 Gopher rule battery: hand docs exercise the rules the
    word-soup fixture leaves constant-true (symbols, bullets, ellipsis
    lines, non-alpha words) plus both word-count bounds, so every rule's
    count pipeline is pinned on inputs where it actually FIRES."""
    from ucr_bigdata_snowfallproject_spark.operators.text import gopher_rules

    good = "the cat sat of the mat and that have with " * 5  # 50 words
    docs = [
        (1, good),
        (2, "the of"),  # below min_words
        (3, ("word " * 30) + "# # # #"),  # 4 hashes vs 34 words > 10%
        (4, "- one bullet line here now\n- two bullet line here now"),
        (5, "a line that ends so...\nanother trailing one here…\nplain."),
        (6, ("12345 67890 " * 30)),  # zero alpha words
        (7, "zz qq ww ee rr " * 12),  # no required words
    ]
    out = {
        r["doc_id"]: r.asDict()
        for r in gopher_rules(
            spark.createDataFrame(docs, ["doc_id", "text"]),
            "doc_id", "text", min_words=40,
        ).collect()
    }
    assert out[1]["keep"] == 1 and all(
        v == 1 for k, v in out[1].items() if k.startswith("r_")
    )
    assert out[2]["r_word_count"] == 0
    assert out[3]["r_symbol_ratio"] == 0
    # doc 4: 2/2 lines bullets -> >90% -> fails; doc 5: 2/3 ellipsis ends
    assert out[4]["r_bullet_lines"] == 0
    assert out[5]["r_ellipsis_lines"] == 0
    assert out[6]["r_alpha_words"] == 0
    assert out[7]["r_required_words"] == 0
    # '...' occurrence counting is exact-integer: 4 dots = one '...' + 1
    ell = gopher_rules(
        spark.createDataFrame([(9, "w .... w")], ["doc_id", "text"]),
        "doc_id", "text", min_words=1,
    ).collect()[0]
    # 3 words ('w','....','w'), replace-counting finds ONE '...' (greedy
    # left-to-right, remainder '.' is not an ellipsis): 10*1 > 3 -> fails
    assert ell["n_words"] == 3 and ell["r_symbol_ratio"] == 0


def test_c4_line_filter_hand_cases(spark):
    """Round-13 C4 line cleaning on hand pages: terminal punctuation,
    min words per line, the javascript line ban, the lorem-ipsum /
    brace page bans, and sentence-count doc gating — each predicate
    exercised where the soup fixture can't."""
    from ucr_bigdata_snowfallproject_spark.operators.text import c4_line_filter

    page_good = (
        "This page has a first proper sentence right here.\n"
        "short one.\n"
        "A second full sentence also ends with a mark!\n"
        "this line enables JavaScript tracking everywhere today.\n"
        "a line with no terminal punctuation at all"
    )
    docs = [
        (1, page_good),
        (2, "Lorem ipsum dolor sit amet something.\nAnother good line here."),
        (3, "if (x) { return y; } is code here.\nAnother fine sentence here."),
        (4, "One single good sentence is not enough here."),
    ]
    out = {
        r["doc_id"]: r.asDict()
        for r in c4_line_filter(
            spark.createDataFrame(docs, ["doc_id", "page"]),
            "doc_id", "page", min_words_per_line=5, min_sentences=2,
        ).collect()
    }
    # doc 1: 5 lines; kept = the 2 proper sentences (short line <5 words,
    # javascript line banned case-insensitively, unterminated line out)
    assert (out[1]["n_lines"], out[1]["n_kept"]) == (5, 2)
    assert out[1]["cleaned_text"] == (
        "This page has a first proper sentence right here.\n"
        "A second full sentence also ends with a mark!"
    )
    assert out[1]["n_sentences"] == 2 and out[1]["keep_doc"] == 1
    assert out[2]["keep_doc"] == 0  # lorem ipsum page ban
    assert out[3]["keep_doc"] == 0  # '{' page ban
    assert out[4]["keep_doc"] == 0  # 1 sentence < min_sentences
    # row-preserving: every input doc emits exactly one row
    assert set(out) == {1, 2, 3, 4}


def test_canary_scan_counts_and_edges(spark):
    """Round-13 canary_scan: exact non-overlapping occurrence counts,
    no token alignment required (mid-word hits count), empty patterns
    dropped, non-matching docs absent, and the plan broadcasts the
    pattern side (nested-loop contains join — zero corpus shuffle)."""
    from ucr_bigdata_snowfallproject_spark.operators.curation import canary_scan

    docs = spark.createDataFrame(
        [
            (1, "secret42 and again secret42 tail"),
            (2, "xxsecret42yy embedded mid-word"),
            (3, "aaaa"),  # overlap probe for pattern 'aa'
            (4, "nothing to see"),
        ],
        ["doc_id", "text"],
    )
    pats = spark.createDataFrame(
        [(10, "secret42"), (11, "aa"), (12, "")], ["pat_id", "pattern"]
    )
    out = canary_scan(docs, "doc_id", "text", pats)
    rows = {(r["doc_id"], r["pat_id"]): r["n_occurrences"] for r in out.collect()}
    assert rows == {
        (1, 10): 2,   # two verbatim hits
        (2, 10): 1,   # mid-word counts (substring, not token, semantics)
        (3, 11): 2,   # 'aaaa' -> non-overlapping left-to-right = 2
    }
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" in plan
    assert "Exchange hashpartitioning" not in plan


def test_canary_scan_literal_matches_join_form(spark):
    """Round-14 compile-once literal form: bit-identical rows to the
    join form in BOTH modes, join-free single-scan plan, the pattern
    cap raises, and the empty-pattern edge returns the join form's
    schema with zero rows."""
    import pytest

    from ucr_bigdata_snowfallproject_spark.operators.curation import (
        _CANARY_LITERAL_MAX_PATTERNS,
        canary_scan,
        canary_scan_literal,
    )

    docs = spark.createDataFrame(
        [
            (1, "secret42 and again secret42 with k-AB12 key"),
            (2, "xxsecret42yy and 10.0.0.1 address"),
            (3, "nothing to see"),
        ],
        ["doc_id", "text"],
    )
    pats = spark.createDataFrame(
        [(10, "secret42"), (11, "")], ["pat_id", "pattern"]
    )
    re_pats = spark.createDataFrame(
        [(20, r"k-[A-Z0-9]{4}"), (21, r"(?:[0-9]{1,3}\.){3}[0-9]{1,3}")],
        ["pat_id", "pattern"],
    )
    for patterns, regex in ((pats, False), (re_pats, True)):
        join_rows = {
            tuple(r)
            for r in canary_scan(
                docs, "doc_id", "text", patterns, regex=regex
            ).collect()
        }
        lit_df = canary_scan_literal(
            docs, "doc_id", "text", patterns, regex=regex
        )
        assert {tuple(r) for r in lit_df.collect()} == join_rows
        assert [f.name for f in lit_df.schema.fields] == [
            "doc_id", "pat_id", "pattern", "n_occurrences",
        ]
        plan = lit_df._jdf.queryExecution().executedPlan().toString()
        assert "Join" not in plan and "Exchange" not in plan

    empty = canary_scan_literal(
        docs, "doc_id", "text", pats.filter(F.length("pattern") == 0)
    )
    assert empty.count() == 0
    assert [f.name for f in empty.schema.fields] == [
        "doc_id", "pat_id", "pattern", "n_occurrences",
    ]

    wide = spark.range(_CANARY_LITERAL_MAX_PATTERNS + 1).select(
        F.col("id").alias("pat_id"),
        F.concat(F.lit("needle"), F.col("id")).alias("pattern"),
    )
    with pytest.raises(ValueError, match="caps at"):
        canary_scan_literal(docs, "doc_id", "text", wide)


def test_canary_regex_portability_guard(spark):
    """ADVICE r13: Java-only regex constructs are rejected DRIVER-SIDE
    before any job runs (the PII_PATTERNS rule as code) — lookarounds,
    atomic groups, backreferences, possessives all raise; RE2-shared
    syntax (\\b, named groups, non-capturing groups, bounded repeats,
    escaped backslash-digit literals) passes; validate=False opts out."""
    import pytest

    from ucr_bigdata_snowfallproject_spark.operators.curation import (
        canary_scan,
        canary_scan_literal,
        validate_portable_regex,
    )

    for bad in (
        r"(?=ahead)x",
        r"(?!neg)x",
        r"(?<=behind)x",
        r"(?<!negb)x",
        r"(?>atomic)x",
        r"a*+b",
        r"a{2,3}+b",
        r"(dup)\1",
        r"(?<g>x)\k<g>",
    ):
        with pytest.raises(ValueError, match="non-portable regex"):
            validate_portable_regex(bad)
    for ok in (
        r"\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b",
        r"(?<name>[a-z]+)-\d+",   # named group ≠ lookbehind
        r"AKIA[0-9A-F]{16}",
        r"a\\1b",                 # escaped backslash then digit — literal
    ):
        validate_portable_regex(ok)

    docs = spark.createDataFrame([(1, "xy")], ["doc_id", "text"])
    bad_pats = spark.createDataFrame(
        [(1, r"(?<=behind)x")], ["pat_id", "pattern"]
    )
    for op in (canary_scan, canary_scan_literal):
        with pytest.raises(ValueError, match="non-portable regex"):
            op(docs, "doc_id", "text", bad_pats, regex=True)
        # opt-out still constructs a frame (Java accepts lookbehind)
        assert op(
            docs, "doc_id", "text", bad_pats, regex=True, validate=False
        ).columns == ["doc_id", "pat_id", "pattern", "n_occurrences"]


def test_canary_automaton_matches_join_form(spark):
    """Round-14 Aho-Corasick form: bit-identical rows to the join form
    on the adversarial cases a trie scan can get wrong — flattened
    output links (the classic he/she/his/hers ushers probe, where 'he'
    ends INSIDE 'she' and is reachable only via the failure chain),
    patterns that are substrings of other patterns, overlapping
    occurrences (non-overlapping left-to-right counts), duplicate
    pattern strings under distinct pat_ids, mid-word hits, unicode,
    null text, and empty patterns dropped. Plan: ONE mapInPandas scan —
    no join, no exchange."""
    from ucr_bigdata_snowfallproject_spark.operators.curation import (
        canary_scan,
        canary_scan_automaton,
    )

    docs = spark.createDataFrame(
        [
            (1, "ushers watch ushers"),
            (2, "aaaa and the ab abc abcd chain"),
            (3, "naïve café naïve"),
            (4, None),
            (5, "nothing here"),
        ],
        "doc_id long, text string",
    )
    pats = spark.createDataFrame(
        [
            (10, "he"), (11, "she"), (12, "his"), (13, "hers"),
            (14, "aa"), (15, "ab"), (16, "abc"),
            (17, "naïve"), (18, "naïve"),   # duplicate string, two ids
            (19, ""),                        # dropped
        ],
        ["pat_id", "pattern"],
    )
    join_rows = {
        tuple(r) for r in canary_scan(docs, "doc_id", "text", pats).collect()
    }
    out = canary_scan_automaton(docs, "doc_id", "text", pats)
    assert {tuple(r) for r in out.collect()} == join_rows
    # the ushers probe specifically: all three suffix patterns surface
    assert {(1, 10), (1, 11), (1, 13)} <= {
        (d, p) for d, p, *_ in join_rows
    }
    assert [f.name for f in out.schema.fields] == [
        "doc_id", "pat_id", "pattern", "n_occurrences",
    ]
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" in plan
    assert "Join" not in plan and "Exchange" not in plan


def test_canary_automaton_edges(spark):
    """Empty pattern set returns the shared schema with zero rows; the
    worker-memory cap raises driver-side with total char count; pat_id
    dtype (string here, long in the other tests) survives the Arrow
    round-trip."""
    import pytest

    from ucr_bigdata_snowfallproject_spark.operators.curation import (
        _AUTOMATON_MAX_TOTAL_CHARS,
        canary_scan_automaton,
    )

    docs = spark.createDataFrame([(1, "abc")], ["doc_id", "text"])
    empty = canary_scan_automaton(
        docs, "doc_id", "text",
        spark.createDataFrame([("x", "")], ["pat_id", "pattern"]),
    )
    assert empty.count() == 0
    assert [f.name for f in empty.schema.fields] == [
        "doc_id", "pat_id", "pattern", "n_occurrences",
    ]

    named = canary_scan_automaton(
        docs, "doc_id", "text",
        spark.createDataFrame([("k1", "abc"), ("k2", "b")],
                              ["pat_id", "pattern"]),
    )
    assert {tuple(r) for r in named.collect()} == {
        (1, "k1", "abc", 1), (1, "k2", "b", 1),
    }

    chunk = _AUTOMATON_MAX_TOTAL_CHARS // 4 + 1
    wide = spark.range(5).select(
        F.col("id").alias("pat_id"),
        F.concat(F.repeat(F.lit("x"), chunk), F.col("id")).alias("pattern"),
    )
    with pytest.raises(ValueError, match="total pattern chars"):
        canary_scan_automaton(docs, "doc_id", "text", wide)


def test_canary_auto_dispatch(spark):
    """Round-14 canary_scan_auto: below the measured crossover the
    dispatch picks the codegen'd contains join, at/above it the
    automaton — and the two forms stay bit-identical on the same
    inputs (the property the decision table's composed stage relies
    on after the 100× ladder exposed the join form's quadratic term)."""
    from ucr_bigdata_snowfallproject_spark.operators.curation import (
        _CANARY_AUTO_THRESHOLD,
        canary_scan,
        canary_scan_auto,
    )

    docs = spark.createDataFrame(
        [(1, "needle7 in a stack of needle7"), (2, "no hits here")],
        ["doc_id", "text"],
    )
    small = spark.createDataFrame([(7, "needle7")], ["pat_id", "pattern"])
    out_small = canary_scan_auto(docs, "doc_id", "text", small)
    plan = out_small._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" in plan and "MapInPandas" not in plan

    wide = spark.range(_CANARY_AUTO_THRESHOLD).select(
        F.col("id").alias("pat_id"),
        F.concat(F.lit("needle"), F.col("id")).alias("pattern"),
    )
    out_wide = canary_scan_auto(docs, "doc_id", "text", wide)
    plan = out_wide._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" in plan and "Join" not in plan
    assert {tuple(r) for r in out_wide.collect()} == {
        tuple(r)
        for r in canary_scan(docs, "doc_id", "text", wide).collect()
    }


def test_ac_cache_bounded_multi_set_amortization():
    """ADVICE r14: the per-worker automaton cache must let up to
    _AC_CACHE_SLOTS distinct pattern sets interleave tasks on one reused
    worker with each trie built exactly ONCE (the old single-slot
    clear-then-insert rebuilt on EVERY alternation — up to ~38 s/task at
    the cap), while staying bounded past the slot count (FIFO evict)."""
    from ucr_bigdata_snowfallproject_spark.operators import curation as cu

    cu._AC_CACHE.clear()
    builds: list[int] = []

    def builder_for(key):
        def build():
            builds.append(key)
            return ("trie", key)
        return build

    # two sets alternating 5x: one build each (the ADVICE scenario)
    for _ in range(5):
        assert cu._ac_cache_get_or_build(1, builder_for(1)) == ("trie", 1)
        assert cu._ac_cache_get_or_build(2, builder_for(2)) == ("trie", 2)
    assert builds == [1, 2]

    # filling past the slot count evicts OLDEST-inserted first and stays
    # bounded; the evicted key rebuilds on return
    for k in range(3, cu._AC_CACHE_SLOTS + 2):  # keys 3..5 (slots=4)
        cu._ac_cache_get_or_build(k, builder_for(k))
    assert len(cu._AC_CACHE) == cu._AC_CACHE_SLOTS
    assert 1 not in cu._AC_CACHE  # oldest evicted
    cu._ac_cache_get_or_build(1, builder_for(1))
    assert builds.count(1) == 2
    cu._AC_CACHE.clear()


def test_canary_automaton_alternating_pattern_sets(spark):
    """End-to-end face of the cache fix: two automaton scans with
    DIFFERENT pattern sets alternating in one session must each keep
    returning their own correct hits (a key-collision or stale-cache bug
    would cross-contaminate; the old clear-then-insert was only slow,
    but this pins correctness under interleave too)."""
    from ucr_bigdata_snowfallproject_spark.operators.curation import (
        canary_scan,
        canary_scan_automaton,
    )

    docs = spark.createDataFrame(
        [(1, "alpha beta alpha"), (2, "beta gamma"), (3, "delta")],
        ["doc_id", "text"],
    )
    pats_a = spark.createDataFrame([(1, "alpha")], ["pat_id", "pattern"])
    pats_b = spark.createDataFrame([(2, "beta"), (3, "gamma")],
                                   ["pat_id", "pattern"])
    want_a = {tuple(r) for r in canary_scan(docs, "doc_id", "text", pats_a).collect()}
    want_b = {tuple(r) for r in canary_scan(docs, "doc_id", "text", pats_b).collect()}
    assert want_a and want_b
    for _ in range(3):
        got_a = {tuple(r) for r in
                 canary_scan_automaton(docs, "doc_id", "text", pats_a).collect()}
        got_b = {tuple(r) for r in
                 canary_scan_automaton(docs, "doc_id", "text", pats_b).collect()}
        assert got_a == want_a and got_b == want_b


def test_decontaminate_multi_matches_per_suite_runs(spark):
    """Round-13 multi-suite decontamination: the one-pass per-(doc,
    suite) table sliced at each suite == the single-suite
    curation.decontaminate run against that suite alone (hit rows only
    — the multi form's contract), across every suite in the fixture.
    Also pins the forced-shuffled fallback to the broadcast plan's
    output (same guard contract as the single-suite form)."""
    d = load_table(spark, SF_SMOKE, "documents")
    train = d.filter(F.col("doc_id") % 17 != 0)
    ev = d.filter(F.col("doc_id") % 17 == 0)

    multi = curation_ops.decontaminate_multi(
        train, ev.select("source", "text"), "doc_id", "text", "source", n=5
    )
    rows = multi.collect()
    assert rows and len({r["suite"] for r in rows}) > 1
    got_by_suite: dict = {}
    for r in rows:
        got_by_suite.setdefault(r["suite"], set()).add(
            (r["doc_id"], r["n_shingles"], r["n_hits"],
             r["contamination"], r["contaminated"])
        )
    for suite in got_by_suite:
        single = curation_ops.decontaminate(
            train, ev.filter(F.col("source") == suite), "doc_id", "text", n=5
        )
        want = {
            (r["doc_id"], r["n_shingles"], r["n_hits"],
             r["contamination"], r["contaminated"])
            for r in single.collect() if r["n_hits"] > 0
        }
        assert got_by_suite[suite] == want, suite

    shuffled = curation_ops.decontaminate_multi(
        train, ev.select("source", "text"), "doc_id", "text", "source",
        n=5, broadcast_eval=False,
    )
    assert {tuple(r) for r in shuffled.collect()} == {tuple(r) for r in rows}
