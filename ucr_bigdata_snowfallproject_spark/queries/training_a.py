"""Training-pipeline operators I: mixture/packing/curation, PQ + IVF ANN lifecycles, retrieval, graph — query registrations.

Split from the flat ``queries.py`` in round 9 (VERDICT r08 #8): this
module exists for its ``@register`` side effects and is imported in a
fixed order by ``queries/__init__.py``; the registry order itself is
normalized afterwards by ``_reorder_registry`` (gated window first), so
module order never changes the driver contract.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window  # noqa: F401
from pyspark.sql import functions as F  # noqa: F401

from ..io import load_table  # noqa: F401
from ..operators import aggregates, relational, windows  # noqa: F401
from ..operators import curation as curation_ops  # noqa: F401
from ..operators import dedup as dedup_ops  # noqa: F401
from ..operators import similarity as sim_ops  # noqa: F401
from ..operators import text as text_ops  # noqa: F401

from ._shared import REGISTRY, _scratch_dir, register  # noqa: F401

# =========================================================================
# Round-4 additions: training-pipeline operators (mixture weights, sequence
# packing, bigram LM, incremental dedup, PQ ANN, SemDeDup)
# =========================================================================


@register(
    "curation_mixture_weights",
    """
    WITH per AS (
      SELECT source,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(len(regexp_split_to_array(lower(trim(text)), '\\s+')))
                  AS BIGINT) AS n_tokens
      FROM documents GROUP BY source
    ), z AS (
      SELECT SUM(POW(n_tokens, 0.5)) AS z, SUM(n_tokens) AS t FROM per
    )
    SELECT source, n_docs, n_tokens,
           ROUND(POW(n_tokens, 0.5) / z, 6) AS weight,
           ROUND((POW(n_tokens, 0.5) / z) / (n_tokens::DOUBLE / t), 6) AS epochs
    FROM per, z
    """,
)
def curation_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based mixture weights (α=0.5) per source — the
    pretraining sampling-ratio computation (operators.curation.
    mixture_weights): weight ∝ tokens^α normalized, epochs = weight / token
    share. Two tiny partial-aggregable jobs at any corpus size."""
    d = load_table(spark, sf_dir, "documents")
    return curation_ops.mixture_weights(
        d, "source", text_ops.token_count("text"), alpha=0.5
    )


@register(
    "curation_epoch_upsample",
    """
    WITH per AS (
      SELECT source,
             CAST(SUM(len(regexp_split_to_array(lower(trim(text)), '\\s+')))
                  AS BIGINT) AS n_tokens
      FROM documents GROUP BY source
    ), z AS (
      SELECT SUM(POW(n_tokens, 0.5)) AS z, SUM(n_tokens) AS t FROM per
    ), ep AS (
      SELECT source,
             ROUND((POW(n_tokens, 0.5) / z) / (n_tokens::DOUBLE / t), 6)
               AS epochs
      FROM per, z
    ), d AS (
      SELECT dd.doc_id, dd.source,
             CAST(FLOOR(epochs) AS BIGINT)
             + CASE WHEN (('0x' || substr(md5(CAST(dd.doc_id AS VARCHAR)
                                              || '#epoch'), 1, 8))::BIGINT
                          ::DOUBLE / 4294967296.0)
                         < (epochs - FLOOR(epochs))
                    THEN 1 ELSE 0 END AS nc
      FROM documents dd JOIN ep USING (source)
    )
    SELECT doc_id, source, CAST(ci AS BIGINT) AS copy_idx
    FROM (SELECT doc_id, source, unnest(range(1, nc + 1)) AS ci
          FROM d WHERE nc >= 1)
    """,
)
def curation_epoch_upsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Realize the mixture_weights ``epochs`` factors as deterministic
    repeats (operators.curation.epoch_upsample): floor(e) copies per doc
    + one more when the portable md5 uniform of doc_id lands under
    frac(e) — the LLaMA-style epochs-per-source materialization. The
    epochs frame is source-cardinality (broadcast); the repeat expansion
    is map-side explode — zero added shuffle at any corpus size."""
    d = load_table(spark, sf_dir, "documents")
    ep = curation_ops.mixture_weights(
        d, "source", text_ops.token_count("text"), alpha=0.5
    ).select("source", "epochs")
    joined = d.join(F.broadcast(ep), "source")
    return curation_ops.epoch_upsample(joined, "doc_id", "epochs").select(
        "doc_id", "source", "copy_idx"
    )


@register(
    "curation_negative_sample",
    """
    WITH cnt AS (
      SELECT GREATEST(1, CAST(FLOOR(COUNT(*) / 64.0) AS BIGINT)) AS B
      FROM embeddings
    ), pb AS (
      SELECT vec_id AS pid,
             ('0x' || substr(md5(CAST(vec_id AS VARCHAR)
                                 || '#neg-bucket'), 1, 8))::BIGINT % B AS bkt
      FROM embeddings, cnt
    ), aj AS (
      SELECT e.vec_id AS anchor, CAST(j AS INTEGER) AS slot,
             ('0x' || substr(md5(CAST(e.vec_id AS VARCHAR) || ':'
                                 || CAST(j AS VARCHAR)
                                 || '#neg-pick'), 1, 8))::BIGINT % B AS bkt
      FROM embeddings e
      CROSS JOIN cnt
      CROSS JOIN (SELECT unnest(range(1, 5)) AS j)
      WHERE e.vec_id < 20
    ), cand AS (
      SELECT anchor, slot, pid,
             ('0x' || substr(md5(CAST(pid AS VARCHAR) || '|'
                                 || CAST(anchor AS VARCHAR) || ':'
                                 || CAST(slot AS VARCHAR)
                                 || '#neg-rank'), 1, 8))::BIGINT AS r
      FROM aj JOIN pb USING (bkt)
      WHERE pid <> anchor
    )
    SELECT anchor, slot, pid AS neg_id FROM (
      SELECT anchor, slot, pid,
             ROW_NUMBER() OVER (PARTITION BY anchor, slot
                                ORDER BY r, pid) AS rn
      FROM cand)
    WHERE rn = 1
    """,
)
def curation_negative_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic contrastive negatives (operators.curation.
    negative_sample): 4 hash-drawn pool picks per anchor via bucket-hash →
    within-bucket argmin of a per-(anchor, slot) md5 rehash — random-
    negative mining for embedding/reranker training with NO RNG, no
    global index sort, no cross join: one pool shuffle on the bucket key,
    per-slot work bounded by the bucket target. Bit-identical oracle."""
    e = load_table(spark, sf_dir, "embeddings")
    anchors = e.filter(F.col("vec_id") < 20)
    return curation_ops.negative_sample(e, anchors, "vec_id", k=4)


@register(
    "curation_pack_sequences",
    """
    WITH t AS (
      SELECT source AS shard, doc_id,
             CAST(len(regexp_split_to_array(lower(trim(text)), '\\s+'))
                  AS BIGINT) AS n_tokens
      FROM documents
    ), c AS (
      SELECT *, SUM(n_tokens) OVER (
               PARTITION BY shard ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      FROM t
    )
    SELECT shard, doc_id, n_tokens,
           CAST(cum - n_tokens AS BIGINT)                   AS start_token,
           CAST(FLOOR((cum - n_tokens) / 512.0) AS BIGINT)  AS seq_first,
           CAST(FLOOR((cum - 1) / 512.0) AS BIGINT)         AS seq_last,
           CAST((cum - n_tokens) % 512 AS BIGINT)           AS offset_in_seq
    FROM c
    """,
)
def curation_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-packing placement manifest (operators.curation.
    pack_sequences): concat-then-chunk into 512-token windows per source
    shard — each doc's start offset and first/last window index. One
    running-sum window per shard; shards are independent streams, so scale
    = add shards."""
    d = load_table(spark, sf_dir, "documents")
    return curation_ops.pack_sequences(
        d, "doc_id", text_ops.token_count("text"), context_len=512
    )


@register(
    "text_bigram_lm",
    """
    WITH toks AS (
      SELECT regexp_split_to_array(lower(trim(text)), '\\s+') AS t FROM documents
    ), bg AS (
      SELECT t[i] AS w1, t[i + 1] AS w2
      FROM toks, UNNEST(generate_series(1, len(t) - 1)) AS u(i)
      WHERE t[i] <> '' AND t[i + 1] <> ''
    ), counts AS (
      SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS n FROM bg GROUP BY w1, w2
    ), lefts AS (
      SELECT w1, SUM(n) AS c1 FROM counts GROUP BY w1
    ), v AS (
      SELECT COUNT(DISTINCT w2) AS v FROM counts
    )
    SELECT counts.w1, counts.w2, n,
           ROUND((n + 1.0) / (c1 + 1.0 * v), 6) AS prob
    FROM counts JOIN lefts USING (w1), v
    """,
)
def text_bigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-based bigram LM with add-1 smoothing (operators.text.
    bigram_lm) — the classic distributed LM-training workload: bigrams
    build JVM-side per row (indexed transform, no self-join), one explode →
    groupBy for counts, vocabulary-sized join for the conditionals."""
    d = load_table(spark, sf_dir, "documents")
    return text_ops.bigram_lm(d, "text").withColumnRenamed("count", "n")


@register(
    "dedup_incremental_exact",
    """
    WITH seen AS (
      SELECT text FROM documents WHERE doc_id % 3 <> 0
    ), new AS (
      SELECT doc_id, text FROM documents WHERE doc_id % 3 = 0
      UNION ALL
      SELECT doc_id + 100000, text FROM documents WHERE doc_id % 3 = 0
      UNION ALL
      SELECT doc_id + 200000, text FROM documents WHERE doc_id % 3 = 1
    ), fp AS (
      SELECT doc_id,
             md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fingerprint
      FROM new
    ), fresh AS (
      SELECT * FROM fp WHERE fingerprint NOT IN (
        SELECT md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) FROM seen)
    )
    SELECT doc_id, fingerprint FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY fingerprint ORDER BY doc_id) AS rn
      FROM fresh) WHERE rn = 1
    """,
)
def dedup_incremental_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental exact dedup (operators.dedup.incremental_exact_dedup):
    an arriving batch (⅓ of the corpus + two synthetic clone waves — one
    duplicating batch docs under new ids, one re-sending already-indexed
    docs) is deduped against the corpus fingerprint index and itself.
    Survivors = exactly the original batch docs: clones of indexed docs
    die on the index anti-join, in-batch clones die on the min-id window.
    Corpus side reduces to distinct 32-byte fingerprints — text never
    re-read at probe time."""
    d = load_table(spark, sf_dir, "documents")
    seen = d.filter(F.col("doc_id") % 3 != 0)
    batch0 = d.filter(F.col("doc_id") % 3 == 0).select("doc_id", "text")
    new = (
        batch0
        .unionByName(batch0.select((F.col("doc_id") + 100000).alias("doc_id"), "text"))
        .unionByName(
            d.filter(F.col("doc_id") % 3 == 1).select(
                (F.col("doc_id") + 200000).alias("doc_id"), "text"
            )
        )
    )
    return dedup_ops.incremental_exact_dedup(new, seen, "doc_id", "text").select(
        "doc_id", "fingerprint"
    )


@register(
    "dedup_cdc_chunks",
    """
    WITH toks AS (
      SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS t
      FROM documents
    ), tok AS (
      SELECT doc_id, i AS pos, t[i] AS w
      FROM toks, UNNEST(generate_series(1, len(t))) AS u(i)
      WHERE t[i] <> ''
    ), fl AS (
      SELECT *, CASE WHEN ('0x' || substr(md5(w), 1, 8))::BIGINT
                          % 32 = 0 THEN 1 ELSE 0 END AS b
      FROM tok
    ), ch AS (
      SELECT *, SUM(b) OVER (PARTITION BY doc_id ORDER BY pos
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS chunk_id
      FROM fl
    )
    SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           md5(string_agg(w, ' ' ORDER BY pos)) AS fingerprint
    FROM ch GROUP BY doc_id, chunk_id
    """,
)
def dedup_cdc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking (operators.dedup.cdc_chunks): split docs at
    md5-hash token boundaries (mod 32) so shared passages fingerprint
    identically wherever they appear — the sub-document dedup /
    boilerplate-detection primitive. Doc-grained shuffles only; portable
    hash makes fingerprints engine-reproducible (full SQL oracle)."""
    d = load_table(spark, sf_dir, "documents")
    return dedup_ops.cdc_chunks(d, "doc_id", "text")


@register(
    "overlap_join_click_purchase_windows",
    """
    SELECT c.event_id AS click_id, p.event_id AS purchase_id, c.user_id
    FROM (SELECT * FROM events WHERE event_type = 'click') c
    JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
      ON c.user_id = p.user_id
     AND c.ts <= p.ts + INTERVAL 10 MINUTE
     AND p.ts <= c.ts + INTERVAL 30 MINUTE
    """,
)
def overlap_join_click_purchase_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-overlap join (operators.asof.overlap_join): 30-minute
    click attention windows × 10-minute purchase windows per user, matched
    where they overlap. Grid-binned equi-join on (user, cell) with the
    covering-cell dedup trick — an equi-join plan where the naive
    inequality join nests loops; the oracle IS that naive form."""
    from ..operators import asof as asof_ops

    e = load_table(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts"))
    clicks = e.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        "user_id",
        us.alias("c_start"),
        (us + F.lit(30 * 60 * 1_000_000)).alias("c_end"),
    )
    purchases = e.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        us.alias("p_start"),
        (us + F.lit(10 * 60 * 1_000_000)).alias("p_end"),
        F.col("user_id"),
    )
    out = asof_ops.overlap_join(
        clicks, purchases,
        "c_start", "c_end", "p_start", "p_end",
        keys=["user_id"], grid=30 * 60 * 1_000_000,
    )
    return out.select("click_id", "purchase_id", "user_id")


@register(
    "curation_sample_per_group",
    """
    SELECT doc_id, source FROM (
      SELECT doc_id, source,
             ROW_NUMBER() OVER (
               PARTITION BY source
               ORDER BY ('0x' || substr(md5(CAST(doc_id AS VARCHAR)
                                            || '#grpsample'), 1, 8))::BIGINT,
                        doc_id) AS rn
      FROM documents)
    WHERE rn <= 5
    """,
)
def curation_sample_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 5-per-source uniform sample (operators.curation.
    sample_per_group): portable md5-prefix hash ranks inside each group,
    so the sample is identical across engines, reruns, and data growth
    (only ever displaced, never reshuffled). One per-group window."""
    d = load_table(spark, sf_dir, "documents")
    return curation_ops.sample_per_group(d, "source", "doc_id", k=5).select(
        "doc_id", "source"
    )


@register(
    "profile_documents",
    """
    SELECT 'doc_id' AS col_name, CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CASE WHEN doc_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_distinct,
           MIN(doc_id)::DOUBLE AS min_d, MAX(doc_id)::DOUBLE AS max_d,
           ROUND(AVG(doc_id::DOUBLE), 4) AS mean
    FROM documents
    UNION ALL
    SELECT 'n_chars', CAST(COUNT(*) AS BIGINT),
           CAST(SUM(CASE WHEN n_chars IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           CAST(COUNT(DISTINCT n_chars) AS BIGINT),
           MIN(n_chars)::DOUBLE, MAX(n_chars)::DOUBLE,
           ROUND(AVG(n_chars::DOUBLE), 4)
    FROM documents
    UNION ALL
    SELECT 'lang', CAST(COUNT(*) AS BIGINT),
           CAST(SUM(CASE WHEN lang IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           CAST(COUNT(DISTINCT lang) AS BIGINT), NULL, NULL, NULL
    FROM documents
    UNION ALL
    SELECT 'source', CAST(COUNT(*) AS BIGINT),
           CAST(SUM(CASE WHEN source IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           CAST(COUNT(DISTINCT source) AS BIGINT), NULL, NULL, NULL
    FROM documents
    """,
)
def profile_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-profiling report (operators.aggregates.profile_table): one
    aggregation pass → per-column row/null/distinct counts + numeric
    min/max/mean. Exact distincts here (oracle-checkable); ``approx=True``
    is the documented 100 TB switch (HLL sketches, one scan for any
    width)."""
    d = load_table(spark, sf_dir, "documents")
    return aggregates.profile_table(d, ["doc_id", "n_chars", "lang", "source"])


@register(
    "snapshot_diff_documents",
    """
    WITH old AS (
      SELECT doc_id, lang, source FROM documents
    ), new AS (
      SELECT doc_id,
             CASE WHEN doc_id % 5 = 0 THEN 'xx' ELSE lang END AS lang,
             source
      FROM documents WHERE doc_id % 7 <> 0
      UNION ALL
      SELECT doc_id + 500000, lang, source FROM documents WHERE doc_id % 11 = 0
    ), j AS (
      SELECT o.doc_id AS ok, n.doc_id AS nk,
             o.lang AS ol, n.lang AS nl, o.source AS os, n.source AS ns
      FROM old o FULL OUTER JOIN new n ON o.doc_id = n.doc_id
    )
    SELECT 'lang' AS col_name,
           CAST(SUM(CASE WHEN ok IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_added,
           CAST(SUM(CASE WHEN nk IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
           CAST(SUM(CASE WHEN ok IS NOT NULL AND nk IS NOT NULL
                         AND ol IS DISTINCT FROM nl THEN 1 ELSE 0 END) AS BIGINT) AS n_changed,
           CAST(SUM(CASE WHEN ok IS NOT NULL AND nk IS NOT NULL
                         AND ol IS NOT DISTINCT FROM nl THEN 1 ELSE 0 END) AS BIGINT) AS n_unchanged
    FROM j
    UNION ALL
    SELECT 'source',
           CAST(SUM(CASE WHEN ok IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           CAST(SUM(CASE WHEN nk IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           CAST(SUM(CASE WHEN ok IS NOT NULL AND nk IS NOT NULL
                         AND os IS DISTINCT FROM ns THEN 1 ELSE 0 END) AS BIGINT),
           CAST(SUM(CASE WHEN ok IS NOT NULL AND nk IS NOT NULL
                         AND os IS NOT DISTINCT FROM ns THEN 1 ELSE 0 END) AS BIGINT)
    FROM j
    """,
)
def snapshot_diff_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset drift between two corpus snapshots (operators.aggregates.
    snapshot_diff): the "new" snapshot drops every 7th doc, rewrites lang
    on every 5th, and appends clones of every 11th under new ids — the
    diff reports added/removed/changed/unchanged per column from ONE full
    outer join pass (null-safe compares)."""
    d = load_table(spark, sf_dir, "documents")
    old = d.select("doc_id", "lang", "source")
    new = (
        d.filter(F.col("doc_id") % 7 != 0)
        .select(
            "doc_id",
            F.when(F.col("doc_id") % 5 == 0, F.lit("xx")).otherwise(F.col("lang")).alias("lang"),
            "source",
        )
        .unionByName(
            d.filter(F.col("doc_id") % 11 == 0).select(
                (F.col("doc_id") + 500000).alias("doc_id"), "lang", "source"
            )
        )
    )
    return aggregates.snapshot_diff(old, new, "doc_id", ["lang", "source"])


@register(
    "psi_drift_nchars",
    """
    WITH bounds AS (
      SELECT MIN(n_chars)::DOUBLE AS lo,
             (MAX(n_chars)::DOUBLE - MIN(n_chars)::DOUBLE) AS span
      FROM documents WHERE doc_id % 2 = 0
    ), ob AS (
      SELECT LEAST(GREATEST(FLOOR((n_chars::DOUBLE - lo) / span * 10), 0), 9) AS b,
             COUNT(*) AS n
      FROM documents, bounds WHERE doc_id % 2 = 0 AND n_chars IS NOT NULL
      GROUP BY 1
    ), nb AS (
      SELECT LEAST(GREATEST(FLOOR((n_chars::DOUBLE - lo) / span * 10), 0), 9) AS b,
             COUNT(*) AS n
      FROM documents, bounds WHERE doc_id % 2 = 1 AND n_chars IS NOT NULL
      GROUP BY 1
    ), grid AS (
      SELECT g.b, COALESCE(ob.n, 0) AS no, COALESCE(nb.n, 0) AS nn
      FROM (SELECT UNNEST(generate_series(0, 9)) AS b) g
      LEFT JOIN ob ON ob.b = g.b LEFT JOIN nb ON nb.b = g.b
    ), tots AS (SELECT SUM(no) AS t_o, SUM(nn) AS t_n FROM grid)
    SELECT ROUND(SUM(((nn + 0.5) / (t_n + 5.0) - (no + 0.5) / (t_o + 5.0))
                     * LN(((nn + 0.5) / (t_n + 5.0)) / ((no + 0.5) / (t_o + 5.0)))),
                 6) AS psi,
           10 AS n_bins,
           CAST(MAX(t_o) AS BIGINT) AS n_old,
           CAST(MAX(t_n) AS BIGINT) AS n_new
    FROM grid, tots
    """,
)
def psi_drift_nchars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index (operators.aggregates.psi_drift) between
    the even-id and odd-id halves of the corpus on n_chars — the
    distribution-drift monitor (grid fixed by the reference snapshot,
    add-0.5 smoothing, Σ(Δp·ln ratio)). Three partial-aggregable passes,
    widest join = 10 bin rows."""
    d = load_table(spark, sf_dir, "documents")
    return aggregates.psi_drift(
        d.filter(F.col("doc_id") % 2 == 0),
        d.filter(F.col("doc_id") % 2 == 1),
        "n_chars",
        bins=10,
    )


@register(
    "winsorize_prices_by_segment",
    """
    WITH j AS (
      SELECT c.c_mktsegment AS segment, o.o_totalprice AS price
      FROM orders o JOIN customer c ON o_custkey = c_custkey
    ), b AS (
      SELECT segment,
             quantile_cont(price, 0.05) AS lo,
             quantile_cont(price, 0.95) AS hi
      FROM j GROUP BY segment
    )
    SELECT j.segment, ROUND(j.price, 2) AS price,
           ROUND(LEAST(GREATEST(j.price, b.lo), b.hi), 4) AS price_wins
    FROM j JOIN b USING (segment)
    """,
)
def winsorize_prices_by_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group winsorization (operators.aggregates.winsorize): order
    totals clipped into their market segment's [p5, p95] band — exact
    interpolated quantiles (matching DuckDB quantile_cont), re-joined by
    the low-cardinality group key (AQE-broadcast). The approx sketch form
    is the documented 100 TB switch."""
    o = load_table(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    j = o.join(F.broadcast(c), o.o_custkey == c.c_custkey).select(
        F.col("c_mktsegment").alias("segment"),
        F.col("o_totalprice").alias("price"),
    )
    out = aggregates.winsorize(
        j, ["segment"], "price", lower=0.05, upper=0.95
    )
    return out.select(
        "segment", F.round("price", 2).alias("price"), "price_wins"
    )


@register(
    "rolling_anomalies_events",
    """
    SELECT event_id, user_id,
           FLOOR(m * 10000 + 0.5) / 10000 AS roll_mean,
           FLOOR(s * 10000 + 0.5) / 10000 AS roll_std,
           CASE WHEN s > 0
                THEN FLOOR((v - m) / s * 10000 + 0.5) / 10000 END AS zscore,
           COALESCE(CASE WHEN s > 0 THEN ABS((v - m) / s) >= 2.0 END,
                    FALSE) AS is_anomaly
    FROM (
      SELECT event_id, user_id, x::DOUBLE / 100 AS v,
             (s1 / n) / 100 AS m,
             CASE WHEN n > 1
                  THEN SQRT((s2 - s1 * s1 / n) / (n - 1)) / 100 END AS s
      FROM (
        SELECT event_id, user_id, x,
               SUM(x) OVER w::DOUBLE  AS s1,
               SUM(x * x) OVER w::DOUBLE AS s2,
               COUNT(x) OVER w::DOUBLE AS n
        FROM (SELECT event_id, user_id, ts,
                     CAST(ROUND(value * 100, 0) AS BIGINT) AS x FROM events)
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING)
      )
    )
    """,
)
def rolling_anomalies_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling z-score anomaly detection (operators.windows.
    rolling_anomalies) — the reference domain's climatology-anomaly
    pattern (SURVEY §2.5): each event value scored against the preceding
    20 events' mean/stddev per user (current row excluded), |z| ≥ 2
    flagged. One window pass per user. scale=100 engages the
    exact-integer-sums mode: native sliding AVG/STDDEV accumulate floats
    in engine-specific order (5/10k rows flipped the 4th decimal vs
    DuckDB), while integer Σx/Σx² are exact on both sides."""
    from ..operators import windows as win_ops

    e = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts", "value"
    )
    out = win_ops.rolling_anomalies(
        e, ["user_id"], [F.col("ts").asc(), F.col("event_id").asc()],
        "value", preceding=20, z_thresh=2.0, scale=100,
    )
    return out.select(
        "event_id", "user_id", "roll_mean", "roll_std", "zscore", "is_anomaly"
    )


# Shared recursive BPE oracle (round 10, VERDICT r09 #6): DuckDB WITH
# RECURSIVE replays learn_bpe_merges EXACTLY — state rows are the
# symbolized word-frequency vocab; each step aggregates adjacent-pair
# counts over the PREVIOUS iteration (the recursive reference is the
# prior working table, so per-step argmax is legal), picks the
# (-count, pair)-min merge, and rewrites every word with the greedy
# left-to-right rule (overlapping occurrences — only possible when
# left==right — resolve by keeping odd ranks within each step-1
# position run, the same scan order as the Python loop). Stops at
# n_merges or weighted_count < min_count, like the operator. The
# max_vocab_words cap (200k) is a no-op at driver scale factors
# (sf0.01 vocab: 31 words) and is therefore not replayed.
_BPE_ST_CTE = """
    WITH RECURSIVE wf AS (
      SELECT w, COUNT(*) AS n FROM (
        SELECT unnest(string_split_regex(lower(trim(text)), '\\s+')) AS w
        FROM documents)
      WHERE w != '' GROUP BY w
    ),
    st(step, w, syms, n, ml, mr, mc) AS (
      SELECT 0, w, string_split(w, ''), n,
             NULL::VARCHAR, NULL::VARCHAR, NULL::BIGINT
      FROM wf
      UNION ALL
      (
      WITH prev AS (SELECT * FROM st),
      pairs AS (
        SELECT p.syms[i] AS a, p.syms[i+1] AS b, SUM(p.n) AS cnt
        FROM prev p, LATERAL unnest(generate_series(1, len(p.syms)-1)) g(i)
        WHERE len(p.syms) >= 2 GROUP BY 1, 2
      ),
      best AS (SELECT a, b, cnt FROM pairs ORDER BY cnt DESC, a, b LIMIT 1),
      pos AS (
        SELECT p.w, i
        FROM prev p JOIN best ON TRUE,
             LATERAL unnest(generate_series(1, len(p.syms)-1)) g(i)
        WHERE p.syms[i] = best.a AND p.syms[i+1] = best.b
      ),
      sel AS (
        SELECT w, list(i) AS sis FROM (
          SELECT w, i, ROW_NUMBER() OVER (PARTITION BY w, grp ORDER BY i) AS k
          FROM (SELECT w, i,
                       i - ROW_NUMBER() OVER (PARTITION BY w ORDER BY i) AS grp
                FROM pos)
        ) WHERE k % 2 = 1 GROUP BY w
      ),
      rebuilt AS (
        SELECT q.w, list(CASE WHEN q.hit THEN q.ab ELSE q.sym END
                         ORDER BY q.i) AS syms
        FROM (
          SELECT p.w, u.i, p.syms[u.i] AS sym, best.a || best.b AS ab,
                 COALESCE(list_contains(s.sis, u.i), FALSE) AS hit,
                 COALESCE(list_contains(s.sis, u.i - 1), FALSE) AS absorbed
          FROM prev p JOIN best ON TRUE LEFT JOIN sel s ON s.w = p.w,
          LATERAL unnest(generate_series(1, len(p.syms))) u(i)
        ) q WHERE NOT q.absorbed GROUP BY q.w
      )
      SELECT p.step + 1, p.w, r.syms, p.n, best.a, best.b, best.cnt
      FROM prev p JOIN rebuilt r ON r.w = p.w JOIN best ON TRUE
      WHERE p.step < 32 AND best.cnt >= 2
      )
    )
"""


@register(
    "text_bpe_merges",
    _BPE_ST_CTE + """
    SELECT CAST(step - 1 AS INT) AS step, ml AS "left", mr AS "right",
           mc AS weighted_count
    FROM (SELECT DISTINCT step, ml, mr, mc FROM st WHERE step >= 1)
    ORDER BY step
    """,
)
def text_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed BPE merge learning (operators.text.learn_bpe_merges) —
    the tokenizer-training workload: greedy most-frequent-adjacent-pair
    merges over the word-frequency table (ONE corpus pass; every
    iteration is vocabulary-sized, run driver-side like production BPE
    trainers). Deterministic (lexicographic tie-break) — and since round
    10 ORACLE-BACKED: a DuckDB WITH RECURSIVE replays the whole greedy
    loop (per-step pair-count argmax over the previous state + the
    left-to-right merge rewrite), converting the iterative algorithm
    from rows-only to externally hash-verified, like
    dedup_minhash_components_md5's recursive closure before it."""
    d = load_table(spark, sf_dir, "documents")
    merges = text_ops.learn_bpe_merges(d, "text", n_merges=32)
    return spark.createDataFrame(
        [(i, l, r, c) for i, (l, r, c) in enumerate(merges)],
        "step int, left string, right string, weighted_count long",
    )


@register(
    "text_bpe_encode",
    _BPE_ST_CTE + """
    , final AS (
      SELECT w, syms FROM st WHERE step = (SELECT MAX(step) FROM st)
    ), toks AS (
      SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\\s+')) AS w
      FROM documents
    )
    SELECT t.doc_id, CAST(SUM(len(f.syms)) AS INT) AS n_bpe_tokens
    FROM toks t JOIN final f ON f.w = t.w
    GROUP BY t.doc_id
    ORDER BY t.doc_id
    LIMIT 500
    """,
)
def text_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer application (operators.text.apply_bpe): learn 32
    merges from the corpus (one distributed word-count pass), then encode
    every document in one Arrow-batched scan-side pass — the merge table
    rides the UDF closure, no shuffle. The train→apply split mirrors
    production tokenizer pipelines; encode invariants (round-trip
    concatenation, rank order, determinism) pinned in tests. Since round
    10 ORACLE-BACKED: on training-vocab words, lowest-rank-first greedy
    application provably reaches the training loop's final segmentation
    (a merge never creates new adjacency between two OLD symbols, so
    rank order is the only application order), so the oracle reuses the
    recursive learn replay's FINAL vocab state and sums per-doc symbol
    counts."""
    d = load_table(spark, sf_dir, "documents")
    merges = text_ops.learn_bpe_merges(d, "text", n_merges=32)
    out = text_ops.apply_bpe(d, "doc_id", "text", merges)
    return out.select("doc_id", "n_bpe_tokens").orderBy("doc_id").limit(500)


@register("similarity_ivf_indexed_topk", None)  # seeded quantizer — rows-only
def similarity_ivf_indexed_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Probe-only ANN over a persisted IVF index (similarity.
    build_ivf_index → index_store.save_ivf_cells → ivf_topk_indexed):
    the corpus-sized assignment pass runs once at build; the query job
    reads ONLY the probed cell partitions via a static partition-pruned
    scan (~n_probe/n_centroids of the index, zero corpus touch).
    Identity with the self-contained ivf_topk is pinned in tests."""
    from .. import index_store as ix

    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("q_id"), "embedding"
    )
    cents, cells = sim_ops.build_ivf_index(e, n_centroids=16, seed=42)
    root = _scratch_dir("snowfall-ivf-") + "/cells"
    ix.save_ivf_cells(cells, root)
    loaded = ix.load_ivf_cells(spark, root)
    return sim_ops.ivf_topk_indexed(loaded, q, cents, k=10, n_probe=4)


@register("curation_quality_classifier", None)  # MLlib LBFGS — rows-only
def curation_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based quality filtering (ml.quality): train a seeded
    reference-vs-rest logistic regression (reference slice = source
    'src0') on scan-speed text features, score every document with
    P(reference-like). The fastText-style curation stage; rows-only (MLlib
    optimizer paths aren't SQL-expressible); separation + determinism
    pinned in tests."""
    from ..ml import quality as quality_ml

    d = load_table(spark, sf_dir, "documents")
    labeled = d.withColumn(
        "__label", (F.col("source") == "src0").cast("int")
    )
    model = quality_ml.train_quality_classifier(labeled, "text", "__label")
    return quality_ml.score_quality(model, d, "text").select(
        "doc_id", "quality_prob"
    )


@register(
    "dedup_cdc_boilerplate",
    """
    WITH toks AS (
      SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS t
      FROM documents
    ), tok AS (
      SELECT doc_id, i AS pos, t[i] AS w
      FROM toks, UNNEST(generate_series(1, len(t))) AS u(i)
      WHERE t[i] <> ''
    ), fl AS (
      SELECT *, CASE WHEN ('0x' || substr(md5(w), 1, 8))::BIGINT
                          % 32 = 0 THEN 1 ELSE 0 END AS b
      FROM tok
    ), ch AS (
      SELECT *, SUM(b) OVER (PARTITION BY doc_id ORDER BY pos
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS chunk_id
      FROM fl
    ), chunks AS (
      SELECT doc_id, chunk_id,
             CAST(COUNT(*) AS BIGINT) AS n_tokens,
             md5(string_agg(w, ' ' ORDER BY pos)) AS fingerprint
      FROM ch GROUP BY doc_id, chunk_id
    )
    SELECT fingerprint,
           CAST(COUNT(*) AS BIGINT) AS n_occurrences,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
           CAST(MAX(n_tokens) AS BIGINT) AS n_tokens
    FROM chunks
    GROUP BY fingerprint
    HAVING COUNT(DISTINCT doc_id) >= 2
    ORDER BY n_occurrences DESC, fingerprint
    LIMIT 25
    """,
)
def dedup_cdc_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate report over content-defined chunks: the top-25 chunk
    fingerprints repeated across ≥2 documents, with occurrence/doc counts
    — the sub-document dedup payoff (find the navbar/disclaimer passages
    worth stripping corpus-wide). Composes cdc_chunks with one
    fingerprint-keyed aggregate + TakeOrdered; deterministic tiebreak."""
    chunks = dedup_ops.cdc_chunks(
        load_table(spark, sf_dir, "documents"), "doc_id", "text"
    )
    return (
        chunks.groupBy("fingerprint")
        .agg(
            F.count(F.lit(1)).alias("n_occurrences"),
            F.countDistinct("doc_id").alias("n_docs"),
            F.max("n_tokens").alias("n_tokens"),
        )
        .filter(F.col("n_docs") >= 2)
        .orderBy(F.desc("n_occurrences"), F.asc("fingerprint"))
        .limit(25)
    )


@register("dedup_incremental_minhash", None)  # crc32 fast path — rows-only; md5 twin is oracle-backed
def dedup_incremental_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental near-dedup against a stored signature index
    (operators.dedup.incremental_minhash_dedup): even-id docs are the
    indexed corpus (signatures precomputed, text never re-read), odd-id
    docs arrive as the batch; near-dups of the index or of a lower-id
    batch doc are dropped. Rows-only: minhash seeds aren't
    SQL-reproducible; recall/survivor semantics pinned in tests."""
    d = load_table(spark, sf_dir, "documents")
    seen = d.filter(F.col("doc_id") % 2 == 0)
    seen_sigs = dedup_ops.minhash_signatures_arrow(seen, "doc_id", "text")
    new = d.filter(F.col("doc_id") % 2 == 1)
    return dedup_ops.incremental_minhash_dedup(
        new, seen_sigs, "doc_id", "text", threshold=0.8
    ).select("doc_id", "source")


@register("similarity_pq_topk", None)  # seeded quantizer — rows-only
def similarity_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ADC top-k (operators.similarity.pq_topk):
    corpus vectors compress to m=8 sub-codes (32× smaller than float32);
    queries score every vector through per-query lookup tables — one
    numpy gather+sum per Arrow batch, no shuffle before the final top-k
    window. Rows-only (seeded codebooks); recall@10 vs the exact
    brute-force oracle pinned in tests."""
    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), "embedding"
    )
    return sim_ops.pq_topk(e, q, k=10, m=8, ksub=16)

#: Integer-deterministic PQ (VERDICT r07 #6 — the SQ8/IVF-int8 recipe on
#: the ADC stage): codebooks are int8 sub-slices of a fixed vector
#: sample, encoding is exact int64 L2 argmin in code space, the ADC
#: estimate is a pure integer lookup-table sum, and only the bounded
#: candidate set takes the exact float rerank — every approximate step
#: is engine-reproducible, so the whole result hash-checks.
_PQ_INT8_ORACLE = """
    WITH base AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS xs
      FROM embeddings
    ), mm AS (
      SELECT vec_id, xs,
             list_aggregate(list_transform(xs, x -> ABS(x)), 'max') AS maxabs
      FROM base
    ), codes AS (
      SELECT vec_id, xs,
             CASE WHEN maxabs > 0
                  THEN list_transform(
                         xs, x -> CAST(FLOOR(x / maxabs * 127 + 0.5) AS DOUBLE))
                  ELSE list_transform(xs, x -> CAST(0 AS DOUBLE)) END AS c
      FROM mm
    ), sub AS (SELECT unnest(range(0, 8)) AS j
    ), cb AS (
      SELECT j, vec_id AS cid,
             list_slice(c, j*8+1, j*8+8) AS cvec,
             list_dot_product(list_slice(c, j*8+1, j*8+8),
                              list_slice(c, j*8+1, j*8+8)) AS cn
      FROM codes CROSS JOIN sub WHERE vec_id < 16
    ), esub AS (
      SELECT vec_id, j, list_slice(c, j*8+1, j*8+8) AS sl
      FROM codes CROSS JOIN sub
    ), assign AS (
      SELECT vec_id, j, cid, cn, cvec FROM (
        SELECT e.vec_id, e.j, cb.cid, cb.cn, cb.cvec,
               ROW_NUMBER() OVER (PARTITION BY e.vec_id, e.j
                 ORDER BY (list_dot_product(e.sl, e.sl)
                           - 2*list_dot_product(e.sl, cb.cvec) + cb.cn) ASC,
                          cb.cid ASC) AS rn
        FROM esub e JOIN cb ON cb.j = e.j)
      WHERE rn = 1
    ), q AS (
      SELECT vec_id AS q_id, xs AS qxs, c AS qc, list_dot_product(c, c) AS qn
      FROM codes WHERE vec_id < 8
    ), qsub AS (
      SELECT q_id, qn, j, list_slice(qc, j*8+1, j*8+8) AS qs
      FROM q CROSS JOIN sub
    ), coarse AS (
      SELECT qs.q_id, a.vec_id,
             SUM(list_dot_product(qs.qs, a.cvec)) AS est,
             SUM(a.cn) AS xn2, ANY_VALUE(qs.qn) AS qn
      FROM assign a JOIN qsub qs ON qs.j = a.j
      GROUP BY qs.q_id, a.vec_id
    ), csimt AS (
      SELECT q_id, vec_id,
             CASE WHEN qn > 0 AND xn2 > 0
                  THEN ROUND(est / (sqrt(qn) * sqrt(xn2)), 4) ELSE 0.0 END AS csim
      FROM coarse
    ), cand AS (
      SELECT q_id, vec_id FROM (
        SELECT q_id, vec_id,
               ROW_NUMBER() OVER (PARTITION BY q_id
                                  ORDER BY csim DESC, vec_id) AS rn
        FROM csimt)
      WHERE rn <= 40
    ), rerank AS (
      SELECT cand.q_id, cand.vec_id,
             ROUND(list_dot_product(q.qxs, b.xs) /
                   (sqrt(list_dot_product(q.qxs, q.qxs)) *
                    sqrt(list_dot_product(b.xs, b.xs))), 4) AS sim
      FROM cand
      JOIN q ON q.q_id = cand.q_id
      JOIN base b ON b.vec_id = cand.vec_id
    )
    SELECT q_id, vec_id, sim FROM (
        SELECT q_id, vec_id, sim,
               ROW_NUMBER() OVER (PARTITION BY q_id
                                  ORDER BY sim DESC, vec_id) AS rn
        FROM rerank)
    WHERE rn <= 10
    """


@register("similarity_pq_int8_topk", _PQ_INT8_ORACLE)
def similarity_pq_int8_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X3 integer-deterministic product quantization with exact rerank
    (operators.similarity.pq_int8_topk — VERDICT r07 #6): codebooks are
    the int8 sub-slices of vec_id < 16 (m=8 subspaces × ksub=16 entries,
    the same deterministic bounded-sample artifact discipline as the
    IVF-int8 centroid codes), corpus subvectors encode by exact int64 L2
    argmin in code space (min code id on ties), the ADC coarse score is a
    pure integer LUT sum normalized by IEEE sqrts of integer norms, and
    the top k·4 candidates per query take the exact float cosine rerank.
    The last major ANN variant (brute force → SQ8 → IVF-int8 → PQ) now
    fully oracle-backed; the seeded-k-means pq_topk stays the
    recall-pinned float path."""
    e = load_table(spark, sf_dir, "embeddings")
    cb_rows = sorted(
        sim_ops.quantize_embeddings(e.filter(F.col("vec_id") < 16), "vec_id")
        .select("vec_id", "codes")
        .collect(),
        key=lambda r: r["vec_id"],
    )
    codebook = [
        [[int(x) for x in r["codes"][j * 8 : (j + 1) * 8]] for r in cb_rows]
        for j in range(8)
    ]
    q = e.filter(F.col("vec_id") < 8).select(F.col("vec_id").alias("q_id"), "embedding")
    return sim_ops.pq_int8_topk(e, q, codebook, k=10, refine=4)



@register("dedup_semdedup", None)  # seeded quantizer — rows-only
def dedup_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup semantic dedup (operators.similarity.semdedup): seeded
    k-means clusters block the corpus; within-cluster cosine ≥ 0.3 marks
    semantic duplicates; min-id survives. The cluster IS the blocking key
    (learned, unlike data-independent hyperplanes), so cost is Σ|cell|²
    not n². Rows-only (seeded quantizer); within-cluster pair semantics
    pinned in tests against the exact scorer."""
    e = load_table(spark, sf_dir, "embeddings")
    return sim_ops.semdedup(e, n_clusters=8, threshold=0.3).select(
        "vec_id", "label"
    )


@register(
    "mad_outliers_orders_priority",
    """
    WITH med AS (
      SELECT o_orderpriority AS priority,
             quantile_cont(o_totalprice, 0.5) AS m
      FROM orders GROUP BY 1
    ), dev AS (
      SELECT o.o_orderpriority AS priority, o.o_totalprice AS v, med.m
      FROM orders o JOIN med ON o.o_orderpriority = med.priority
    ), mad AS (
      SELECT priority, quantile_cont(abs(v - m), 0.5) AS d
      FROM dev GROUP BY priority
    )
    SELECT dev.priority,
           COUNT(*)                  AS n,
           ROUND(ANY_VALUE(dev.m), 2) AS med,
           ROUND(ANY_VALUE(mad.d), 2) AS mad,
           CAST(SUM(CASE WHEN abs(dev.v - dev.m) > 3.0 * mad.d
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
    FROM dev JOIN mad ON dev.priority = mad.priority
    GROUP BY dev.priority
    """,
)
def mad_outliers_orders_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier summary via median absolute deviation
    (operators.aggregates.mad_outlier_stats): per order priority,
    med/MAD of the order total and the count of |x−med| > 3·MAD rows —
    the outlier detector the outliers themselves can't corrupt. Exact
    interpolated percentile here (quantile_cont-matched); the mergeable
    sketch is the documented 100 TB switch. Group-keyed shuffles only;
    stat frames re-join AQE-broadcast."""
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("priority"),
        F.col("o_totalprice").alias("price"),
    )
    return aggregates.mad_outlier_stats(o, ["priority"], "price", k=3.0)


@register(
    "curation_stratified_sample",
    """
    SELECT doc_id, lang FROM documents
    WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '#strat'), 1, 8))::BIGINT
               AS DOUBLE) / 4294967296.0
          < CASE lang WHEN 'en' THEN 0.25 WHEN 'de' THEN 1.0
                      WHEN 'zh' THEN 0.5 ELSE 0.1 END
    """,
)
def curation_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-stratum sampling (operators.curation.
    stratified_sample): downsample over-represented languages, keep rare
    ones whole — with md5-threshold decisions any engine reproduces (the
    oracle recomputes the identical sample) and nested samples across
    rates. Pure column expression, scan-speed, no shuffle."""
    d = load_table(spark, sf_dir, "documents")
    out = curation_ops.stratified_sample(
        d, "lang", {"en": 0.25, "de": 1.0, "zh": 0.5}, "doc_id",
        default_rate=0.1,
    )
    return out.select("doc_id", "lang")


@register(
    "funnel_events_conversion",
    """
    WITH s0 AS (
      SELECT user_id, min(ts) AS t FROM events
      WHERE event_type = 'view' GROUP BY 1
    ), s1 AS (
      SELECT e.user_id, min(e.ts) AS t FROM events e
      JOIN s0 ON e.user_id = s0.user_id
      WHERE e.event_type = 'click' AND e.ts > s0.t GROUP BY 1
    ), s2 AS (
      SELECT e.user_id, min(e.ts) AS t FROM events e
      JOIN s1 ON e.user_id = s1.user_id
      WHERE e.event_type = 'purchase' AND e.ts > s1.t GROUP BY 1
    )
    SELECT 0 AS step_idx, 'view' AS step,
           (SELECT COUNT(*) FROM s0) AS n_users
    UNION ALL
    SELECT 1, 'click', (SELECT COUNT(*) FROM s1)
    UNION ALL
    SELECT 2, 'purchase', (SELECT COUNT(*) FROM s2)
    """,
)
def funnel_events_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel (operators.windows.funnel_counts):
    users reaching view → click-after-view → purchase-after-click, each
    stage anchored at the user's earliest qualifying event (first-touch).
    K filtered grouped passes over a shrinking user set — no per-user
    event-list window, no sequence UDF."""
    e = load_table(spark, sf_dir, "events")
    return windows.funnel_counts(
        e, "user_id", "ts", "event_type", ["view", "click", "purchase"]
    )


@register(
    "text_chunk_documents",
    """
    WITH toks AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
                         x -> x <> '') AS t
      FROM documents
    ), sized AS (
      SELECT doc_id, t, len(t) AS n FROM toks WHERE len(t) > 0
    ), idx AS (
      SELECT doc_id, t, CAST(i AS INTEGER) AS chunk_id
      FROM sized,
           UNNEST(generate_series(
             0, CAST(CEIL(GREATEST(n - 8, 1) / 24.0) AS BIGINT) - 1)) AS u(i)
    )
    SELECT doc_id, chunk_id,
           CAST(len(t[(chunk_id*24+1):(chunk_id*24+32)]) AS INTEGER)
             AS n_tokens,
           array_to_string(t[(chunk_id*24+1):(chunk_id*24+32)], ' ')
             AS chunk_text
    FROM idx
    """,
)
def text_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-token-window RAG chunking (operators.text.chunk_documents):
    32-token windows stepping by 24 (8-token overlap so boundaries don't
    orphan context) — the retrieval/embedding prep stage. Pure column
    expressions: tokenize, window-index sequence, per-window slice+join —
    scan speed, zero shuffle, no Python."""
    d = load_table(spark, sf_dir, "documents")
    return text_ops.chunk_documents(
        d, "doc_id", "text", chunk_tokens=32, overlap=8
    )


@register(
    "incremental_agg_replay",
    """
    SELECT user_id,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS BIGINT)
             AS sum_cents
    FROM events GROUP BY user_id
    """,
)
def incremental_agg_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized-rollup maintenance (table.merge_additive_agg — the
    batch face of streaming.events.stream_incremental_event_totals):
    per-user event totals built INCREMENTALLY from three deterministic
    batches merged into a bucketed snapshot table, compared against the
    plain one-shot GROUP BY oracle. Integer-cent sums are exactly
    associative, so incremental == recompute bit-for-bit no matter how
    history was batched; each merge rewrites only the key-buckets the
    batch touches."""
    from .. import table as snapshot_table

    e = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "value"
    )

    def delta(b: DataFrame) -> DataFrame:
        return b.groupBy("user_id").agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.round(F.col("value") * 100, 0).cast("long")).alias(
                "sum_cents"
            ),
        )

    root = _scratch_dir("snowfall-incr-") + "/totals"
    snapshot_table.create_partitioned_snapshot(
        delta(e.filter(F.col("event_id") % 3 == 0)), root, "user_id",
        n_buckets=8,
    )
    for i in (1, 2):
        snapshot_table.merge_additive_agg(
            spark, root, delta(e.filter(F.col("event_id") % 3 == i)),
            "user_id", ["n_events", "sum_cents"],
        )
    return snapshot_table.read_snapshot(spark, root)


@register(
    "rag_prep_pipeline",
    r"""
    WITH sampled AS (
      SELECT doc_id, text FROM documents
      WHERE lang = 'en'
        AND CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '#strat'),
                                 1, 8))::BIGINT AS DOUBLE) / 4294967296.0
            < 0.5
    ), red AS (
      SELECT doc_id,
             regexp_replace(regexp_replace(regexp_replace(text,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
               '\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b', '<IP>', 'g'),
               '\+?[0-9]([()\-.]? ?[()\-.]?[0-9]){7,}', '<PHONE>', 'g') AS text
      FROM sampled
    ), toks AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
                         x -> x <> '') AS t
      FROM red
    ), sized AS (
      SELECT doc_id, t, len(t) AS n FROM toks WHERE len(t) > 0
    ), idx AS (
      SELECT doc_id, t, CAST(i AS INTEGER) AS chunk_id
      FROM sized,
           UNNEST(generate_series(
             0, CAST(CEIL(GREATEST(n - 8, 1) / 24.0) AS BIGINT) - 1)) AS u(i)
    )
    SELECT doc_id, chunk_id,
           CAST(len(t[(chunk_id*24+1):(chunk_id*24+32)]) AS INTEGER)
             AS n_tokens,
           md5(array_to_string(t[(chunk_id*24+1):(chunk_id*24+32)], ' '))
             AS chunk_fp
    FROM idx
    """,
)
def rag_prep_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end RAG ingestion prep composing the round-5 curation
    surface: deterministic stratified sample (en @ 0.5, md5-threshold) →
    PII redaction (regexp chain) → 32-token/8-overlap chunking →
    per-chunk md5 fingerprint (the downstream dedup/caching key). Every
    stage is a pure column expression, so the whole pipeline is ONE
    scan-speed pass with a single explode and zero shuffles — and the
    DuckDB twin reproduces it end-to-end, stage for stage."""
    d = load_table(spark, sf_dir, "documents")
    sampled = curation_ops.stratified_sample(
        d.filter(F.col("lang") == "en"), "lang", {"en": 0.5}, "doc_id"
    )
    red = sampled.select(
        "doc_id", text_ops.redact_pii("text").alias("text")
    )
    chunks = text_ops.chunk_documents(
        red, "doc_id", "text", chunk_tokens=32, overlap=8
    )
    return chunks.select(
        "doc_id", "chunk_id", "n_tokens",
        F.md5("chunk_text").alias("chunk_fp"),
    )


@register(
    "curation_shard_assignments",
    """
    SELECT doc_id, shard,
           CAST(ROW_NUMBER() OVER (PARTITION BY shard ORDER BY h, doc_id)
                AS INTEGER) AS pos
    FROM (
      SELECT doc_id,
             CAST(h % 8 AS INTEGER) AS shard, h
      FROM (
        SELECT doc_id,
               ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '#shuffle'),
                               1, 8))::BIGINT AS h
        FROM documents
      )
    )
    """,
)
def curation_shard_assignments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic pseudo-shuffle + sharding (operators.curation.
    shard_assignments): shard = md5-hash % 8, position = hash order
    within the shard — jointly a seeded global shuffle for training-data
    export, reproduced exactly by the oracle's identical md5 rule. One
    shard-keyed shuffle + per-shard sort; no global ORDER BY rand()."""
    d = load_table(spark, sf_dir, "documents")
    out = curation_ops.shard_assignments(d, "doc_id", n_shards=8)
    return out.select("doc_id", "shard", "pos")


@register(
    "quality_gate_orders",
    """
    WITH r AS (
      SELECT COUNT(*) AS n_rows,
             SUM(CASE WHEN COALESCE(o_totalprice > 0, FALSE)
                      THEN 0 ELSE 1 END) AS positive_price,
             SUM(CASE WHEN COALESCE(o_orderdate IS NOT NULL, FALSE)
                      THEN 0 ELSE 1 END) AS has_date,
             SUM(CASE WHEN COALESCE(o_orderstatus IN ('O','F','P'), FALSE)
                      THEN 0 ELSE 1 END) AS known_status,
             SUM(CASE WHEN COALESCE(o_custkey >= 0, FALSE)
                      THEN 0 ELSE 1 END) AS valid_custkey
      FROM orders
    )
    SELECT e.expectation, CAST(r.n_rows AS BIGINT) AS n_rows,
           CAST(CASE e.expectation
                WHEN 'positive_price' THEN r.positive_price
                WHEN 'has_date' THEN r.has_date
                WHEN 'known_status' THEN r.known_status
                ELSE r.valid_custkey END AS BIGINT) AS n_fail
    FROM r, (VALUES ('positive_price'), ('has_date'),
                    ('known_status'), ('valid_custkey')) AS e(expectation)
    """,
)
def quality_gate_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level data-quality gates (operators.expectations): named
    boolean expectations over the orders ingest — the expect/report/
    enforce layer a pipeline runs before data enters a curated table.
    NULL counts as a violation (the rows gates exist to catch). The
    report is ONE partial-aggregable job over one scan no matter how many
    expectations are declared."""
    from ..operators import expectations as exp_ops

    o = load_table(spark, sf_dir, "orders")
    return exp_ops.expectation_report(
        o,
        {
            "positive_price": F.col("o_totalprice") > 0,
            "has_date": F.col("o_orderdate").isNotNull(),
            "known_status": F.col("o_orderstatus").isin("O", "F", "P"),
            "valid_custkey": F.col("o_custkey") >= 0,
        },
    )


# incremental_hll_distinct_replay (rows-only since r10) was RETIRED in
# round 16, replaced by the _bounded twin below (VERDICT r15 Missing #2 /
# next-round #2 — "rows-only 19 → 18"): the raw replayed estimates
# carried no external proof, while the bounded form runs the SAME replay
# (create_partitioned_snapshot + 2× merge_additive_agg with hll_union)
# and checks BOTH of its contracts under a real oracle — the 3σ·rsd
# error bound per key AND replay == one-shot batching independence.


@register(
    "incremental_hll_distinct_replay_bounded",
    """
    SELECT event_type,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_distinct_users,
           TRUE AS within_bound,
           TRUE AS replay_equals_rebatched
    FROM events
    GROUP BY event_type
    """,
)
def incremental_hll_distinct_replay_bounded(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Incremental DISTINCT maintenance via mergeable HLL sketches,
    ORACLE-BACKED via the planted-bound pattern (VERDICT r15 next-round
    #2 — the identical conversion r15 applied to the one-shot sketches):
    per event type, the sketch maintained across three
    ``table.merge_additive_agg`` batches rides next to the exact
    COUNT(DISTINCT) and the query emits (1) the exact count, (2)
    ``within_bound`` — ``|approx − exact| ≤ 3·rsd·exact`` with rsd =
    1.04/√2¹² ≈ 1.63% (Spark's ``hll_sketch_agg`` default lgConfigK=12;
    3σ is a ~99.7% bound, FIXTURE-VERIFIED per SF like the
    ``approx_distinct_users_bounded`` twin — a regenerated fixture could
    land in the tail without a sketch regression), and (3)
    ``replay_equals_rebatched`` — the 3-batch replayed estimate equals
    an in-query 2-batch union over the SAME rows, the
    batching-independence contract: union takes the element-wise max of
    registers, so ANY grouping of the input into batches yields the same
    final register state and the composite estimator is a pure function
    of it. (Deliberately NOT 'replay == one-shot': a never-merged sketch
    estimates via DataSketches' order-dependent HIP estimator while any
    merged sketch falls back to the composite estimator, so one-shot ==
    merged holds only in small-cardinality sparse mode — building this
    query surfaced exactly that at sf0.1.) The DuckDB
    oracle computes the exact side and literal TRUE twice: a merge that
    loses registers, a bound breach, or a batching-dependent estimate all
    surface as a hash mismatch. The pattern that keeps a 'unique users
    per X' dashboard fresh at 100 TB without ever re-reading history:
    each batch contributes one vocabulary-sized sketch row per key."""
    from .. import table as snapshot_table

    e = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "user_id"
    )

    def delta(b: DataFrame) -> DataFrame:
        return b.groupBy("event_type").agg(
            F.hll_sketch_agg("user_id").alias("users_hll")
        )

    comb = {
        "users_hll": lambda c, d: F.when(c.isNull(), d).otherwise(
            F.hll_union(c, d)
        )
    }
    root = _scratch_dir("snowfall-hll-") + "/distinct"
    snapshot_table.create_partitioned_snapshot(
        delta(e.filter(F.col("event_id") % 3 == 0)), root, "event_type",
        n_buckets=4,
    )
    for i in (1, 2):
        snapshot_table.merge_additive_agg(
            spark, root, delta(e.filter(F.col("event_id") % 3 == i)),
            "event_type", ["users_hll"], combine=comb,
        )
    replayed = snapshot_table.read_snapshot(spark, root).select(
        "event_type",
        F.hll_sketch_estimate("users_hll").alias("approx_users"),
    )
    # exact count + a DIFFERENT batching (2-way by event_id parity,
    # vs the replay's 3-way by mod 3) in ONE partial-aggregable pass;
    # the replayed side is vocabulary-sized (one row per event_type) so
    # it broadcasts
    rsd = 1.04 / (2.0**12) ** 0.5
    half = F.hll_sketch_agg(
        F.when(F.col("event_id") % 2 == 0, F.col("user_id"))
    )
    other = F.hll_sketch_agg(
        F.when(F.col("event_id") % 2 == 1, F.col("user_id"))
    )
    # ADVICE r16: aggregate the two parity sketches as SEPARATE columns
    # and combine with the same null guard as the replay combiner —
    # hll_union(NULL, s) is NULL, so an event_type whose user rows all
    # land on one parity would otherwise NULL out `rebatched` and fail
    # the oracle row with no real sketch regression. (When both parities
    # are NULL the FIRST when-branch short-circuits to the NULL __h1 —
    # same NULL result as an unguarded union, just via a different
    # branch; ADVICE r17 comment fix.)
    # Single-parity caveat (ADVICE r17): if an event_type's rows all land
    # on ONE parity, `rebatched` estimates a never-merged sketch (the
    # order-dependent HIP estimator) while `approx_users` estimates a
    # merged replay sketch (composite estimator) — outside
    # small-cardinality sparse mode those can legitimately differ,
    # flipping replay_equals_rebatched without a sketch regression (the
    # same estimator-mismatch class the docstring pins for one-shot vs
    # merged). On every fixture SF both parities are populated, which is
    # what the oracle verifies; a regenerated fixture that starves one
    # parity would need both sides forced through the composite
    # estimator (union each with an empty sketch) to stay comparable.
    exact = e.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("exact_distinct_users"),
        half.alias("__h0"),
        other.alias("__h1"),
    ).select(
        "event_type",
        "exact_distinct_users",
        F.hll_sketch_estimate(
            F.when(F.col("__h0").isNull(), F.col("__h1"))
            .when(F.col("__h1").isNull(), F.col("__h0"))
            .otherwise(F.hll_union("__h0", "__h1"))
        ).alias("rebatched"),
    )
    return exact.join(F.broadcast(replayed), "event_type").select(
        "event_type",
        "exact_distinct_users",
        (
            F.abs(F.col("approx_users") - F.col("exact_distinct_users"))
            <= F.lit(3 * rsd) * F.col("exact_distinct_users")
        ).alias("within_bound"),
        (F.col("approx_users") == F.col("rebatched")).alias(
            "replay_equals_rebatched"
        ),
    )


@register(
    "cdc_replay_snapshot",
    """
    WITH base AS (
      SELECT doc_id, lang, source FROM documents WHERE doc_id < 300
    ), b1 AS (
      SELECT doc_id, 'b1' AS lang, source FROM documents
      WHERE doc_id >= 200 AND doc_id < 400
    ), after1 AS (
      SELECT * FROM b1
      UNION ALL
      SELECT * FROM base WHERE doc_id NOT IN (SELECT doc_id FROM b1)
    ), b2u AS (
      SELECT doc_id, lang, 'b2' AS source FROM documents
      WHERE (doc_id >= 100 AND doc_id < 120)
         OR (doc_id >= 180 AND doc_id < 185)
    ), after2 AS (
      SELECT * FROM b2u
      UNION ALL
      SELECT * FROM after1 WHERE doc_id NOT IN (SELECT doc_id FROM b2u)
    )
    SELECT doc_id, lang, source FROM after2
    WHERE NOT (doc_id < 100 AND doc_id % 7 = 0)
    """,
)
def cdc_replay_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC replay through the snapshot-table MERGE (table.merge_upsert via
    the partition-level bucketed tier — the same apply function
    streaming.documents.stream_merge_into_snapshot runs per micro-batch,
    driven deterministically as a batch so DuckDB can oracle the MERGE
    semantics; VERDICT r04 #6).

    Replays: base load (doc_id < 300, bucketed on doc_id) → batch 1
    upserts 200-399 with lang='b1' (updates 200-299, inserts 300-399) →
    batch 2 deletes doc_id<100 ∧ doc_id%7=0, updates 100-119 and (with a
    NULL delete flag — pinning NULL⇒update, the r4 advisory fix) 180-184
    to source='b2'. Returns the final committed snapshot; the oracle
    computes the same last-writer-wins state in pure SQL. Each batch
    rewrites only touched key-buckets (untouched buckets hard-link
    forward — the 100 TB per-batch cost shape)."""
    from .. import table as snapshot_table

    d = load_table(spark, sf_dir, "documents").select("doc_id", "lang", "source")
    root = _scratch_dir("snowfall-cdc-replay-") + "/docs"
    snapshot_table.create_partitioned_snapshot(
        d.filter(F.col("doc_id") < 300), root, "doc_id", n_buckets=8
    )
    b1 = (
        d.filter((F.col("doc_id") >= 200) & (F.col("doc_id") < 400))
        .withColumn("lang", F.lit("b1"))
        .withColumn("del", F.lit(False))
    )
    snapshot_table.merge_upsert(spark, root, b1, "doc_id", delete_col="del")
    dels = (
        d.filter((F.col("doc_id") < 100) & (F.col("doc_id") % 7 == 0))
        .select(
            "doc_id",
            F.lit(None).cast("string").alias("lang"),
            F.lit(None).cast("string").alias("source"),
            F.lit(True).alias("del"),
        )
    )
    ups = d.filter((F.col("doc_id") >= 100) & (F.col("doc_id") < 120)).select(
        "doc_id", "lang", F.lit("b2").alias("source"), F.lit(False).alias("del")
    )
    null_flag = d.filter(
        (F.col("doc_id") >= 180) & (F.col("doc_id") < 185)
    ).select(
        "doc_id",
        "lang",
        F.lit("b2").alias("source"),
        F.lit(None).cast("boolean").alias("del"),
    )
    snapshot_table.merge_upsert(
        spark, root, dels.unionByName(ups).unionByName(null_flag),
        "doc_id", delete_col="del",
    )
    return snapshot_table.read_snapshot(spark, root)


@register(
    "snapshot_changes_feed",
    """
    WITH base AS (
      SELECT doc_id, lang, source FROM documents WHERE doc_id < 300
    ), b1 AS (
      SELECT doc_id, 'b1' AS lang, source FROM documents
      WHERE doc_id >= 200 AND doc_id < 400
    ), dels AS (
      SELECT doc_id FROM documents WHERE doc_id < 50 AND doc_id % 5 = 0
    ), after1 AS (
      SELECT * FROM b1
      UNION ALL
      SELECT * FROM base
      WHERE doc_id NOT IN (SELECT doc_id FROM b1)
        AND doc_id NOT IN (SELECT doc_id FROM dels)
    ), diff AS (
      SELECT COALESCE(a.doc_id, b.doc_id) AS doc_id,
             CASE WHEN a.doc_id IS NULL THEN 'insert'
                  WHEN b.doc_id IS NULL THEN 'delete'
                  WHEN (a.lang IS DISTINCT FROM b.lang)
                    OR (a.source IS DISTINCT FROM b.source) THEN 'update'
             END AS change_type,
             CASE WHEN b.doc_id IS NULL THEN a.lang ELSE b.lang END AS lang,
             CASE WHEN b.doc_id IS NULL THEN a.source ELSE b.source END
               AS source
      FROM base a FULL JOIN after1 b ON a.doc_id = b.doc_id
    )
    SELECT doc_id, change_type, lang, source FROM diff
    WHERE change_type IS NOT NULL
    """,
)
def snapshot_changes_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change-data-feed between table versions (table.read_changes —
    Delta-CDF-lite over the snapshot layer): base load → one MERGE batch
    (upserts 200-399 to lang='b1', deletes doc_id<50 ∧ %5=0), then read
    the v0→v1 change rows. Inserts/updates carry new values, deletes old;
    unchanged keys never leave the full-outer diff join. The oracle
    recomputes both states and the IS-DISTINCT-FROM diff in pure SQL.

    The table is key-bucketed, so this query also hash-checks the
    carry-forward read path: untouched buckets of v1 are hard links to
    v0's files."""
    from .. import table as snapshot_table

    d = load_table(spark, sf_dir, "documents").select("doc_id", "lang", "source")
    root = _scratch_dir("snowfall-cdf-") + "/docs"
    snapshot_table.create_partitioned_snapshot(
        d.filter(F.col("doc_id") < 300), root, "doc_id", n_buckets=8
    )
    ups = (
        d.filter((F.col("doc_id") >= 200) & (F.col("doc_id") < 400))
        .withColumn("lang", F.lit("b1"))
        .withColumn("del", F.lit(False))
    )
    dels = d.filter((F.col("doc_id") < 50) & (F.col("doc_id") % 5 == 0)).select(
        "doc_id",
        F.lit(None).cast("string").alias("lang"),
        F.lit(None).cast("string").alias("source"),
        F.lit(True).alias("del"),
    )
    snapshot_table.merge_upsert(
        spark, root, ups.unionByName(dels), "doc_id", delete_col="del"
    )
    return snapshot_table.read_changes(spark, root, "doc_id", 0, 1)


@register(
    "incremental_centroid_replay",
    """
    WITH q AS (
      SELECT label,
             generate_subscripts(embedding, 1) - 1 AS pos,
             CAST(FLOOR(CAST(unnest(embedding) AS DOUBLE) * 1000000.0 + 0.5)
                  AS BIGINT) AS qv
      FROM embeddings
    ), s AS (
      SELECT label, pos, SUM(qv) AS s_fix, COUNT(*) AS n
      FROM q GROUP BY label, pos
    )
    SELECT CAST(label AS INTEGER) AS label,
           CAST(pos AS INTEGER) AS pos,
           CAST((s_fix + 4000000 * n) // n - 4000000 AS BIGINT) AS c_fix,
           CAST(n AS BIGINT) AS n
    FROM s
    """,
)
def incremental_centroid_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incrementally-maintained embedding centroids: the corpus arrives in
    three batches (vec_id mod 3) whose ADDITIVE fixed-point partials
    (similarity.embedding_centroid_partials) merge key-wise into a
    bucketed snapshot via table.merge_additive_agg — and because the
    partials are exact integer sums, the replayed state equals a full
    recompute BIT-exactly, which is precisely what the oracle computes in
    one pass. The 100 TB shape for 'keep corpus centroids fresh without
    nightly re-embedding scans': per batch cost is O(batch partials) and
    only touched key-buckets rewrite."""
    from .. import table as snapshot_table

    e = load_table(spark, sf_dir, "embeddings")

    def delta(b: int) -> DataFrame:
        p = sim_ops.embedding_centroid_partials(
            e.filter(F.col("vec_id") % 3 == b), "label"
        )
        return p.select(
            F.concat(
                F.col("label").cast("string"), F.lit("#"), F.col("pos").cast("string")
            ).alias("k"),
            "s_fix",
            "n",
        )

    root = _scratch_dir("snowfall-centroid-") + "/centroids"
    snapshot_table.create_partitioned_snapshot(delta(0), root, "k", n_buckets=8)
    for i in (1, 2):
        snapshot_table.merge_additive_agg(spark, root, delta(i), "k", ["s_fix", "n"])
    out = snapshot_table.read_snapshot(spark, root)
    shift = 4 * 10**6
    return out.select(
        F.split(F.col("k"), "#")[0].cast("int").alias("label"),
        F.split(F.col("k"), "#")[1].cast("int").alias("pos"),
        (F.expr(f"(s_fix + {shift} * n) DIV n") - F.lit(shift)).alias("c_fix"),
        "n",
    )


@register(
    "embedding_drift_by_label",
    """
    WITH q AS (
      SELECT label, vec_id,
             generate_subscripts(embedding, 1) - 1 AS pos,
             CAST(FLOOR(CAST(unnest(embedding) AS DOUBLE) * 1000000.0 + 0.5)
                  AS BIGINT) AS qv
      FROM embeddings
    ), ca AS (
      SELECT label, pos,
             (SUM(qv) + 4000000 * COUNT(*)) // COUNT(*) - 4000000 AS c,
             COUNT(*) AS n
      FROM q WHERE vec_id % 2 = 0 GROUP BY label, pos
    ), cb AS (
      SELECT label, pos,
             (SUM(qv) + 4000000 * COUNT(*)) // COUNT(*) - 4000000 AS c,
             COUNT(*) AS n
      FROM q WHERE vec_id % 2 = 1 GROUP BY label, pos
    ), j AS (
      SELECT ca.label, ca.c AS a, cb.c AS b, ca.n AS n_a, cb.n AS n_b
      FROM ca JOIN cb ON ca.label = cb.label AND ca.pos = cb.pos
    )
    SELECT label,
           CAST(MIN(n_a) AS BIGINT) AS n_a,
           CAST(MIN(n_b) AS BIGINT) AS n_b,
           ROUND(CASE WHEN SUM(a * a) > 0 AND SUM(b * b) > 0 THEN
                   CAST(SUM(a * b) AS DOUBLE)
                   / (sqrt(CAST(SUM(a * a) AS DOUBLE))
                      * sqrt(CAST(SUM(b * b) AS DOUBLE))) END, 9)
             AS centroid_cos
    FROM j GROUP BY label
    """,
)
def embedding_drift_by_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-drift monitor (similarity.embedding_centroid_drift):
    per-label cosine between the centroids of two corpus snapshots (here
    the even/odd vec_id halves — stand-ins for 'before/after re-embed').
    Centroids are exact fixed-point integer means (shift-DIV floor
    division portable across engines), dot/norms exact int64 sums — an
    embedding-space statistic with a bit-exact oracle hash row."""
    e = load_table(spark, sf_dir, "embeddings")
    a = e.filter(F.col("vec_id") % 2 == 0)
    b = e.filter(F.col("vec_id") % 2 == 1)
    return sim_ops.embedding_centroid_drift(a, b, "label")


@register(
    "graph_pagerank_parts",
    """
    WITH e AS (
      SELECT 'o' || CAST(l_orderkey AS VARCHAR) AS src,
             'p' || CAST(l_partkey AS VARCHAR) AS dst
      FROM lineitem
      UNION ALL
      SELECT 'p' || CAST(l_partkey AS VARCHAR),
             'o' || CAST(l_orderkey AS VARCHAR)
      FROM lineitem
    ), nodes AS (
      SELECT DISTINCT node
      FROM (SELECT src AS node FROM e UNION ALL SELECT dst AS node FROM e)
    ), nn AS (SELECT COUNT(*) AS n FROM nodes),
    deg AS (SELECT src, COUNT(*) AS outdeg FROM e GROUP BY src),
    ed AS (SELECT e.src, e.dst, deg.outdeg FROM e JOIN deg USING (src)),
    b AS (SELECT (1000000000000 * 15) // (100 * n) AS base FROM nn),
    r0 AS (
      SELECT node, CAST(FLOOR(1000000000000.0 / n) AS BIGINT) AS r
      FROM nodes, nn
    ),
    c1 AS (SELECT ed.dst AS node, SUM((r.r * 85) // (100 * ed.outdeg)) AS s
           FROM ed JOIN r0 r ON ed.src = r.node GROUP BY ed.dst),
    d1 AS (SELECT (dm * 85) // (100 * n) AS dsh FROM
           (SELECT COALESCE(SUM(r0.r), 0) AS dm FROM r0
            LEFT JOIN deg ON r0.node = deg.src WHERE deg.src IS NULL), nn),
    r1 AS (SELECT nodes.node,
                  CAST(base + dsh + COALESCE(c1.s, 0) AS BIGINT) AS r
           FROM nodes LEFT JOIN c1 USING (node), b, d1),
    c2 AS (SELECT ed.dst AS node, SUM((r.r * 85) // (100 * ed.outdeg)) AS s
           FROM ed JOIN r1 r ON ed.src = r.node GROUP BY ed.dst),
    d2 AS (SELECT (dm * 85) // (100 * n) AS dsh FROM
           (SELECT COALESCE(SUM(r1.r), 0) AS dm FROM r1
            LEFT JOIN deg ON r1.node = deg.src WHERE deg.src IS NULL), nn),
    r2 AS (SELECT nodes.node,
                  CAST(base + dsh + COALESCE(c2.s, 0) AS BIGINT) AS r
           FROM nodes LEFT JOIN c2 USING (node), b, d2),
    c3 AS (SELECT ed.dst AS node, SUM((r.r * 85) // (100 * ed.outdeg)) AS s
           FROM ed JOIN r2 r ON ed.src = r.node GROUP BY ed.dst),
    d3 AS (SELECT (dm * 85) // (100 * n) AS dsh FROM
           (SELECT COALESCE(SUM(r2.r), 0) AS dm FROM r2
            LEFT JOIN deg ON r2.node = deg.src WHERE deg.src IS NULL), nn),
    r3 AS (SELECT nodes.node,
                  CAST(base + dsh + COALESCE(c3.s, 0) AS BIGINT) AS r
           FROM nodes LEFT JOIN c3 USING (node), b, d3)
    SELECT node, r AS rank_fix, ROUND(r / 1000000000000.0, 12) AS rank
    FROM r3 ORDER BY rank_fix DESC, node LIMIT 100
    """,
)
def graph_pagerank_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-point PageRank (operators.graph.pagerank), 3 iterations over
    the symmetric order↔part co-purchase graph (namespaced node ids) —
    the link-centrality curation signal, made HASH-GATEABLE for an
    iterative algorithm: ranks live on an integer 10¹² grid, every
    contribution is integer DIV/sum (associative ⇒ partition-order-
    independent), so the oracle's unrolled 3-step recurrence reproduces
    the Spark result bit-for-bit. Top-100 nodes by rank."""
    from ..operators import graph as graph_ops

    l = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    # Integer node encoding for the ITERATIVE phase: order → 2k, part →
    # 2k+1. The 15-odd shuffles of a 3-round PageRank hash/compare node
    # keys constantly — 8-byte longs beat ~10-char strings on every one
    # of them (measured 7.5s → string keys vs longs at sf0.1). The
    # oracle's namespaced string ids are rendered ONLY for the final
    # top-100 sort, so output (and tie order on the rendered string)
    # is unchanged.
    o = F.col("l_orderkey") * 2
    p = F.col("l_partkey") * 2 + 1
    edges = l.select(o.alias("src"), p.alias("dst")).unionByName(
        l.select(p.alias("src"), o.alias("dst"))
    )
    pr = graph_ops.pagerank(edges, "src", "dst", n_iter=3)
    node_s = F.when(
        F.col("node") % 2 == 0,
        F.concat(F.lit("o"), F.expr("node DIV 2").cast("string")),
    ).otherwise(F.concat(F.lit("p"), F.expr("node DIV 2").cast("string")))
    rendered = pr.select(node_s.alias("node"), "rank_fix", "rank")
    return relational.top_k(rendered, [F.desc("rank_fix"), F.asc("node")], 100)

