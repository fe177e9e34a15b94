"""Full-text retrieval: BM25 scoring and top-k search over a document
corpus — the retrieval half of a RAG / data-curation stack (query mining,
eval-set retrieval, nearest-document audits) that complements the embedding
ANN operators in :mod:`.similarity` with the classic lexical ranker.

Reference scope note: the reference project (untitled.py:19-241) has no
retrieval surface; this module is part of the LLM-data-pipeline extension
the engine adds on top of reference parity (SURVEY §2 extension X-series).

Scale shape (the part that must survive 100 TB):

- The corpus statistics (term frequencies, document lengths, document
  frequencies) are ONE explode → (doc, term) groupBy over the corpus —
  identical skeleton to :func:`..text.tfidf_top_terms`, partial-aggregable
  and skew-free (the hot shuffle is keyed by (doc, term), whose heavy
  hitters are bounded by document length).
- Document lengths and document frequencies both DERIVE from the TF frame
  (sum / count over it) — the corpus text is scanned once; the TF frame is
  persisted (MEMORY_AND_DISK) so the derivations don't recompute the
  explode.
- The query set is bounded by contract (a user-supplied list of query
  strings — tens to thousands, never corpus-sized), so query-term frames
  are explicitly broadcast; the corpus-sized TF frame is only ever probed
  by broadcast-hash joins and never reshuffled beyond its own groupBy.
- The vocabulary-sized DF table is pruned to the query's terms by joining
  the (tiny, broadcast) query-term frame INTO it — after pruning the
  per-term IDF frame is query-sized and rides a broadcast into the posting
  join. The full vocabulary table is never forced into a broadcast (same
  rule as text.bigram_lm: 10⁸+ distinct tokens at 100 TB).

BM25 formula (Robertson / Lucene non-negative variant):

    idf(t)  = ln(1 + (N - df(t) + 0.5) / (df(t) + 0.5))
    norm(d) = k1 * (1 - b + b * len(d) / avgdl)
    score(q, d) = Σ_{t ∈ distinct(q) ∩ d}  idf(t) * tf(t,d) * (k1 + 1)
                                           / (tf(t,d) + norm(d))

Query-side term frequency is intentionally ignored (distinct query terms),
matching Lucene's practical default for short queries; swap the distinct
for a (query, term) count to weight repeated query terms.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .text import tokens

__all__ = [
    "bm25_corpus_stats",
    "bm25_scores",
    "bm25_topk",
    "rrf_fuse",
    "eval_ranking",
    "macro_average",
]


def bm25_corpus_stats(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    persist_tf: bool = True,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Build the three corpus-side BM25 frames from one corpus scan:

    - ``tf``:      (id, term, tf)        — term frequency per document
    - ``lens``:    (id, dl)              — document token counts
    - ``dfreq``:   (term, df)            — document frequency per term

    Round 18 (VERDICT r17 #4 — in-row TF/DL build): term frequencies are
    run lengths over each document's SORTED token array, computed
    entirely in-row (array_sort + run-start positions + per-run struct
    expansion), so the (doc, term) groupBy EXCHANGE of the old
    explode-then-aggregate form is gone — (doc, term) keys were already
    doc-local before the shuffle, the exchange merged nothing. ``lens``
    becomes a pure projection (dl = sorted-token count, zero exchange;
    the old form paid a second doc-keyed exchange to re-sum tf). The one
    remaining exchange is ``dfreq``'s term-keyed aggregate, which is
    fundamental. Values are identical by construction (count of term t
    in doc d == its run length in the sorted array; docs with no
    non-empty tokens have no tf rows and no lens row, exactly as
    before), pinned by the shared full-corpus SQL oracle.

    With ``persist_tf=True`` (default; the 100 TB path) the per-doc
    (id, dl, runs) frame materializes once (eager persist — its
    consumers are planned concurrently inside one action, so a lazy
    persist would let the racing stages each recompute the tokenize +
    sort scan) and all three frames read it. The returned frames are
    plain DataFrames — write them through :mod:`..table` / parquet to
    make the index a reusable artifact (the scan-once property then
    holds across queries, not just within one plan)."""
    s = F.col("__ts")
    n = F.size(s)
    base = docs.select(
        F.col(id_col),
        F.array_sort(
            F.filter(tokens(text_col), lambda t: t != F.lit(""))
        ).alias("__ts"),
    )
    # run starts: 0-based positions p where s[p] != s[p-1] (F.get is
    # 0-based and NULL out-of-bounds — safe under ANSI, unlike
    # element_at). sequence(0, -1) would DESCEND, hence the n==0 guard.
    st = F.col("__st")
    starts = F.when(n == 0, F.array().cast("array<int>")).otherwise(
        F.filter(
            F.sequence(F.lit(0), n - 1),
            lambda i: (i == 0) | (F.get(s, i - 1) != F.get(s, i)),
        )
    )
    runs = F.transform(
        st,
        lambda p, j: F.struct(
            F.get(s, p).alias("term"),
            (F.coalesce(F.get(st, j + 1), n) - p).cast("long").alias("tf"),
        ),
    )
    base = base.select(
        F.col(id_col), n.cast("long").alias("dl"), starts.alias("__st"), s
    ).select(F.col(id_col), "dl", runs.alias("__tf"))
    if persist_tf:
        from .dedup import _materialize

        # Session-lifetime state: release via the bulk
        # _util.release_tracked() or session.clear_session_state — or pass
        # persist_tf=False / a prebuilt corpus_stats in long-lived sessions
        # issuing many inline bm25 calls (the production path is a
        # PERSISTED index via index_store.save_bm25_stats anyway).
        base = _materialize(base, "eager")
    # explode_outer + a filter on the generated column, not explode: for
    # explode the optimizer infers size(__tf) > 0 below the Generate and
    # pushes it through the projections above, inlining the tokenize +
    # array_sort into the run lambdas — recomputed once per array element
    # (60 sf0.001 docs: tf count 61 s vs 2 s). A doc with no runs yields
    # one NULL __e here and is dropped by the filter: the rows are the same.
    tf = (
        base.select(F.col(id_col), F.explode_outer("__tf").alias("__e"))
        .filter(F.col("__e").isNotNull())
        .select(
            F.col(id_col), F.col("__e.term").alias("term"), F.col("__e.tf").alias("tf")
        )
    )
    lens = base.filter(F.col("dl") > 0).select(F.col(id_col), "dl")
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    return tf, lens, dfreq


def bm25_scores(
    queries: DataFrame,
    docs: DataFrame,
    id_col: str,
    text_col: str,
    query_id_col: str = "query_id",
    query_text_col: str = "query",
    k1: float = 1.2,
    b: float = 0.75,
    round_digits: int = 6,
    corpus_stats: tuple[DataFrame, DataFrame, DataFrame] | None = None,
) -> DataFrame:
    """Score every (query, document) pair that shares ≥1 term — the
    sparse BM25 join. Emits (query_id, id, score).

    Only matching postings are ever materialized: the query-term frame
    (bounded by contract) broadcasts into the TF frame, so the work is
    Σ over query terms of df(term) posting rows — never |Q| × |D|.
    Pass ``corpus_stats`` (from :func:`bm25_corpus_stats`, possibly read
    back from parquet) to reuse a prebuilt index across calls."""
    tf, lens, dfreq = (
        corpus_stats
        if corpus_stats is not None
        else bm25_corpus_stats(docs, id_col, text_col)
    )
    # N and avgdl: 1-row scalar frame, rides a broadcast crossJoin.
    scalars = lens.agg(
        F.count(F.lit(1)).alias("__n"), F.avg("dl").alias("__avgdl")
    )
    qterms = (
        queries.select(
            F.col(query_id_col), F.explode(tokens(query_text_col)).alias("term")
        )
        .filter(F.col("term") != "")
        .distinct()
    )
    # Prune the vocabulary-sized DF table down to the query's terms: tiny
    # broadcast side probes dfreq, result is query-sized → safe to
    # broadcast into the posting join below.
    q_idf = (
        dfreq.join(F.broadcast(qterms), "term")
        .crossJoin(F.broadcast(scalars))
        .select(
            query_id_col,
            "term",
            F.log(
                F.lit(1.0)
                + (F.col("__n") - F.col("df") + 0.5) / (F.col("df") + 0.5)
            ).alias("__idf"),
            "__avgdl",
        )
    )
    matched = tf.join(F.broadcast(q_idf), "term")
    # Posting rows join their document's length: the matched side is
    # query-term-postings-sized (≪ corpus); AQE broadcasts it when small,
    # otherwise a doc-keyed shuffle join — either is fine at 100 TB.
    part = (
        F.col("__idf")
        * F.col("tf")
        * (k1 + 1.0)
        / (F.col("tf") + k1 * (1.0 - b + b * F.col("dl") / F.col("__avgdl")))
    )
    # Per-term partials quantize to a 10^12 fixed-point grid BEFORE the
    # sum (same rule as text.term_distribution_jsd / bigram_logppl): a
    # float Σ's accumulation order is partitioning-dependent, so a sum
    # landing on a rounding boundary could flip oracle hashes and rank
    # ties as corpus/query sizes grow. Integer sums are order-free; the
    # grid keeps ~7 significant digits past any sane round_digits.
    # Bound: partials ≤ (k1+1)·idf ≤ ~50 → ≤5·10¹³ per term, and a
    # (query, doc) group has ≤|query terms| rows — no int64 risk.
    scored = matched.join(lens, id_col).select(
        query_id_col,
        id_col,
        F.floor(part * F.lit(1e12) + F.lit(0.5)).cast("long").alias("__part"),
    )
    p = float(10**round_digits)
    return scored.groupBy(query_id_col, id_col).agg(
        (
            F.floor(
                F.sum("__part").cast("double") / F.lit(1e12) * p + F.lit(0.5)
            )
            / p
        ).alias("score")
    )


def bm25_topk(
    queries: DataFrame,
    docs: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 5,
    query_id_col: str = "query_id",
    query_text_col: str = "query",
    k1: float = 1.2,
    b: float = 0.75,
    round_digits: int = 6,
    corpus_stats: tuple[DataFrame, DataFrame, DataFrame] | None = None,
) -> DataFrame:
    """Top-k documents per query by BM25 — (query_id, rank, id, score),
    deterministic tiebreak (score desc, id asc). The ranking window
    partitions by query_id (bounded cardinality, no skew risk) and the
    row_number filter pushes a per-partition group-limit below the final
    sort (same plan shape as text.tfidf_top_terms's top-k, plan-asserted
    there)."""
    scored = bm25_scores(
        queries,
        docs,
        id_col,
        text_col,
        query_id_col=query_id_col,
        query_text_col=query_text_col,
        k1=k1,
        b=b,
        round_digits=round_digits,
        corpus_stats=corpus_stats,
    )
    w = Window.partitionBy(query_id_col).orderBy(F.desc("score"), F.asc(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id_col, "rank", id_col, "score")
    )


def rrf_fuse(
    rankings: list[DataFrame],
    id_col: str,
    query_id_col: str = "query_id",
    rank_col: str = "rank",
    k_rrf: int = 60,
    k: int = 10,
    round_digits: int = 6,
) -> DataFrame:
    """Reciprocal-rank fusion (Cormack/Clarke/Büttcher) — THE standard way
    to combine lexical (BM25) and semantic (ANN) result lists into one
    hybrid ranking without score calibration:

        rrf(q, d) = Σ_over_lists 1 / (k_rrf + rank_list(q, d))

    Each input frame carries (query_id, id, rank) per retrieved item
    (items absent from a list simply contribute nothing). Returns
    (query_id, rank, id, rrf_score) — top-``k`` per query, deterministic
    tiebreak (score desc, id asc).

    Determinism: each contribution quantizes to a 10¹² fixed-point grid
    (floor(1e12/(k_rrf+rank)+0.5) — exact same double on every engine),
    the per-(query, doc) sum is an order-free integer Σ, then one float
    division + floor-half-up rounding. Same exactness rule as bm25_scores.

    Scale shape: inputs are top-k-per-query frames — bounded by
    #queries·k, never corpus-sized — so the union + (query, doc) groupBy
    is trivially partial-aggregable and usually broadcast-small; nothing
    here touches the corpus. int64 headroom: ≤ |lists|·1e12/(k_rrf+1)
    per group, no risk."""
    contribs = None
    for r in rankings:
        c = r.select(
            F.col(query_id_col),
            F.col(id_col),
            F.col(rank_col).cast("long").alias("__r"),
        )
        contribs = c if contribs is None else contribs.unionByName(c)
    if contribs is None:
        raise ValueError("rrf_fuse needs at least one ranking frame")
    quant = F.floor(
        F.lit(1e12) / (F.lit(float(k_rrf)) + F.col("__r")) + F.lit(0.5)
    ).cast("long")
    p = float(10**round_digits)
    scored = (
        contribs.select(query_id_col, id_col, quant.alias("__c"))
        .groupBy(query_id_col, id_col)
        .agg(
            (
                F.floor(
                    F.sum("__c").cast("double") / F.lit(1e12) * p + F.lit(0.5)
                )
                / p
            ).alias("rrf_score")
        )
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.desc("rrf_score"), F.asc(id_col)
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id_col, "rank", id_col, "rrf_score")
    )


def eval_ranking(
    run: DataFrame,
    qrels: DataFrame,
    id_col: str,
    query_id_col: str = "query_id",
    rank_col: str = "rank",
    k: int = 10,
    round_digits: int = 6,
) -> DataFrame:
    """Offline ranking-quality evaluation — the step after ANY retriever
    (BM25, ANN, RRF hybrid): per-query recall@k, precision@k, MRR@k and
    nDCG@k of ``run`` (a (query_id, id, rank) result list) against
    ``qrels`` (the (query_id, id) relevant set, binary relevance).

    Returns ONE row per query: (query_id, n_rel, n_hit, recall_k,
    precision_k, mrr_k, ndcg_k). Macro-average downstream with one tiny
    agg. Queries present in ``qrels`` but absent from ``run`` still
    appear (zero metrics) — silently dropping unanswered queries
    overstates every metric, the classic eval bug (trec_eval's
    ``-c`` behavior, made the default here).

    Math (binary relevance): recall = hits/|rel|, precision = hits/k,
    MRR = 1/first-hit-rank, nDCG = DCG/IDCG with DCG = Σ_hits 1/log2(r+1)
    and IDCG = Σ_{i=1..min(|rel|,k)} 1/log2(i+1).

    Scale shape: run frames are top-k-per-query (bounded by #queries·k,
    never corpus-sized); the qrel join keys on (query, doc) and the
    per-query rollup is partial-aggregable.

    Determinism: each DCG contribution quantizes to a 10¹² fixed-point
    grid (floor(1e12/log2(r+1)+0.5) — the same double on every engine
    since r ≤ k is a small integer), so the per-query Σ is an order-free
    integer sum; IDCG is the matching integer constant. One float
    division + rounding at the end — the rrf_fuse exactness contract,
    immune to the float-sum-order caveat flagged for bm25_scores.
    """
    # 1 ≤ rank ≤ k, not just ≤ k: element_at below throws on rank 0 and
    # silently indexes from the END of the gain array for negative ranks
    # (ADVICE r07) — the filter must prove __r ∈ 1..k, the array domain
    r = run.filter((F.col(rank_col) >= 1) & (F.col(rank_col) <= k)).select(
        F.col(query_id_col).alias("__q"),
        F.col(id_col).alias("__d"),
        F.col(rank_col).alias("__r"),
    )
    q = qrels.select(
        F.col(query_id_col).alias("__q"), F.col(id_col).alias("__d")
    ).dropDuplicates(["__q", "__d"])
    import math

    nrel = q.groupBy("__q").agg(F.count(F.lit(1)).alias("n_rel"))
    hits = r.join(q, ["__q", "__d"])
    # fixed-point DCG term per hit: rank ≤ k ⇒ a k-entry integer table,
    # summed order-free in int64 (≤ k·10¹² per query — no overflow)
    gain = [int(math.floor(1e12 / math.log2(i + 1) + 0.5)) for i in range(1, k + 1)]
    # array-literal lookup, not a k-deep nested CASE chain: expression
    # depth stays O(1) in k, so k=1000-style evals never hit codegen
    # limits (element_at is 1-indexed; __r ∈ 1..k by the filter above)
    gain_fix = F.element_at(
        F.array(*[F.lit(g).cast("long") for g in gain]), F.col("__r").cast("int")
    )
    per = hits.withColumn("__g", gain_fix).groupBy("__q").agg(
        F.count(F.lit(1)).alias("n_hit"),
        F.min("__r").alias("__first"),
        F.sum("__g").alias("__dcg_fix"),
    )
    # IDCG: the matching integer prefix-sum, keyed on min(n_rel, k)
    prefix = [0]
    for g in gain:
        prefix.append(prefix[-1] + g)
    # same array-lookup shape: index the IDCG prefix table by
    # min(n_rel, k) ∈ 1..k (n_rel ≥ 1 — it comes from a groupBy)
    idcg_fix = F.element_at(
        F.array(*[F.lit(p).cast("long") for p in prefix[1:]]),
        F.least(F.col("n_rel"), F.lit(k)).cast("int"),
    )
    out = nrel.join(per, "__q", "left")
    z = F.coalesce(F.col("n_hit"), F.lit(0))
    return out.select(
        F.col("__q").alias(query_id_col),
        "n_rel",
        z.alias("n_hit"),
        F.round(z / F.col("n_rel"), round_digits).alias("recall_k"),
        F.round(z / F.lit(float(k)), round_digits).alias("precision_k"),
        F.round(
            F.coalesce(F.lit(1.0) / F.col("__first"), F.lit(0.0)), round_digits
        ).alias("mrr_k"),
        F.round(
            F.coalesce(F.col("__dcg_fix"), F.lit(0)).cast("double")
            / idcg_fix.cast("double"),
            round_digits,
        ).alias("ndcg_k"),
    )


def macro_average(
    per: DataFrame,
    metric_cols: tuple[str, ...] = ("recall_k", "precision_k", "mrr_k", "ndcg_k"),
    round_digits: int = 6,
) -> DataFrame:
    """Macro-average :func:`eval_ranking` output into the one-row
    dashboard frame (n_queries, macro_<metric>…). Because eval_ranking
    keeps zero-metric rows for unanswered queries, the macro can never be
    inflated by silent query drops — averaging over rows IS averaging
    over the full query set.

    Determinism: the per-query metrics are already ``round_digits``-digit
    decimals, so lifting them onto the 10^round_digits fixed-point
    integer grid is EXACT; the macro is an order-free long sum and ONE
    float division (``F.avg`` over doubles would be accumulation-order-
    dependent on a rounding boundary — the repo-wide
    fixed-point-before-sum discipline)."""
    p = float(10**round_digits)

    def _macro(c: str) -> F.Column:
        fix = F.round(F.col(c) * F.lit(p)).cast("long")
        return F.round(F.sum(fix) / (F.count(F.lit(1)) * F.lit(p)), round_digits)

    return per.agg(
        F.count(F.lit(1)).alias("n_queries"),
        *[_macro(c).alias(f"macro_{c.removesuffix('_k')}") for c in metric_cols],
    )
