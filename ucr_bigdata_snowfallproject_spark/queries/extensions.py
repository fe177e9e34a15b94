"""Extension operators: text analysis (X4), dedup (X1/X2), similarity (X3) — query registrations.

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
# Extension operators: text analysis (X4), dedup (X1/X2), similarity (X3)
# =========================================================================


@register(
    "text_stats_documents",
    """
    SELECT doc_id,
           CAST(length(text) AS INTEGER) AS len_chars,
           CAST(len(regexp_split_to_array(lower(trim(text)), '\\s+')) AS INTEGER) AS n_tokens,
           md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fingerprint
    FROM documents
    """,
)
def text_stats_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4 token counting + md5 document fingerprint — pure column
    expressions, scan-speed over 100 TB of text."""
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.length("text").alias("len_chars"),
        text_ops.token_count("text").alias("n_tokens"),
        text_ops.fingerprint("text").alias("fingerprint"),
    )


@register(
    "text_quality_by_source",
    """
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           ROUND(AVG(length(text)), 4) AS avg_len,
           ROUND(AVG(len(list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
                 t -> t IN ('the','a','of','and','to','in','is','it')))
                 / len(regexp_split_to_array(lower(trim(text)), '\\s+'))), 4) AS avg_stopword_ratio
    FROM documents GROUP BY source
    """,
)
def text_quality_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4 quality-signal aggregation per source (stopword-ratio heuristic —
    the language-ID / quality-score building block)."""
    d = load_table(spark, sf_dir, "documents")
    return d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.avg(F.length("text")), 4).alias("avg_len"),
        F.round(F.avg(text_ops.stopword_ratio("text")), 4).alias("avg_stopword_ratio"),
    )


@register(
    "text_language_id",
    """
    WITH t AS (
      SELECT doc_id, lang, text,
             regexp_split_to_array(lower(trim(text)), '\\s+') AS toks
      FROM documents
    ), r AS (
      SELECT doc_id, lang, text,
             len(list_filter(toks, t -> t IN ('the','a','of','and','to','in','is','it')))::DOUBLE
               / len(toks) AS r_en,
             len(list_filter(toks, t -> t IN ('el','la','de','y','que','en','un','es')))::DOUBLE
               / len(toks) AS r_es,
             len(list_filter(toks, t -> t IN ('le','la','de','et','que','en','un','est')))::DOUBLE
               / len(toks) AS r_fr,
             len(list_filter(toks, t -> t IN ('der','die','das','und','zu','in','ein','ist')))::DOUBLE
               / len(toks) AS r_de,
             len(toks)::DOUBLE    AS n_toks,
             length(text)::DOUBLE AS n_chars
      FROM t
    ), s AS (
      SELECT doc_id, lang, r_en, r_es, r_fr, r_de,
             greatest(r_en, r_es, r_fr, r_de) AS best,
             least(n_chars / 500.0, 1.0) AS length_score,
             CASE WHEN (n_chars - n_toks + 1) / n_toks BETWEEN 3 AND 10
                  THEN 1.0 ELSE 0.3 END AS word_len_score,
             CASE WHEN length(regexp_replace(text, '[^.,;:!?]', '', 'g')) / n_chars < 0.1
                  THEN 1.0 ELSE 0.5 END AS punct_score,
             least(r_en * 5, 1.0) AS sw_score
      FROM r
    )
    SELECT doc_id, lang,
           CASE WHEN r_de = best AND best >= 0.05 THEN 'de'
                WHEN r_fr = best AND best >= 0.05 THEN 'fr'
                WHEN r_es = best AND best >= 0.05 THEN 'es'
                WHEN r_en = best AND best >= 0.05 THEN 'en'
                ELSE 'und' END AS lang_pred,
           ROUND((length_score + word_len_score + punct_score + sw_score) / 4, 4) AS quality
    FROM s
    """,
)
def text_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4 language-ID heuristic (stopword-ratio argmax across 4 language
    profiles, operators.text.detect_language) + the composite quality
    score. Closed-form column expressions, so the DuckDB twin reproduces
    them exactly — including the later-language-wins tie policy (the CASE
    mirrors the when-chain nesting order)."""
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        "lang",
        text_ops.detect_language("text").alias("lang_pred"),
        F.round(text_ops.quality_score("text"), 4).alias("quality"),
    )


@register(
    "text_redact_pii",
    r"""
    SELECT doc_id,
           regexp_replace(regexp_replace(regexp_replace(text,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
             '\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b', '<IP>', 'g'),
             '\+?[0-9]([()\-.]? ?[()\-.]?[0-9]){7,}', '<PHONE>', 'g') AS redacted,
           (regexp_replace(regexp_replace(regexp_replace(text,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
             '\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b', '<IP>', 'g'),
             '\+?[0-9]([()\-.]? ?[()\-.]?[0-9]){7,}', '<PHONE>', 'g') <> text) AS changed
    FROM documents
    """,
)
def text_redact_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4/curation PII scrubbing: emails, phone-ish digit runs, and IPs →
    typed placeholders (operators.text.redact_pii). Pure regexp_replace
    chain — codegen'd scan-speed; the patterns are lookaround-free so the
    DuckDB RE2 twin applies the SAME regexes. Replacement mechanics are
    pinned on synthetic PII rows in tests (the fixture is largely clean)."""
    d = load_table(spark, sf_dir, "documents")
    red = text_ops.redact_pii("text")
    return d.select(
        "doc_id",
        red.alias("redacted"),
        (red != F.col("text")).alias("changed"),
    )


@register(
    "text_repetition_stats",
    """
    WITH toks AS (
      SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS t FROM documents
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
    """,
)
def text_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4/curation Gopher-style repetition signals per document:
    duplicate-line fraction (boilerplate tell) and top word-trigram share
    (loop/keyword-stuffing tell) — operators.text.repetition_stats. The
    n-gram mode is explode → (doc, gram) count → per-doc max/sum: narrow
    doc-id-keyed shuffles, no per-row O(len²) HOF scan."""
    d = load_table(spark, sf_dir, "documents")
    return text_ops.repetition_stats(d, "doc_id", "text", n=3)


@register(
    "curation_hash_split",
    """
    SELECT doc_id,
           CASE WHEN bucket < 9000 THEN 'train'
                WHEN bucket < 9500 THEN 'val'
                ELSE 'test' END AS split
    FROM (SELECT doc_id,
                 ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '#split'), 1, 8))::BIGINT
                   % 10000 AS bucket
          FROM documents)
    """,
)
def curation_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 90/5/5 train/val/test assignment by md5-prefix hash
    (operators.curation.hash_split): a doc's split depends only on its id
    and the seed — stable across reruns, engines (the oracle recomputes
    the identical md5 buckets), repartitioning, and incremental arrival,
    unlike randomSplit. Pure column expression — scan-speed at 100 TB."""
    d = load_table(spark, sf_dir, "documents")
    return curation_ops.hash_split(d, "doc_id").select("doc_id", "split")


#: Shared by curation_decontaminate AND its round-12 Bloom-prefiltered
#: twin — the bloom path's output is bit-identical by construction (the
#: bitmap only admits a superset; the exact verify join removes false
#: positives), so one oracle externally proves both plans.
_DECON_SHINGLE_ORACLE = """
    WITH toks AS (
      SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS t FROM documents
    ), sh AS (
      SELECT doc_id,
             CASE WHEN len(t) >= 5
                  THEN list_distinct(list_transform(
                         generate_series(1, len(t) - 4),
                         i -> array_to_string(t[i:i+4], ' ')))
                  ELSE [array_to_string(t, ' ')] END AS gs
      FROM toks
    ), ex AS (
      SELECT doc_id, unnest(gs) AS g FROM sh
    ), ev AS (
      SELECT DISTINCT g FROM ex WHERE doc_id % 17 = 0
    ), tr AS (
      SELECT * FROM ex WHERE doc_id % 17 <> 0
    )
    SELECT tr.doc_id,
           CAST(COUNT(*) AS BIGINT)                     AS n_shingles,
           CAST(COUNT(ev.g) AS BIGINT)                  AS n_hits,
           ROUND(COUNT(ev.g)::DOUBLE / COUNT(*), 4)     AS contamination,
           (ROUND(COUNT(ev.g)::DOUBLE / COUNT(*), 4) > 0.1) AS contaminated
    FROM tr LEFT JOIN ev USING (g)
    GROUP BY tr.doc_id
    """


@register("curation_decontaminate", _DECON_SHINGLE_ORACLE)
def curation_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (operators.curation.decontaminate): per
    training doc, the fraction of its distinct 5-gram shingles found
    anywhere in the eval corpus (here: every 17th doc stands in for a
    benchmark set). Inverted-index shape — explode shingles, DISTINCT the
    tiny eval side, broadcast left join, per-doc count: Σ df(shingle)
    work, never |train|×|eval|."""
    d = load_table(spark, sf_dir, "documents")
    return curation_ops.decontaminate(
        d.filter(F.col("doc_id") % 17 != 0),
        d.filter(F.col("doc_id") % 17 == 0),
        "doc_id",
        "text",
        n=5,
        threshold=0.1,
    )


@register("curation_decontaminate_bloom", _DECON_SHINGLE_ORACLE)
def curation_decontaminate_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-prefiltered decontamination (round 12,
    operators.curation.decontaminate_bloom): the 100 TB scale path for
    the shingle-fraction signal — the eval corpus's distinct shingles
    compress to a 128 KiB Bloom bitmap (a reusable index artifact, two
    orders smaller than the exact-anchor broadcast budget), every
    training shingle probes it scan-side (codegen'd xxhash64 + bit
    tests via relational.bloom_semi_join), and only probable hits reach
    the exact verify join that removes false positives. False negatives
    are impossible ⇒ output is BIT-IDENTICAL to curation_decontaminate,
    whose oracle this entry shares VERBATIM — the driver externally
    proves prefiltered == exact, the same twin discipline as
    incremental == batch and poly == md5."""
    d = load_table(spark, sf_dir, "documents")
    # anti-hollow trailing filter (the round-9 rule): under bench's
    # count() Catalyst would eliminate the unique-keyed hits join and
    # time the shingle count alone
    return curation_ops.decontaminate_bloom(
        d.filter(F.col("doc_id") % 17 != 0),
        d.filter(F.col("doc_id") % 17 == 0),
        "doc_id",
        "text",
        n=5,
        threshold=0.1,
        # num_bits=None → auto-sized from the eval-shingle estimate (r13:
        # ~10 bits/shingle next-pow2 ⇒ 2^18 on the sf0.1 eval side) and
        # probed via the default broadcast word-table JOIN form — measured
        # 1.65s warm vs the r12 hand-pinned 2^17 literal's 2.6-3.4s and
        # the 2^20 literal default's 14-16s cliff (SCALE.md crossover
        # section; sizing rule pinned in test_bloom_auto_bits_rule)
    ).filter(F.col("n_hits") >= 0)


@register("curation_decontaminate_bloom_join", _DECON_SHINGLE_ORACLE)
def curation_decontaminate_bloom_join(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Broadcast word-table Bloom decontamination (round 13,
    relational.bloom_semi_join mode="join") — the rung above the array
    literal: the OCCUPIED bitmap words become a broadcast (__w, __bits)
    frame each probe position left-joins, so plan size is independent of
    num_bits and the bitmap can be sized for fp-rate alone (10⁹-10¹⁰
    bits for a real 10⁸-10⁹-shingle eval union — impossible as a plan
    literal, VERDICT r12 Missing #2).  num_bits here is forced to 2²³
    (131,072 words — 32× the literal ceiling) to exercise the exact
    regime the literal form cannot express; output stays BIT-IDENTICAL
    to curation_decontaminate (false negatives impossible, verify join
    removes false positives), so this entry shares its DuckDB oracle
    VERBATIM — the driver externally proves join form == literal form ==
    exact."""
    d = load_table(spark, sf_dir, "documents")
    return curation_ops.decontaminate_bloom(
        d.filter(F.col("doc_id") % 17 != 0),
        d.filter(F.col("doc_id") % 17 == 0),
        "doc_id",
        "text",
        n=5,
        threshold=0.1,
        num_bits=1 << 23,
        mode="join",
    ).filter(F.col("n_hits") >= 0)


_DECON_SPANS_ORACLE = """
    WITH t AS (
      SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS arr
      FROM documents
    ), anchors AS (
      SELECT doc_id, i AS pos,
             md5(array_to_string(list_slice(arr, i, i + 11), ' ')) AS fp
      FROM t, LATERAL unnest(generate_series(1, greatest(len(arr) - 11, 0))) g(i)
      WHERE len(arr) >= 12
    ), m AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             a.pos AS pos_a, b.pos AS pos_b
      FROM anchors a JOIN anchors b ON a.fp = b.fp
      WHERE a.doc_id % 7 != 0 AND b.doc_id % 7 = 0
    ), r AS (
      SELECT *, pos_a - pos_b AS diag,
             pos_a - ROW_NUMBER() OVER (
               PARTITION BY doc_a, doc_b, pos_a - pos_b ORDER BY pos_a) AS grp
      FROM m
    ), spans AS (
      SELECT doc_a, MIN(pos_a) AS s, MAX(pos_a) - MIN(pos_a) + 12 AS tok
      FROM r GROUP BY doc_a, doc_b, diag, grp
    ), per_doc AS (
      SELECT doc_a, COUNT(*) AS n_spans, MAX(tok) AS max_span
      FROM spans GROUP BY doc_a
    ), iv AS (
      SELECT DISTINCT doc_a, s, s + tok - 1 AS e FROM spans
    ), isl AS (
      SELECT doc_a, s, e,
             SUM(CASE WHEN pm IS NULL OR s > pm THEN 1 ELSE 0 END) OVER (
               PARTITION BY doc_a ORDER BY s, e
               ROWS UNBOUNDED PRECEDING) AS g
      FROM (
        SELECT doc_a, s, e,
               MAX(e) OVER (PARTITION BY doc_a ORDER BY s, e
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm
        FROM iv)
    ), cov AS (
      SELECT doc_a, SUM(len) AS dup FROM (
        SELECT doc_a, g, MAX(e) - MIN(s) + 1 AS len
        FROM isl GROUP BY doc_a, g)
      GROUP BY doc_a
    )
    SELECT d.doc_id,
           CAST(len(regexp_split_to_array(lower(trim(d.text)), '\\s+'))
                AS BIGINT) AS n_tokens,
           CAST(COALESCE(p.n_spans, 0) AS BIGINT) AS n_spans,
           CAST(COALESCE(p.max_span, 0) AS BIGINT) AS max_span_tokens,
           CAST(COALESCE(c.dup, 0) AS BIGINT) AS contaminated_tokens,
           ROUND(COALESCE(c.dup, 0)::DOUBLE /
                 len(regexp_split_to_array(lower(trim(d.text)), '\\s+')), 4)
             AS contamination,
           COALESCE(c.dup, 0) > 0 AS contaminated
    FROM documents d
    LEFT JOIN per_doc p ON p.doc_a = d.doc_id
    LEFT JOIN cov c ON c.doc_a = d.doc_id
    WHERE d.doc_id % 7 != 0
"""


@register("curation_decontaminate_spans", _DECON_SPANS_ORACLE)
def curation_decontaminate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring-level benchmark decontamination
    (operators.curation.decontaminate_spans): every maximal >=12-token
    VERBATIM span each training doc (doc_id % 7 != 0) shares with the
    eval corpus (doc_id % 7 == 0), folded to the per-doc excise/drop
    signal — span count, longest span, interval-union token coverage,
    contamination fraction, and the boolean gate. The exact-span
    strengthening of curation_decontaminate's shingle fraction: it
    carries positions and extents, which the excise-don't-drop decision
    needs. min_tokens=12 matches the fixture; production default is the
    GPT-3/PaLM 13. The tail filter is a Catalyst-unprovable no-op that
    keeps the bench's count() from eliminating the two unique-keyed
    left joins (the round-9 hollow-plan audit rule)."""
    d = load_table(spark, sf_dir, "documents")
    return curation_ops.decontaminate_spans(
        d.filter(F.col("doc_id") % 7 != 0),
        d.filter(F.col("doc_id") % 7 == 0),
        "doc_id",
        "text",
        min_tokens=12,
    ).filter(F.col("n_spans") >= 0)


@register("curation_decontaminate_spans_bloom", _DECON_SPANS_ORACLE)
def curation_decontaminate_spans_bloom(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Bloom-prefiltered SPAN decontamination (round 13 — the
    span-granularity sibling of curation_decontaminate_bloom,
    completing the prefilter symmetry across the decontamination
    granularities: shingles r12, spans HERE): the train ANCHOR stream
    is cut scan-side to probable fingerprint matches
    (relational.bloom_prefilter — word-table join probe auto-sized from
    the same eval-anchor estimate the broadcast guard computes) before
    the anchor equi-join, whose exact fingerprint match rescues Bloom
    false positives. False negatives are impossible ⇒ every span row —
    and therefore every per-doc signal — is IDENTICAL to
    curation_decontaminate_spans, whose DuckDB oracle this entry shares
    VERBATIM (the driver externally proves prefiltered == exact at span
    granularity). At 100 TB this converts the shuffled-fallback
    exchange from the corpus's full anchor stream (~n tokens) to
    ~matching anchors."""
    d = load_table(spark, sf_dir, "documents")
    return curation_ops.decontaminate_spans(
        d.filter(F.col("doc_id") % 7 != 0),
        d.filter(F.col("doc_id") % 7 == 0),
        "doc_id",
        "text",
        min_tokens=12,
        bloom_prefilter=True,
    ).filter(F.col("n_spans") >= 0)


@register(
    "curation_excise_contaminated",
    """
    WITH t AS (
      SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS arr
      FROM documents
    ), anchors AS (
      SELECT doc_id, i AS pos,
             md5(array_to_string(list_slice(arr, i, i + 11), ' ')) AS fp
      FROM t, LATERAL unnest(generate_series(1, greatest(len(arr) - 11, 0))) g(i)
      WHERE len(arr) >= 12
    ), m AS (
      SELECT a.doc_id AS doc_a, a.pos AS pos_a,
             b.doc_id AS doc_b, b.pos AS pos_b
      FROM anchors a JOIN anchors b ON a.fp = b.fp
      WHERE a.doc_id % 7 != 0 AND b.doc_id % 7 = 0
    ), r AS (
      SELECT *, pos_a - pos_b AS diag,
             pos_a - ROW_NUMBER() OVER (
               PARTITION BY doc_a, doc_b, pos_a - pos_b ORDER BY pos_a) AS grp
      FROM m
    ), spans AS (
      SELECT doc_a, MIN(pos_a) AS s, MAX(pos_a) - MIN(pos_a) + 12 AS tok
      FROM r GROUP BY doc_a, doc_b, diag, grp
    ), covered AS (
      SELECT DISTINCT doc_a, p AS pos
      FROM spans, LATERAL unnest(generate_series(s, s + tok - 1)) q(p)
    ), toks AS (
      SELECT doc_id, p AS pos, w
      FROM (SELECT doc_id, unnest(arr) AS w,
                   generate_subscripts(arr, 1) AS p FROM t)
      WHERE doc_id % 7 != 0
    ), kept AS (
      SELECT tk.doc_id, tk.pos, tk.w
      FROM toks tk LEFT JOIN covered c
        ON c.doc_a = tk.doc_id AND c.pos = tk.pos
      WHERE c.doc_a IS NULL
    ), rebuilt AS (
      SELECT doc_id, COUNT(*) AS kept_tokens,
             string_agg(w, ' ' ORDER BY pos) AS cleaned_text
      FROM kept GROUP BY doc_id
    )
    SELECT d.doc_id,
           CAST(len(regexp_split_to_array(lower(trim(d.text)), '\\s+'))
                AS BIGINT) AS n_tokens,
           CAST(COALESCE(rb.kept_tokens, 0) AS BIGINT) AS kept_tokens,
           md5(COALESCE(rb.cleaned_text, '')) AS cleaned_md5
    FROM documents d LEFT JOIN rebuilt rb ON rb.doc_id = d.doc_id
    WHERE d.doc_id % 7 != 0
    """,
)
def curation_excise_contaminated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The decontamination ACTION (operators.curation.excise_spans):
    training docs (doc_id % 7 != 0) rebuilt with every token inside a
    >=12-token verbatim span shared with the eval corpus (doc_id % 7 ==
    0) removed — surgical excision instead of whole-doc drops (Lee et
    al. 2022). Hashed through the cleaned text's md5 so the oracle pins
    the full reassembled string, token order included, not just counts;
    untouched docs hash their normalized original, fully-contaminated
    docs hash ''. The tail filter keeps the bench's count() honest
    (round-9 hollow-plan rule)."""
    d = load_table(spark, sf_dir, "documents")
    out = curation_ops.excise_spans(
        d.filter(F.col("doc_id") % 7 != 0),
        d.filter(F.col("doc_id") % 7 == 0),
        "doc_id",
        "text",
        min_tokens=12,
    )
    return out.select(
        "doc_id",
        "n_tokens",
        "kept_tokens",
        F.md5("cleaned_text").alias("cleaned_md5"),
    ).filter(F.col("kept_tokens") >= 0)


@register(
    "curation_token_budget_mix",
    """
    WITH t AS (
      SELECT doc_id, source,
             len(regexp_split_to_array(lower(trim(text)), '\\s+')) AS n_tokens,
             ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '#mix'), 1, 8))::BIGINT
               AS priority
      FROM documents
    ), c AS (
      SELECT *, SUM(n_tokens) OVER (
               PARTITION BY source ORDER BY priority, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_tokens
      FROM t
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT)      AS n_docs_kept,
           CAST(SUM(n_tokens) AS BIGINT) AS tokens_kept
    FROM c WHERE cum_tokens <= 800
    GROUP BY source
    """,
)
def curation_token_budget_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget data mixing (operators.curation.token_budget_mix):
    per source, keep the maximal hash-ordered prefix of docs whose token
    sum stays ≤ 800 — a deterministic uniform sample hitting a per-source
    token budget, the end stage of a pretraining mix. The running sum is
    a bucketed two-pass prefix sum (round 7): no window task ever holds a
    whole source, bit-identical to the single-window form, plan-asserted
    partition-less-window-free; prefilter=True additionally bounds the
    candidate slice."""
    d = load_table(spark, sf_dir, "documents")
    kept = curation_ops.token_budget_mix(
        d, "source", "doc_id", text_ops.token_count("text"), budget_tokens=800
    )
    return kept.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs_kept"),
        F.sum("n_tokens").cast("bigint").alias("tokens_kept"),
    )


@register(
    "dedup_exact_by_fingerprint",
    """
    SELECT doc_id, lang, source FROM (
        SELECT doc_id, lang, source,
               ROW_NUMBER() OVER (
                   PARTITION BY md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'))
                   ORDER BY doc_id) AS rn
        FROM documents)
    WHERE rn = 1
    """,
)
def dedup_exact_by_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X1 exact dedup with a deterministic survivor (min doc_id per
    normalized-text fingerprint) — dropDuplicates with defined semantics."""
    d = load_table(spark, sf_dir, "documents").withColumn(
        "__fp", text_ops.fingerprint("text")
    )
    return dedup_ops.exact_dedup(d, ["__fp"], "doc_id").select("doc_id", "lang", "source")


@register("dedup_minhash_candidates", None)  # crc32/Murmur3 fast path — rows-only
def dedup_minhash_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2 MinHash-LSH near-dup candidate pairs (shingle→64 minhash→16-band
    bucket self-join) — the crc32+Murmur3 FAST path. Rows-only because
    Murmur3 band hashes are engine-specific; the algorithm itself is
    externally verified through its bit-exact portable twin
    dedup_minhash_candidates_md5 (hash="md5"), recall vs exact
    Jaccard is pinned in tests, and since round 13 the fixture
    candidate/decision/component sets are pinned IDENTICAL to the md5
    twin's (test_fast_path_twins_match_md5_siblings — VERDICT r12 #7)."""
    d = load_table(spark, sf_dir, "documents")
    return dedup_ops.minhash_candidates(d, "doc_id", "text", num_hashes=64, bands=16)


def _minhash_md5_sql(tail: str) -> str:
    """Shared WITH-prefix of the portable-md5 minhash oracles (VERDICT r07
    #2): replays operators.dedup's md5-mode pipeline VERBATIM in DuckDB —
    md5-prefix token hashes mod the Mersenne prime, the rolling 3-gram
    combine (lead windows; list_reduce fold for <3-token docs), the 64
    affine-permutation minima, 16-band bucket keys as comma-joined slice
    strings, the bucket self-join, and the matching-minima Jaccard
    estimate. Every intermediate is exact int64 arithmetic and the final
    estimate is k/64 (exact binary), so Spark and DuckDB agree bit-for-bit."""
    from ..operators.dedup import _COMBINE_CS, _MERSENNE_P, _perm_constants

    P = _MERSENNE_P
    c0, c1, c2 = _COMBINE_CS[0], _COMBINE_CS[1], _COMBINE_CS[2]
    a, b = _perm_constants(64)
    mins = ",\n      ".join(
        f"min(({int(a[i])}*sh + {int(b[i])}) % {P})" for i in range(64)
    )
    return f"""
    WITH toks AS (
      SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS ts
      FROM documents
    ),
    th AS (
      SELECT doc_id,
             unnest(list_transform(ts,
                    t -> ('0x' || substr(md5(t), 1, 8))::BIGINT % {P})) AS h,
             generate_subscripts(ts, 1) AS pos,
             len(ts) AS ntok
      FROM toks
    ),
    sh_long AS (
      SELECT doc_id,
             ({c0}*h + {c1}*lead(h, 1) OVER w + {c2}*lead(h, 2) OVER w) % {P} AS sh
      FROM th
      WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
      QUALIFY pos <= ntok - 2 AND ntok >= 3
    ),
    sh_short AS (
      SELECT doc_id,
             list_reduce(list_prepend(hs[1]*{c0} % {P}, hs[2:]),
                         (acc, x) -> (acc*{c1} + (x*{c0}) % {P}) % {P}) AS sh
      FROM (SELECT doc_id,
                   list_transform(ts,
                       t -> ('0x' || substr(md5(t), 1, 8))::BIGINT % {P}) AS hs
            FROM toks WHERE len(ts) < 3)
    ),
    allsh AS (SELECT * FROM sh_long UNION ALL SELECT * FROM sh_short),
    sigs AS (
      SELECT doc_id, list_value(
          {mins}
      ) AS sig
      FROM allsh GROUP BY doc_id
    ),
    banded AS (
      SELECT doc_id, band,
             array_to_string(list_slice(sig, band*4 + 1, band*4 + 4), ',') AS bucket
      FROM sigs CROSS JOIN (SELECT unnest(range(0, 16)) AS band) t
    ),
    cand AS (
      SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
      FROM banded x JOIN banded y
        ON x.band = y.band AND x.bucket = y.bucket AND x.doc_id < y.doc_id
    ),
    est AS (
      SELECT c.id_a, c.id_b,
             list_sum(list_transform(range(1, 65),
                      i -> CASE WHEN sa.sig[i] = sb.sig[i] THEN 1 ELSE 0 END))
               / 64.0 AS jaccard_est
      FROM cand c
      JOIN sigs sa ON sa.doc_id = c.id_a
      JOIN sigs sb ON sb.doc_id = c.id_b
    )
    {tail}
    """


@register(
    "dedup_minhash_candidates_md5",
    _minhash_md5_sql("SELECT id_a, id_b, jaccard_est FROM est"),
)
def dedup_minhash_candidates_md5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2 MinHash-LSH candidate pairs in PORTABLE-HASH mode (VERDICT r07
    #2): identical pipeline to dedup_minhash_candidates — shingle hashes →
    64 affine minima → 16-band bucket self-join → matching-minima Jaccard
    estimate — but the base token hash is the md5-prefix portable hash
    (curation.portable_hash discipline) and band buckets are the raw band
    slices, so the flagship near-dup operator is fully replayable in ANSI
    SQL and earns the same bit-exact DuckDB oracle as the rest of the
    dedup family. Reference: UCR_bigData_snowfallProject has no near-dup
    surface (untitled.py: eager pandas); this is north-star extension
    scope (BASELINE.json)."""
    d = load_table(spark, sf_dir, "documents")
    return dedup_ops.minhash_candidates(
        d, "doc_id", "text", num_hashes=64, bands=16, hash="md5"
    )


@register(
    "dedup_minhash_dedup_md5",
    _minhash_md5_sql("""
    SELECT doc_id, lang, source FROM documents
    WHERE doc_id NOT IN (
      SELECT DISTINCT id_b FROM est WHERE jaccard_est >= 0.8)
    """),
)
def dedup_minhash_dedup_md5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2 end-to-end near-dedup in portable-hash mode: drop every doc
    whose Jaccard estimate vs a LOWER-id doc is >= 0.8 (the single-hop
    min-id survivor rule of operators.dedup.minhash_dedup). With the md5
    banding the whole survivor set — signatures, banding, candidate
    pairs, estimates, drop rule — is one SQL expression, externally
    hash-checked."""
    d = load_table(spark, sf_dir, "documents")
    return dedup_ops.minhash_dedup(
        d, "doc_id", "text", threshold=0.8, hash="md5"
    ).select("doc_id", "lang", "source")


@register(
    "dedup_incremental_minhash_md5",
    _minhash_md5_sql("""
    SELECT doc_id, lang, source FROM documents
    WHERE doc_id % 2 = 1 AND doc_id NOT IN (
      SELECT id_b FROM est
       WHERE jaccard_est >= 0.8 AND id_a % 2 = 0 AND id_b % 2 = 1
      UNION
      SELECT id_a FROM est
       WHERE jaccard_est >= 0.8 AND id_a % 2 = 1 AND id_b % 2 = 0
      UNION
      SELECT id_b FROM est
       WHERE jaccard_est >= 0.8 AND id_a % 2 = 1 AND id_b % 2 = 1)
    """),
)
def dedup_incremental_minhash_md5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental near-dedup against a stored signature index, portable
    mode: even-id docs are the indexed corpus (md5-mode signatures
    precomputed, text never re-read), odd-id docs arrive as the batch;
    a batch doc is dropped if its estimate vs ANY indexed doc — or vs a
    lower-id batch doc — reaches 0.8. Because md5-mode signatures are
    per-doc deterministic and banding is subset-independent, the
    incremental probe equals the full-corpus pair table restricted to
    (index, batch) and (batch, batch) pairs — which is exactly what the
    oracle computes, making incremental == batch externally checkable."""
    d = load_table(spark, sf_dir, "documents")
    seen = d.filter(F.col("doc_id") % 2 == 0)
    seen_sigs = dedup_ops.minhash_signatures_arrow(
        seen, "doc_id", "text", hash="md5"
    )
    new = d.filter(F.col("doc_id") % 2 == 1)
    return dedup_ops.incremental_minhash_dedup(
        new, seen_sigs, "doc_id", "text", threshold=0.8, hash="md5"
    ).select("doc_id", "lang", "source")


@register(
    "dedup_minhash_components_md5",
    _minhash_md5_sql("""
    , edges AS (
      SELECT id_a AS a, id_b AS b FROM est WHERE jaccard_est >= 0.5
      UNION
      SELECT id_b AS a, id_a AS b FROM est WHERE jaccard_est >= 0.5
    )
    SELECT n.a AS doc_id, LEAST(n.a, MIN(r.b)) AS comp
    FROM (SELECT DISTINCT a FROM edges) n
    LEFT JOIN (
      WITH RECURSIVE reach(a, b) AS (
        SELECT a, b FROM edges
        UNION
        SELECT r.a, e.b FROM reach r JOIN edges e ON e.a = r.b
      ) SELECT a, b FROM reach
    ) r ON r.a = n.a
    GROUP BY n.a
    """),
)
def dedup_minhash_components_md5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2 full near-dedup clustering in portable-hash mode: md5-mode
    MinHash-LSH candidates → Jaccard-estimate >= 0.5 edges → connected
    components (operators.dedup.dup_components, iterative min-label
    propagation). The iterative Spark fixpoint is checked against a
    DuckDB RECURSIVE-CTE transitive closure (comp = min reachable id) —
    converting the last member of the minhash family from rows-only to
    fully oracle-backed: an externally hash-verified ITERATIVE graph
    algorithm, like graph_pagerank_parts before it."""
    d = load_table(spark, sf_dir, "documents")
    cand = dedup_ops.minhash_candidates(d, "doc_id", "text", hash="md5")
    pairs = cand.filter(F.col("jaccard_est") >= 0.5)
    return dedup_ops.dup_components(pairs).select(
        F.col("id").alias("doc_id"), F.col("comp")
    )


def dedup_minhash_components_md5_iteration(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Plan-audit variant of ``dedup_minhash_components_md5`` (VERDICT
    r15 "What's wrong" #1 — NOT a registry entry): the same candidate
    build + edge symmetrization + ONE label-propagation round, with NO
    checkpoint truncation, so ``bench.py --profile`` can commit the real
    per-iteration join shape next to the post-checkpoint stub the timed
    query dumps. The no-cartesian/no-BNLJ greps over ``bench_plans/``
    audit THIS artifact for the components query."""
    d = load_table(spark, sf_dir, "documents")
    # checkpoint_mode="persist" explicitly (ADVICE r17): the kernel's
    # "eager" default runs a Spark job (signature scan + count) at
    # DataFrame-construction time, which would make this audit-only
    # builder execute work just to dump a plan; lazy persist keeps the
    # plan dump execution-free AND the dumped tree untruncated.
    cand = dedup_ops.minhash_candidates(
        d, "doc_id", "text", hash="md5", checkpoint_mode="persist"
    )
    pairs = cand.filter(F.col("jaccard_est") >= 0.5)
    return dedup_ops.dup_components_iteration_frame(pairs)


# Shared span CTE (round 9): the anchor→diagonal→gaps-and-islands
# pipeline at min_tokens=12, consumed by both the span report and the
# per-doc coverage oracle below.
_SPAN_CTE = """
    WITH t AS (
      SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS arr
      FROM documents
    ), s AS (
      SELECT doc_id, i AS pos,
             md5(array_to_string(list_slice(arr, i, i + 11), ' ')) AS fp
      FROM t, LATERAL unnest(generate_series(1, greatest(len(arr) - 11, 0))) g(i)
      WHERE len(arr) >= 12
    ), m AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             a.pos AS pos_a, b.pos AS pos_b
      FROM s a JOIN s b ON a.fp = b.fp AND a.doc_id < b.doc_id
    ), r AS (
      SELECT *, pos_a - pos_b AS diag,
             pos_a - ROW_NUMBER() OVER (
               PARTITION BY doc_a, doc_b, pos_a - pos_b ORDER BY pos_a) AS grp
      FROM m
    ), spans AS (
      SELECT doc_a, doc_b,
             CAST(MIN(pos_a) AS BIGINT) AS start_a,
             CAST(MIN(pos_b) AS BIGINT) AS start_b,
             CAST(MAX(pos_a) - MIN(pos_a) + 12 AS BIGINT) AS span_tokens
      FROM r GROUP BY doc_a, doc_b, diag, grp
    )
"""


@register(
    "dedup_substring_spans",
    _SPAN_CTE + """
    SELECT doc_a, doc_b, start_a, start_b, span_tokens FROM spans
    """,
)
def dedup_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2 exact substring-level dedup (VERDICT r08 #5 — the Lee et al.
    2022 granularity): every maximal verbatim token span >= 12 tokens
    shared across two documents, found by md5 anchor shingles merged
    along alignment diagonals (operators.dedup.substring_spans). The
    oracle replays the identical anchor→diagonal→gaps-and-islands
    pipeline in DuckDB, so maximal-span starts and lengths are
    externally hash-verified — document-level dedup (exact fingerprint,
    MinHash) cannot see these: a quote pasted between otherwise-distinct
    pages only surfaces at this granularity. min_tokens=12 matches the
    fixture's ~54-token documents; production default is 50."""
    d = load_table(spark, sf_dir, "documents")
    return dedup_ops.substring_spans(d, "doc_id", "text", min_tokens=12)


@register(
    "dedup_span_coverage",
    _SPAN_CTE + """
    , iv AS (
      SELECT DISTINCT doc_id, s, e FROM (
        SELECT doc_a AS doc_id, start_a AS s,
               start_a + span_tokens - 1 AS e FROM spans
        UNION ALL
        SELECT doc_b, start_b, start_b + span_tokens - 1 FROM spans
      )
    ), isl AS (
      SELECT doc_id, s, e,
             SUM(CASE WHEN pm IS NULL OR s > pm THEN 1 ELSE 0 END) OVER (
               PARTITION BY doc_id ORDER BY s, e
               ROWS UNBOUNDED PRECEDING) AS g
      FROM (
        SELECT doc_id, s, e,
               MAX(e) OVER (PARTITION BY doc_id ORDER BY s, e
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm
        FROM iv)
    ), cov AS (
      SELECT doc_id, SUM(len) AS dup FROM (
        SELECT doc_id, g, MAX(e) - MIN(s) + 1 AS len
        FROM isl GROUP BY doc_id, g)
      GROUP BY doc_id
    )
    SELECT d.doc_id,
           CAST(len(regexp_split_to_array(lower(trim(d.text)), '\\s+'))
                AS BIGINT) AS n_tokens,
           CAST(COALESCE(cov.dup, 0) AS BIGINT) AS dup_tokens,
           ROUND(COALESCE(cov.dup, 0)::DOUBLE /
                 len(regexp_split_to_array(lower(trim(d.text)), '\\s+')), 4)
             AS dup_frac
    FROM documents d LEFT JOIN cov ON cov.doc_id = d.doc_id
    """,
)
def dedup_span_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2 per-document duplicated-text coverage
    (operators.dedup.span_coverage): for EVERY document, the number and
    fraction of its tokens inside at least one >=12-token cross-document
    verbatim span — the substring-spans table folded into the per-doc
    decision signal a curation pipeline thresholds on ("drop documents
    that are mostly pasted boilerplate", the Lee et al. 2022 recipe's
    action step). Overlapping/contained spans collapse through the
    running-max gaps-and-islands merge before counting, so a token never
    double-counts; everything is integer arithmetic on a deterministic
    (start, end) order, replayed verbatim by the DuckDB oracle.

    The trailing filter is semantically a no-op (dup_tokens is always
    >= 0) but Catalyst cannot prove it, which keeps the bench's
    ``count()`` action honest: without it the optimizer ELIMINATES the
    whole span subplan under count (left join with a unique-keyed right
    side and no referenced columns folds to a bare parquet row count —
    measured 0.57s "warm" for a plan that never ran its join)."""
    d = load_table(spark, sf_dir, "documents")
    return dedup_ops.span_coverage(d, "doc_id", "text", min_tokens=12).filter(
        F.col("dup_tokens") >= 0
    )


@register(
    "dedup_substring_spans_incremental",
    _SPAN_CTE + """
    SELECT doc_a, doc_b, start_a, start_b, span_tokens FROM spans
    WHERE doc_a % 5 = 0 OR doc_b % 5 = 0
    """,
)
def dedup_substring_spans_incremental(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """X2 incremental substring-span detection
    (operators.dedup.substring_spans_incremental): the indexed corpus
    (doc_id % 5 != 0) persists only its anchor table
    (substring_anchor_index — corpus text never re-read); the arriving
    batch (doc_id % 5 == 0) computes its anchors in one scan and probes
    the index, reporting every >=12-token verbatim span between a batch
    doc and anything (corpus or batch sibling). incremental ==
    full-rebuild-filtered row for row, so the oracle is the SHARED span
    CTE restricted to pairs touching the batch — the append==rebuild
    contract (minhash/BM25/IVF/kNN-graph) extended to the span table."""
    d = load_table(spark, sf_dir, "documents")
    seen = d.filter(F.col("doc_id") % 5 != 0)
    new = d.filter(F.col("doc_id") % 5 == 0)
    idx = dedup_ops.substring_anchor_index(seen, "doc_id", "text", 12)
    return dedup_ops.substring_spans_incremental(new, idx, "doc_id", "text", 12)


# Intra-document span CTE (round 10): the within-doc half of the span
# machinery at min_tokens=3 (the fixture's ~54-token small-vocab docs
# self-repeat at 3-grams; production default is 50), consumed by the
# span report and the self-repetition coverage oracle below.
_INTRA_SPAN_CTE = """
    WITH t AS (
      SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS arr
      FROM documents
    ), s AS (
      SELECT doc_id, i AS pos,
             md5(array_to_string(list_slice(arr, i, i + 2), ' ')) AS fp
      FROM t, LATERAL unnest(generate_series(1, greatest(len(arr) - 2, 0))) g(i)
      WHERE len(arr) >= 3
    ), m AS (
      SELECT a.doc_id, a.pos AS pos_a, b.pos AS pos_b
      FROM s a JOIN s b
        ON a.fp = b.fp AND a.doc_id = b.doc_id AND a.pos < b.pos
    ), r AS (
      SELECT *, pos_a - pos_b AS diag,
             pos_a - ROW_NUMBER() OVER (
               PARTITION BY doc_id, pos_a - pos_b ORDER BY pos_a) AS grp
      FROM m
    ), spans AS (
      SELECT doc_id,
             CAST(MIN(pos_a) AS BIGINT) AS start_a,
             CAST(MIN(pos_b) AS BIGINT) AS start_b,
             CAST(MAX(pos_a) - MIN(pos_a) + 3 AS BIGINT) AS span_tokens
      FROM r GROUP BY doc_id, diag, grp
    )
"""


@register(
    "dedup_intra_doc_spans",
    _INTRA_SPAN_CTE + """
    SELECT doc_id, start_a, start_b, span_tokens FROM spans
    """,
)
def dedup_intra_doc_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2 WITHIN-document repetition spans (round 10,
    operators.dedup.intra_doc_spans): every maximal verbatim >=3-token
    span occurring at two positions inside the same document — the
    within-doc half of the Lee et al. 2022 recipe that document- and
    cross-document-level dedup both miss (a page repeating its own
    paragraph, a template stamping a block twice). Same anchor →
    diagonal → gaps-and-islands machinery as dedup_substring_spans,
    restricted to self-pairs with pos_a < pos_b; the oracle replays it
    verbatim. min_tokens=3 matches the fixture's small-vocab docs;
    production default is 50."""
    d = load_table(spark, sf_dir, "documents")
    return dedup_ops.intra_doc_spans(d, "doc_id", "text", min_tokens=3)


@register(
    "dedup_self_repetition",
    _INTRA_SPAN_CTE + """
    , iv AS (
      SELECT DISTINCT doc_id, s, e FROM (
        SELECT doc_id, start_a AS s, start_a + span_tokens - 1 AS e
        FROM spans
        UNION ALL
        SELECT doc_id, start_b, start_b + span_tokens - 1 FROM spans)
    ), isl AS (
      SELECT doc_id, s, e,
             SUM(CASE WHEN pm IS NULL OR s > pm THEN 1 ELSE 0 END) OVER (
               PARTITION BY doc_id ORDER BY s, e
               ROWS UNBOUNDED PRECEDING) AS g
      FROM (
        SELECT doc_id, s, e,
               MAX(e) OVER (PARTITION BY doc_id ORDER BY s, e
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm
        FROM iv)
    ), cov AS (
      SELECT doc_id, SUM(len) AS rep FROM (
        SELECT doc_id, g, MAX(e) - MIN(s) + 1 AS len
        FROM isl GROUP BY doc_id, g)
      GROUP BY doc_id
    )
    SELECT d.doc_id,
           CAST(len(regexp_split_to_array(lower(trim(d.text)), '\\s+'))
                AS BIGINT) AS n_tokens,
           CAST(COALESCE(cov.rep, 0) AS BIGINT) AS rep_tokens,
           ROUND(COALESCE(cov.rep, 0)::DOUBLE /
                 len(regexp_split_to_array(lower(trim(d.text)), '\\s+')), 4)
             AS rep_frac
    FROM documents d LEFT JOIN cov ON cov.doc_id = d.doc_id
    """,
)
def dedup_self_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2/X-cur per-document SELF-repetition coverage (round 10,
    operators.dedup.self_repetition_coverage): for EVERY document, the
    count and fraction of its tokens inside at least one >=3-token span
    that also occurs elsewhere in the SAME document — the exact-span
    analogue of the Gopher/MassiveText repetition quality rules
    ("drop documents that are mostly their own boilerplate"). Both
    occurrences count as covered; the interval-union kernel prevents
    double-counting. The tail filter is a Catalyst-unprovable no-op
    keeping the bench's count() from eliminating the unique-keyed left
    join (the round-9 hollow-plan rule)."""
    d = load_table(spark, sf_dir, "documents")
    return dedup_ops.self_repetition_coverage(
        d, "doc_id", "text", min_tokens=3
    ).filter(F.col("rep_tokens") >= 0)


#: Planted docs for the CAPPED self-repetition entry (r11): the natural
#: fixture's max per-(doc, fp) multiplicity is 2, so the cap's two code
#: paths need planted inputs — a degenerate tandem doc (60 tokens of
#: "u v", every W=3 window fingerprint occurring 29 times > cap 10 ⇒
#: SHORT-CIRCUIT) and a scattered 4×-repeat doc (multiplicity 4 ≤ 10 ⇒
#: stays on the exact path). Both literals are injected VERBATIM into
#: the oracle's VALUES clause so DuckDB replays the same corpus.
_SELFREP_TANDEM = ("u v " * 30).strip()
_SELFREP_SCATTER = " ".join(
    ["alpha beta gamma"]
    + [f"f{i}" for i in range(10)]
    + ["alpha beta gamma"]
    + [f"g{i}" for i in range(10)]
    + ["alpha beta gamma"]
    + [f"h{i}" for i in range(10)]
    + ["alpha beta gamma"]
)


@register(
    "dedup_self_repetition_capped",
    f"""
    WITH docs0 AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT * FROM (VALUES (9000001, '{_SELFREP_TANDEM}'),
                            (9000002, '{_SELFREP_SCATTER}'))
             v(doc_id, text)
    ), t AS (
      SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS arr
      FROM docs0
    ), n AS (
      SELECT doc_id, len(arr) AS n_tok FROM t
    ), s AS (
      SELECT doc_id, i AS pos,
             md5(array_to_string(list_slice(arr, i, i + 2), ' ')) AS fp
      FROM t, LATERAL unnest(generate_series(1, greatest(len(arr) - 2, 0))) g(i)
      WHERE len(arr) >= 3
    ),
    -- the max_anchor_occurrences=10 cap: over-cap (doc, fp) groups
    -- leave the self-join; any doc owning one short-circuits below
    hot AS (
      SELECT doc_id, fp FROM s GROUP BY doc_id, fp HAVING COUNT(*) > 10
    ), degen AS (
      SELECT DISTINCT doc_id FROM hot
    ), s2 AS (
      SELECT s.doc_id, s.pos, s.fp
      FROM s LEFT JOIN hot ON hot.doc_id = s.doc_id AND hot.fp = s.fp
      WHERE hot.fp IS NULL
    ), m AS (
      SELECT a.doc_id, a.pos AS pos_a, b.pos AS pos_b
      FROM s2 a JOIN s2 b
        ON a.fp = b.fp AND a.doc_id = b.doc_id AND a.pos < b.pos
    ), r AS (
      SELECT *, pos_a - pos_b AS diag,
             pos_a - ROW_NUMBER() OVER (
               PARTITION BY doc_id, pos_a - pos_b ORDER BY pos_a) AS grp
      FROM m
    ), spans AS (
      SELECT doc_id, MIN(pos_a) AS start_a, MIN(pos_b) AS start_b,
             MAX(pos_a) - MIN(pos_a) + 3 AS tok
      FROM r GROUP BY doc_id, diag, grp
    ), iv AS (
      SELECT DISTINCT doc_id, s, e FROM (
        SELECT doc_id, start_a AS s, start_a + tok - 1 AS e FROM spans
        UNION ALL
        SELECT doc_id, start_b, start_b + tok - 1 FROM spans)
    ), isl AS (
      SELECT doc_id, s, e,
             SUM(CASE WHEN pm IS NULL OR s > pm THEN 1 ELSE 0 END) OVER (
               PARTITION BY doc_id ORDER BY s, e
               ROWS UNBOUNDED PRECEDING) AS g
      FROM (
        SELECT doc_id, s, e,
               MAX(e) OVER (PARTITION BY doc_id ORDER BY s, e
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm
        FROM iv)
    ), cov AS (
      SELECT doc_id, SUM(len) AS rep FROM (
        SELECT doc_id, g, MAX(e) - MIN(s) + 1 AS len
        FROM isl GROUP BY doc_id, g)
      GROUP BY doc_id
    )
    SELECT d.doc_id, CAST(n.n_tok AS BIGINT) AS n_tokens,
           CAST(CASE WHEN dg.doc_id IS NOT NULL THEN n.n_tok
                     ELSE COALESCE(cov.rep, 0) END AS BIGINT) AS rep_tokens,
           ROUND((CASE WHEN dg.doc_id IS NOT NULL THEN n.n_tok
                       ELSE COALESCE(cov.rep, 0) END)::DOUBLE / n.n_tok, 4)
             AS rep_frac
    FROM docs0 d
    JOIN n ON n.doc_id = d.doc_id
    LEFT JOIN cov ON cov.doc_id = d.doc_id
    LEFT JOIN degen dg ON dg.doc_id = d.doc_id
    """,
)
def dedup_self_repetition_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2/X-cur CAPPED self-repetition coverage (round 11, VERDICT r10
    #1 externally proven): ``max_anchor_occurrences=10`` on
    operators.dedup.self_repetition_coverage over the documents table
    plus two PLANTED docs — a degenerate 60-token tandem repeat whose
    every window fingerprint occurs 29 times (the O(L²) input class the
    cap exists for: it must SHORT-CIRCUIT to rep_frac = 1.0 without
    entering the self-join) and a scattered 4×-repeat doc under the cap
    (must stay bit-exact on the uncapped path). The oracle replays the
    full cap semantics — per-(doc, fp) occurrence counts, over-cap
    group exclusion, degenerate-doc override — so the driver externally
    verifies the degrade knob itself, not just the exact default
    (which dedup_self_repetition pins)."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    planted = spark.createDataFrame(
        [(9000001, _SELFREP_TANDEM), (9000002, _SELFREP_SCATTER)],
        "doc_id long, text string",
    )
    return dedup_ops.self_repetition_coverage(
        d.unionByName(planted),
        "doc_id",
        "text",
        min_tokens=3,
        max_anchor_occurrences=10,
    ).filter(F.col("rep_tokens") >= 0)


@register(
    "dedup_substring_spans_poly",
    _SPAN_CTE + """
    SELECT doc_a, doc_b, start_a, start_b, span_tokens FROM spans
    """,
)
def dedup_substring_spans_poly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2 substring-level dedup in the O(n) Karp–Rabin fast path
    (VERDICT r09 #2, operators.dedup.substring_spans hash_mode='poly'):
    per-token xxhash64 JVM-side, then an Arrow-batched polynomial window
    combine replaces md5-per-window — O(n) arithmetic per document
    instead of O(n·W) hashed bytes (a ~W× cut of the span family's
    dominant corpus-scan cost at the production W=50), with 8-byte
    bigint fingerprints narrowing the anchor shuffle vs 32-char hex.
    The SPANS are identical to md5 mode absent a 64-bit fingerprint
    collision, so the oracle is the SAME md5-replay span SQL as
    dedup_substring_spans — the driver externally proves the fast path
    computes the exact same maximal spans (the crc32/xxhash-vs-md5 twin
    discipline the minhash family uses)."""
    d = load_table(spark, sf_dir, "documents")
    return dedup_ops.substring_spans(
        d, "doc_id", "text", min_tokens=12, hash_mode="poly"
    )


@register(
    "fuzzy_join_part_names",
    """
    WITH names AS (SELECT DISTINCT p_name AS k FROM part WHERE p_name IS NOT NULL)
    SELECT a.k AS key_a, b.k AS key_b, levenshtein(a.k, b.k) AS dist
    FROM names a JOIN names b ON a.k < b.k
    WHERE levenshtein(a.k, b.k) <= 2
    """,
)
def fuzzy_join_part_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity-resolution fuzzy self-join (operators.text.fuzzy_self_join):
    all distinct part-name pairs within Levenshtein distance 2, found by
    LOSSLESS q-gram blocking (one edit destroys <= q positional q-grams,
    so close long strings must share a gram; short strings block by
    length band) + length-band prefilter + levenshtein
    verification — never an O(n²) cross join. The oracle IS the naive
    all-pairs filter, so the driver externally proves the blocking loses
    nothing. New operator family: record linkage / approximate string
    matching."""
    p = load_table(spark, sf_dir, "part")
    return text_ops.fuzzy_self_join(p, "p_name", max_dist=2, q=2)


@register(
    "fuzzy_join_reconcile_names",
    """
    WITH l AS (SELECT DISTINCT p_name AS k FROM part WHERE p_name IS NOT NULL),
         r AS (SELECT DISTINCT substr(p_name, 1, len(p_name) - 1) AS k
               FROM part WHERE p_name IS NOT NULL)
    SELECT l.k AS key_left, r.k AS key_right, levenshtein(l.k, r.k) AS dist
    FROM l JOIN r ON levenshtein(l.k, r.k) <= 1
    """,
)
def fuzzy_join_reconcile_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sided record linkage (operators.text.fuzzy_join): reconcile
    part names against a reference list (here a deterministically
    truncated twin — the last character dropped, the canonical
    dirty-vs-clean-catalog shape) at Levenshtein <= 1, through the same
    lossless q-gram + short-block machinery as the self-join. Oracle =
    the naive distinct cross filter, so the driver externally proves the
    two-sided blocking loses nothing either."""
    prt = load_table(spark, sf_dir, "part")
    right = prt.select(
        F.expr("substring(p_name, 1, length(p_name) - 1)").alias("ref_name")
    )
    return text_ops.fuzzy_join(prt, right, "p_name", "ref_name", max_dist=1, q=2)


@register(
    "curation_corpus_mix_pipeline",
    _minhash_md5_sql("""
    , survivors AS (
      SELECT d.* FROM documents d
      WHERE doc_id NOT IN (
        SELECT DISTINCT id_b FROM est WHERE jaccard_est >= 0.8)
    ), t AS (
      SELECT doc_id, source,
             len(regexp_split_to_array(lower(trim(text)), '\\s+')) AS n_tokens,
             ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '#mix'), 1, 8))::BIGINT
               AS priority
      FROM survivors
    ), c AS (
      SELECT *, SUM(n_tokens) OVER (
               PARTITION BY source ORDER BY priority, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_tokens
      FROM t
    ), kept AS (
      SELECT doc_id, source, n_tokens FROM c WHERE cum_tokens <= 800
    ), ranked AS (
      SELECT doc_id, source, n_tokens,
             ROW_NUMBER() OVER (
               PARTITION BY source
               ORDER BY ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '#il'),
                                        1, 8))::BIGINT, doc_id) AS i,
             COUNT(*) OVER (PARTITION BY source) AS tot
      FROM kept
    )
    -- ADVICE r08: Spark's asc orderBy is NULLS FIRST, DuckDB defaults to
    -- NULLS LAST — the explicit NULLS FIRST keeps a NULL-source document
    -- tying on frac from diverging (NULL sources are first-class kept rows)
    SELECT doc_id, source, CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(ROW_NUMBER() OVER (
             ORDER BY (i - 0.5) / tot, source NULLS FIRST, doc_id) AS INT)
             AS interleave_rank
    FROM ranked
    """),
)
def curation_corpus_mix_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The END-TO-END curation pipeline as ONE lazy plan, fully
    oracle-backed: portable-md5 MinHash near-dedup (survivors at
    jaccard_est >= 0.8) → per-source token-budget mixing (bucketed
    two-pass prefix sum, budget 800) → proportional source interleaving
    (the global training order). Every stage already carries its own
    bit-exact oracle; this entry proves the COMPOSITION — signatures,
    banding, candidate pairs, survivor rule, budget prefix, interleave
    rank — hash-matches end to end, i.e. a user can run their whole
    dedup→mix→order curation flow on this engine and externally verify
    the final training order row for row."""
    from ucr_bigdata_snowfallproject_spark.operators.dedup import _materialize

    d = load_table(spark, sf_dir, "documents")
    surv = dedup_ops.minhash_dedup(d, "doc_id", "text", threshold=0.8, hash="md5")
    # BARRIER the survivor frame (round 17 — the capstone's round-12
    # lesson applied to this composition too): token_budget_mix consumes
    # its input twice (the in-bucket prefix window AND the per-bucket
    # totals aggregate — different exchange inputs, so ReuseExchange
    # cannot dedupe them), which re-ran the whole minhash anti-join
    # subtree. Measured A/B at sf0.1: 12.8 → 9.4 s warm-1 (round-2 warm
    # neutral), identical 291 rows.
    # Round 18 (guide §2.3 — project before the exchange): everything
    # downstream needs only (doc_id, source, token count) — the r17
    # barrier checkpointed FULL document rows and both budget-mix passes
    # re-tokenized text from the checkpoint. Compute the count once,
    # drop text before the barrier; the checkpoint writes 3 narrow
    # columns and the mix's two exchanges carry no text. Same n_tokens
    # values by construction (same token_count over the same rows).
    surv = _materialize(
        surv.select(
            "doc_id", "source",
            text_ops.token_count("text").alias("__ntok"),
        ),
        "local",
    )
    kept = curation_ops.token_budget_mix(
        surv, "source", "doc_id", F.col("__ntok"), budget_tokens=800
    )
    ranked = curation_ops.proportional_interleave(
        kept.select("doc_id", "source", "n_tokens"), "source", "doc_id"
    )
    return ranked.select(
        "doc_id",
        "source",
        F.col("n_tokens").cast("bigint").alias("n_tokens"),
        "interleave_rank",
    )


def _span_capstone_sql(w: int, cap: int | None) -> str:
    """The composed six-stage capstone oracle, parameterized on the
    stage-2 self-repetition window ``w`` and its
    ``max_anchor_occurrences`` cap (None = uncapped): the GATED
    fixture-width entry uses (3, None) — every token position anchors
    at W=3 on the fixture — and the PRODUCTION-shaped twin uses
    (50, 10), the width/knob a real pipeline runs (VERDICT r11 #3).
    Stage-2's cap replay is the dedup_self_repetition_capped oracle's:
    over-cap (doc, fp) groups leave the self-join, owning docs
    short-circuit to rep = n_tokens (⇒ always dropped by the 10·rep
    rule). With cap=None the hot/degen CTEs are vacuous and the SQL is
    semantically the pre-r12 capstone oracle verbatim."""
    wm1 = w - 1
    if cap is not None:
        cap_ctes = f"""
    ihot AS (
      SELECT doc_id, fp FROM ianch GROUP BY doc_id, fp HAVING COUNT(*) > {cap}
    ), idegen AS (
      SELECT DISTINCT doc_id FROM ihot
    ), ianch2 AS (
      SELECT i.doc_id, i.pos, i.fp
      FROM ianch i LEFT JOIN ihot h
        ON h.doc_id = i.doc_id AND h.fp = i.fp
      WHERE h.fp IS NULL
    ),"""
    else:
        cap_ctes = """
    idegen AS (
      SELECT doc_id FROM it WHERE FALSE
    ), ianch2 AS (
      SELECT * FROM ianch
    ),"""
    return _minhash_md5_sql(f"""
    , survivors AS (
      SELECT d.* FROM documents d
      WHERE doc_id NOT IN (
        SELECT DISTINCT id_b FROM est WHERE jaccard_est >= 0.8)
    ), train AS (
      SELECT * FROM survivors WHERE doc_id % 7 != 0
    ), ev AS (
      SELECT * FROM documents WHERE doc_id % 7 = 0
    ),
    -- stage 2 (r11): per-doc SELF-repetition drop (Gopher-style, the
    -- doc-local signal — runs first because it needs no cross-doc
    -- join): within-doc >={w}-token repeat coverage via the intra-doc
    -- span machinery; drop docs more than a tenth self-repeated
    -- (integer rule 10*rep > n_tokens — no float compare anywhere);
    -- docs owning an over-cap (doc, fp) anchor group short-circuit to
    -- rep = n_tokens (always dropped)
    it AS (
      SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS arr
      FROM train
    ), ianch AS (
      SELECT doc_id, i AS pos,
             md5(array_to_string(list_slice(arr, i, i + {wm1}), ' ')) AS fp
      FROM it, LATERAL unnest(generate_series(1, greatest(len(arr) - {wm1}, 0))) g(i)
      WHERE len(arr) >= {w}
    ),{cap_ctes} im AS (
      SELECT a.doc_id, a.pos AS pos_a, b.pos AS pos_b
      FROM ianch2 a JOIN ianch2 b
        ON a.fp = b.fp AND a.doc_id = b.doc_id AND a.pos < b.pos
    ), ir AS (
      SELECT *, pos_a - pos_b AS diag,
             pos_a - ROW_NUMBER() OVER (
               PARTITION BY doc_id, pos_a - pos_b ORDER BY pos_a) AS grp
      FROM im
    ), ispans AS (
      SELECT doc_id, MIN(pos_a) AS start_a, MIN(pos_b) AS start_b,
             MAX(pos_a) - MIN(pos_a) + {w} AS tok
      FROM ir GROUP BY doc_id, diag, grp
    ), iiv AS (
      SELECT DISTINCT doc_id, s, e FROM (
        SELECT doc_id, start_a AS s, start_a + tok - 1 AS e FROM ispans
        UNION ALL
        SELECT doc_id, start_b, start_b + tok - 1 FROM ispans)
    ), iisl AS (
      SELECT doc_id, s, e,
             SUM(CASE WHEN pm IS NULL OR s > pm THEN 1 ELSE 0 END) OVER (
               PARTITION BY doc_id ORDER BY s, e
               ROWS UNBOUNDED PRECEDING) AS g
      FROM (
        SELECT doc_id, s, e,
               MAX(e) OVER (PARTITION BY doc_id ORDER BY s, e
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm
        FROM iiv)
    ), icov AS (
      SELECT doc_id, SUM(len) AS rep FROM (
        SELECT doc_id, g, MAX(e) - MIN(s) + 1 AS len
        FROM iisl GROUP BY doc_id, g)
      GROUP BY doc_id
    ), train2 AS (
      SELECT t.* FROM train t
      LEFT JOIN icov ON icov.doc_id = t.doc_id
      LEFT JOIN idegen dg ON dg.doc_id = t.doc_id
      WHERE dg.doc_id IS NULL
        AND 10 * COALESCE(icov.rep, 0) <=
            len(regexp_split_to_array(lower(trim(t.text)), '\\s+'))
    ),
    -- stage 3: WITHIN-TRAIN substring-span coverage (min_tokens=12);
    -- drop docs that are more than half duplicated text (integer rule
    -- 2*dup > n_tokens — no float compare anywhere)
    ta AS (
      SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS arr
      FROM train2
    ), sanch AS (
      SELECT doc_id, i AS pos,
             md5(array_to_string(list_slice(arr, i, i + 11), ' ')) AS fp
      FROM ta, LATERAL unnest(generate_series(1, greatest(len(arr) - 11, 0))) g(i)
      WHERE len(arr) >= 12
    ), sm AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             a.pos AS pos_a, b.pos AS pos_b
      FROM sanch a JOIN sanch b ON a.fp = b.fp AND a.doc_id < b.doc_id
    ), sr AS (
      SELECT *, pos_a - pos_b AS diag,
             pos_a - ROW_NUMBER() OVER (
               PARTITION BY doc_a, doc_b, pos_a - pos_b ORDER BY pos_a) AS grp
      FROM sm
    ), sspans AS (
      SELECT doc_a, doc_b, MIN(pos_a) AS start_a, MIN(pos_b) AS start_b,
             MAX(pos_a) - MIN(pos_a) + 12 AS tok
      FROM sr GROUP BY doc_a, doc_b, diag, grp
    ), siv AS (
      SELECT DISTINCT doc_id, s, e FROM (
        SELECT doc_a AS doc_id, start_a AS s, start_a + tok - 1 AS e
        FROM sspans
        UNION ALL
        SELECT doc_b, start_b, start_b + tok - 1 FROM sspans)
    ), sisl AS (
      SELECT doc_id, s, e,
             SUM(CASE WHEN pm IS NULL OR s > pm THEN 1 ELSE 0 END) OVER (
               PARTITION BY doc_id ORDER BY s, e
               ROWS UNBOUNDED PRECEDING) AS g
      FROM (
        SELECT doc_id, s, e,
               MAX(e) OVER (PARTITION BY doc_id ORDER BY s, e
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm
        FROM siv)
    ), scov AS (
      SELECT doc_id, SUM(len) AS dup FROM (
        SELECT doc_id, g, MAX(e) - MIN(s) + 1 AS len
        FROM sisl GROUP BY doc_id, g)
      GROUP BY doc_id
    ), kept1 AS (
      SELECT t.* FROM train2 t LEFT JOIN scov ON scov.doc_id = t.doc_id
      WHERE 2 * COALESCE(scov.dup, 0) <=
            len(regexp_split_to_array(lower(trim(t.text)), '\\s+'))
    ),
    -- stage 4: excise every >=12-token span shared with the eval corpus
    ka AS (
      SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS arr
      FROM kept1
    ), ea AS (
      SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS arr
      FROM ev
    ), kanch AS (
      SELECT doc_id, i AS pos,
             md5(array_to_string(list_slice(arr, i, i + 11), ' ')) AS fp
      FROM ka, LATERAL unnest(generate_series(1, greatest(len(arr) - 11, 0))) g(i)
      WHERE len(arr) >= 12
    ), eanch AS (
      SELECT doc_id, i AS pos,
             md5(array_to_string(list_slice(arr, i, i + 11), ' ')) AS fp
      FROM ea, LATERAL unnest(generate_series(1, greatest(len(arr) - 11, 0))) g(i)
      WHERE len(arr) >= 12
    ), em AS (
      SELECT k.doc_id AS doc_a, k.pos AS pos_a,
             e.doc_id AS doc_b, e.pos AS pos_b
      FROM kanch k JOIN eanch e ON k.fp = e.fp
    ), er AS (
      SELECT *, pos_a - pos_b AS diag,
             pos_a - ROW_NUMBER() OVER (
               PARTITION BY doc_a, doc_b, pos_a - pos_b ORDER BY pos_a) AS grp
      FROM em
    ), espans AS (
      SELECT doc_a, MIN(pos_a) AS s, MAX(pos_a) - MIN(pos_a) + 12 AS tok
      FROM er GROUP BY doc_a, doc_b, diag, grp
    ), ecovered AS (
      SELECT DISTINCT doc_a, p AS pos
      FROM espans, LATERAL unnest(generate_series(s, s + tok - 1)) q(p)
    ), ktoks AS (
      SELECT doc_id, p AS pos, w
      FROM (SELECT doc_id, unnest(arr) AS w,
                   generate_subscripts(arr, 1) AS p FROM ka)
    ), ekept AS (
      SELECT tk.doc_id, tk.pos, tk.w
      FROM ktoks tk LEFT JOIN ecovered c
        ON c.doc_a = tk.doc_id AND c.pos = tk.pos
      WHERE c.doc_a IS NULL
    ), rebuilt AS (
      SELECT doc_id, COUNT(*) AS kept_tokens,
             string_agg(w, ' ' ORDER BY pos) AS cleaned_text
      FROM ekept GROUP BY doc_id
    ), cleaned AS (
      SELECT k.doc_id, k.source,
             COALESCE(rb.kept_tokens, 0) AS kept_tokens,
             md5(COALESCE(rb.cleaned_text, '')) AS cleaned_md5
      FROM kept1 k LEFT JOIN rebuilt rb ON rb.doc_id = k.doc_id
      WHERE COALESCE(rb.kept_tokens, 0) > 0
    ),
    -- stage 5: per-source token budget on the CLEANED token counts
    bt AS (
      SELECT *, ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '#mix'),
                                1, 8))::BIGINT AS priority
      FROM cleaned
    ), bc AS (
      SELECT *, SUM(kept_tokens) OVER (
               PARTITION BY source ORDER BY priority, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      FROM bt
    ), bkept AS (
      SELECT doc_id, source, kept_tokens, cleaned_md5 FROM bc WHERE cum <= 800
    ),
    -- stage 6: proportional interleave into the global training order
    ranked AS (
      SELECT doc_id, source, kept_tokens, cleaned_md5,
             ROW_NUMBER() OVER (
               PARTITION BY source
               ORDER BY ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '#il'),
                                        1, 8))::BIGINT, doc_id) AS i,
             COUNT(*) OVER (PARTITION BY source) AS tot
      FROM bkept
    )
    SELECT doc_id, source, CAST(kept_tokens AS BIGINT) AS kept_tokens,
           cleaned_md5,
           CAST(ROW_NUMBER() OVER (
             ORDER BY (i - 0.5) / tot, source NULLS FIRST, doc_id) AS INT)
             AS interleave_rank
    FROM ranked
    """)


@register("curation_span_clean_mix_pipeline", _span_capstone_sql(3, None))
def curation_span_clean_mix_pipeline(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The SPAN-AWARE end-to-end curation capstone (VERDICT r09 #4;
    self-repetition stage added r11 per VERDICT r10 #5) — the r8
    dedup→mix→interleave composition extended with the round-9/10/11
    span signals, still ONE lazy plan under ONE composed DuckDB oracle:

    1. portable-md5 MinHash near-dedup over the corpus (survivors at
       jaccard_est >= 0.8);
    2. per-doc SELF-repetition drop over train (= surviving doc_id % 7
       != 0): the Gopher-style doc-LOCAL quality rule
       (dedup.self_repetition_coverage, min_tokens=3 — the fixture's
       docs self-repeat at 3-grams; production would use ~50): drop
       documents more than a tenth self-repeated (integer rule
       10·rep_tokens > n_tokens). Doc-local ⇒ runs before any
       cross-doc join, the order a scale pipeline wants;
    3. WITHIN-TRAIN substring-span coverage (min_tokens=12): drop
       documents that are more than half duplicated text (integer rule
       2·dup_tokens > n_tokens — the Lee et al. 2022 boilerplate drop);
    4. substring-level decontamination ACTION vs the eval corpus
       (doc_id % 7 == 0): every shared >=12-token verbatim span excised
       (curation.excise_spans), fully-contaminated docs (0 kept tokens)
       dropped, cleaned text pinned through its md5;
    5. per-source token-budget mix (budget 800) on the CLEANED token
       counts — budget decisions see post-excision sizes, the order a
       real pipeline must apply them in;
    6. proportional source interleave into the global training order.

    Every stage's oracle already exists standalone (minhash CTE,
    intra-doc span CTE, span CTE, excise replay, budget prefix,
    interleave rank); this entry proves the COMPOSITION hash-matches
    end to end — survivor set, self-repetition drops, coverage drops,
    excised text bytes, budget cut, and final training order, row for
    row.

    Plan shape (re-engineered round 12): the survivor-train frame, the
    self-repetition-kept frame, the coverage-kept frame, and the
    cleaned (post-excision) frame are MULTI-CONSUMER barrier subplans —
    each now ``dedup._materialize('local')`` (eager localCheckpoint:
    lineage TRUNCATION, not just caching). Round-12 finding: with lazy
    ``persist`` barriers each stage's LOGICAL plan still embeds the
    full upstream tree, so across six stages the tree grows
    multiplicatively — the final action's analyzed plan reached ~100 MB
    of tree text (24,592 embedded parquet-scan nodes) and Catalyst
    spent 10–13 s of DRIVER time re-walking it per action (measured:
    persist barriers build 32 s + count 10–13 s vs local-checkpoint
    barriers build 14–24 s + count 0.6–1.8 s, plan 29 KB — same 298
    rows). Truncation is the documented trade: blocks live on
    executors and a lost executor re-runs the job (use
    ``'reliable'`` checkpoints on a fault-tolerant FS for long 100 TB
    runs); per-stage plan visibility lives in the standalone gated
    entries for each composed operator (minhash, self-repetition,
    span coverage, excision, budget mix, interleave), which keep full
    un-truncated dumps. ``token_budget_mix``'s phase-1 per-source
    stats pass collects at plan-CONSTRUCTION time, so the barriers
    also stop that pass from recomputing the excise join."""
    from ucr_bigdata_snowfallproject_spark.operators.dedup import _materialize

    d = load_table(spark, sf_dir, "documents")
    surv = dedup_ops.minhash_dedup(d, "doc_id", "text", threshold=0.8, hash="md5")
    train = _materialize(surv.filter(F.col("doc_id") % 7 != 0), "local")
    ev = d.filter(F.col("doc_id") % 7 == 0)
    selfrep = dedup_ops.self_repetition_coverage(
        train, "doc_id", "text", min_tokens=3
    )
    keep0 = selfrep.filter(
        10 * F.col("rep_tokens") <= F.col("n_tokens")
    ).select("doc_id")
    train2 = _materialize(train.join(keep0, "doc_id", "left_semi"), "local")
    # Round 18 note (VERDICT r17 #2): the fused stage-3/4 anchor scan —
    # building the W=12 anchor index ONCE over train2 and serving the
    # excision a kept1 semi-join subset via span_coverage(anchors=) /
    # excise_spans(train_anchors=) — was implemented, oracle-verified,
    # and A/B'd (3×3 fresh-session alternating): it REGRESSED this
    # fixture-width capstone ~1.6 s (the anchor-table localCheckpoint's
    # blocking write costs more than the saved re-hash of checkpointed
    # text at this SF) and was a wash on the prod twin, so the queries
    # keep the r17 two-build shape. The operator API and its
    # equivalence test stay — at 100 TB, where the corpus scan+hash
    # dominates the barrier write, the shared index is the right call
    # for user pipelines (see OPTIMIZATION_r18.md).
    cov = dedup_ops.span_coverage(train2, "doc_id", "text", min_tokens=12)
    keep_ids = cov.filter(
        2 * F.col("dup_tokens") <= F.col("n_tokens")
    ).select("doc_id")
    kept1 = _materialize(
        train2.join(keep_ids, "doc_id", "left_semi"), "local"
    )
    cleaned = (
        curation_ops.excise_spans(kept1, ev, "doc_id", "text", min_tokens=12)
        .filter(F.col("kept_tokens") > 0)
        .join(kept1.select("doc_id", "source"), "doc_id")
        .select(
            "doc_id",
            "source",
            "kept_tokens",
            F.md5("cleaned_text").alias("cleaned_md5"),
        )
    )
    # round 12: BARRIER the cleaned frame — token_budget_mix's phase-1
    # per-source stats pass runs (collects) at PLAN-CONSTRUCTION time,
    # so without a barrier the excise stage (the pipeline's most
    # expensive join) computes once for the stats and AGAIN for the
    # final action. _materialize is an EAGER localCheckpoint: the frame
    # materializes here, the stats pass reads the truncated result, and
    # downstream plans carry a leaf instead of the upstream tree (the
    # round-12 lineage-truncation rule; ADVICE r12 reword)
    cleaned = _materialize(cleaned, "local")
    kept = curation_ops.token_budget_mix(
        cleaned, "source", "doc_id", F.col("kept_tokens"), budget_tokens=800
    )
    ranked = curation_ops.proportional_interleave(
        kept.select("doc_id", "source", "kept_tokens", "cleaned_md5"),
        "source",
        "doc_id",
    )
    return ranked.select(
        "doc_id",
        "source",
        F.col("kept_tokens").cast("bigint").alias("kept_tokens"),
        "cleaned_md5",
        "interleave_rank",
    )


@register(
    "curation_span_clean_mix_pipeline_prod", _span_capstone_sql(50, 10)
)
def curation_span_clean_mix_pipeline_prod(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The PRODUCTION-shaped capstone (round 12, VERDICT r11 #3): the
    same six-stage span-aware curation composition as
    curation_span_clean_mix_pipeline, but stage 2's self-repetition
    runs at the width, hash mode, and knob a real pipeline uses —
    min_tokens=50 (the Lee et al./Gopher-scale window; the gated
    fixture-width twin runs W=3, where stage 2 alone was 24% of the
    bench suite), ``hash_mode="poly"`` (the O(n) Karp–Rabin anchor
    fast path: md5 mode hashes O(n·W) BYTES — anchor COUNT is ~n at
    ANY width, so a bigger W makes md5 stage 2 SLOWER, measured 38.4 s
    vs the W=3 twin's 34 s; poly removes the W multiplier — exactly
    why dedup_substring_spans_poly exists and is gated span-identical
    to md5 mode under the SAME oracle, the collision caveat it
    documents applying here verbatim), and ``max_anchor_occurrences=10``
    ENGAGED (the degenerate-doc degrade knob on, as production would
    run it; the oracle replays the cap — over-cap anchor groups leave
    the self-join, owning docs short-circuit to rep = n_tokens and are
    always dropped). Stages 1 and 3-6 are identical (coverage at 12,
    excision at 12, budget 800, proportional interleave). Same
    composed full-oracle family — this is the plan users would run,
    benched and gated from birth."""
    from ucr_bigdata_snowfallproject_spark.operators.dedup import _materialize

    d = load_table(spark, sf_dir, "documents")
    surv = dedup_ops.minhash_dedup(d, "doc_id", "text", threshold=0.8, hash="md5")
    train = _materialize(surv.filter(F.col("doc_id") % 7 != 0), "local")
    ev = d.filter(F.col("doc_id") % 7 == 0)
    selfrep = dedup_ops.self_repetition_coverage(
        train, "doc_id", "text", min_tokens=50,
        hash_mode="poly", max_anchor_occurrences=10,
    )
    keep0 = selfrep.filter(
        10 * F.col("rep_tokens") <= F.col("n_tokens")
    ).select("doc_id")
    train2 = _materialize(train.join(keep0, "doc_id", "left_semi"), "local")
    # Round 18: the shared stage-3/4 anchor scan was measured and
    # REJECTED at this SF (see the fixture-width twin's note and
    # OPTIMIZATION_r18.md) — the queries keep the r17 two-build shape.
    cov = dedup_ops.span_coverage(train2, "doc_id", "text", min_tokens=12)
    keep_ids = cov.filter(
        2 * F.col("dup_tokens") <= F.col("n_tokens")
    ).select("doc_id")
    kept1 = _materialize(
        train2.join(keep_ids, "doc_id", "left_semi"), "local"
    )
    cleaned = (
        curation_ops.excise_spans(kept1, ev, "doc_id", "text", min_tokens=12)
        .filter(F.col("kept_tokens") > 0)
        .join(kept1.select("doc_id", "source"), "doc_id")
        .select(
            "doc_id",
            "source",
            "kept_tokens",
            F.md5("cleaned_text").alias("cleaned_md5"),
        )
    )
    # round 12: BARRIER the cleaned frame — token_budget_mix's phase-1
    # per-source stats pass runs (collects) at PLAN-CONSTRUCTION time,
    # so without a barrier the excise stage (the pipeline's most
    # expensive join) computes once for the stats and AGAIN for the
    # final action. _materialize is an EAGER localCheckpoint: the frame
    # materializes here, the stats pass reads the truncated result, and
    # downstream plans carry a leaf instead of the upstream tree (the
    # round-12 lineage-truncation rule; ADVICE r12 reword)
    cleaned = _materialize(cleaned, "local")
    kept = curation_ops.token_budget_mix(
        cleaned, "source", "doc_id", F.col("kept_tokens"), budget_tokens=800
    )
    ranked = curation_ops.proportional_interleave(
        kept.select("doc_id", "source", "kept_tokens", "cleaned_md5"),
        "source",
        "doc_id",
    )
    return ranked.select(
        "doc_id",
        "source",
        F.col("kept_tokens").cast("bigint").alias("kept_tokens"),
        "cleaned_md5",
        "interleave_rank",
    )


@register("dedup_simhash_candidates", None)  # xxhash64 fast path — rows-only
def dedup_simhash_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2 SimHash near-dup candidates (64-bit fingerprint, 16-bit bands,
    Hamming ranking) — the xxhash64 FAST path; the algorithm is
    externally verified through dedup_simhash_candidates_md5, and since
    round 13 each mode's exact truth-miss set (and the md5 ⊆ fast
    truth-hit containment) is pinned on the fixture
    (test_fast_path_twins_match_md5_siblings — VERDICT r12 #7)."""
    d = load_table(spark, sf_dir, "documents")
    return dedup_ops.simhash_candidates(d, "doc_id", "text")


@register(
    "dedup_simhash_candidates_md5",
    """
    WITH toks AS (
      SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS ts
      FROM documents
    ), th AS (
      SELECT doc_id,
             unnest(list_transform(ts,
                    t -> ('0x' || substr(md5(t), 1, 15))::BIGINT)) AS h
      FROM toks
    ), fp AS (
      SELECT doc_id,
             CASE WHEN 2*SUM((h >> 0) & 1) > COUNT(*) THEN (1::BIGINT << 0) ELSE 0 END + CASE WHEN 2*SUM((h >> 1) & 1) > COUNT(*) THEN (1::BIGINT << 1) ELSE 0 END + CASE WHEN 2*SUM((h >> 2) & 1) > COUNT(*) THEN (1::BIGINT << 2) ELSE 0 END + CASE WHEN 2*SUM((h >> 3) & 1) > COUNT(*) THEN (1::BIGINT << 3) ELSE 0 END + CASE WHEN 2*SUM((h >> 4) & 1) > COUNT(*) THEN (1::BIGINT << 4) ELSE 0 END + CASE WHEN 2*SUM((h >> 5) & 1) > COUNT(*) THEN (1::BIGINT << 5) ELSE 0 END + CASE WHEN 2*SUM((h >> 6) & 1) > COUNT(*) THEN (1::BIGINT << 6) ELSE 0 END + CASE WHEN 2*SUM((h >> 7) & 1) > COUNT(*) THEN (1::BIGINT << 7) ELSE 0 END + CASE WHEN 2*SUM((h >> 8) & 1) > COUNT(*) THEN (1::BIGINT << 8) ELSE 0 END + CASE WHEN 2*SUM((h >> 9) & 1) > COUNT(*) THEN (1::BIGINT << 9) ELSE 0 END + CASE WHEN 2*SUM((h >> 10) & 1) > COUNT(*) THEN (1::BIGINT << 10) ELSE 0 END + CASE WHEN 2*SUM((h >> 11) & 1) > COUNT(*) THEN (1::BIGINT << 11) ELSE 0 END + CASE WHEN 2*SUM((h >> 12) & 1) > COUNT(*) THEN (1::BIGINT << 12) ELSE 0 END + CASE WHEN 2*SUM((h >> 13) & 1) > COUNT(*) THEN (1::BIGINT << 13) ELSE 0 END + CASE WHEN 2*SUM((h >> 14) & 1) > COUNT(*) THEN (1::BIGINT << 14) ELSE 0 END + CASE WHEN 2*SUM((h >> 15) & 1) > COUNT(*) THEN (1::BIGINT << 15) ELSE 0 END + CASE WHEN 2*SUM((h >> 16) & 1) > COUNT(*) THEN (1::BIGINT << 16) ELSE 0 END + CASE WHEN 2*SUM((h >> 17) & 1) > COUNT(*) THEN (1::BIGINT << 17) ELSE 0 END + CASE WHEN 2*SUM((h >> 18) & 1) > COUNT(*) THEN (1::BIGINT << 18) ELSE 0 END + CASE WHEN 2*SUM((h >> 19) & 1) > COUNT(*) THEN (1::BIGINT << 19) ELSE 0 END + CASE WHEN 2*SUM((h >> 20) & 1) > COUNT(*) THEN (1::BIGINT << 20) ELSE 0 END + CASE WHEN 2*SUM((h >> 21) & 1) > COUNT(*) THEN (1::BIGINT << 21) ELSE 0 END + CASE WHEN 2*SUM((h >> 22) & 1) > COUNT(*) THEN (1::BIGINT << 22) ELSE 0 END + CASE WHEN 2*SUM((h >> 23) & 1) > COUNT(*) THEN (1::BIGINT << 23) ELSE 0 END + CASE WHEN 2*SUM((h >> 24) & 1) > COUNT(*) THEN (1::BIGINT << 24) ELSE 0 END + CASE WHEN 2*SUM((h >> 25) & 1) > COUNT(*) THEN (1::BIGINT << 25) ELSE 0 END + CASE WHEN 2*SUM((h >> 26) & 1) > COUNT(*) THEN (1::BIGINT << 26) ELSE 0 END + CASE WHEN 2*SUM((h >> 27) & 1) > COUNT(*) THEN (1::BIGINT << 27) ELSE 0 END + CASE WHEN 2*SUM((h >> 28) & 1) > COUNT(*) THEN (1::BIGINT << 28) ELSE 0 END + CASE WHEN 2*SUM((h >> 29) & 1) > COUNT(*) THEN (1::BIGINT << 29) ELSE 0 END + CASE WHEN 2*SUM((h >> 30) & 1) > COUNT(*) THEN (1::BIGINT << 30) ELSE 0 END + CASE WHEN 2*SUM((h >> 31) & 1) > COUNT(*) THEN (1::BIGINT << 31) ELSE 0 END + CASE WHEN 2*SUM((h >> 32) & 1) > COUNT(*) THEN (1::BIGINT << 32) ELSE 0 END + CASE WHEN 2*SUM((h >> 33) & 1) > COUNT(*) THEN (1::BIGINT << 33) ELSE 0 END + CASE WHEN 2*SUM((h >> 34) & 1) > COUNT(*) THEN (1::BIGINT << 34) ELSE 0 END + CASE WHEN 2*SUM((h >> 35) & 1) > COUNT(*) THEN (1::BIGINT << 35) ELSE 0 END + CASE WHEN 2*SUM((h >> 36) & 1) > COUNT(*) THEN (1::BIGINT << 36) ELSE 0 END + CASE WHEN 2*SUM((h >> 37) & 1) > COUNT(*) THEN (1::BIGINT << 37) ELSE 0 END + CASE WHEN 2*SUM((h >> 38) & 1) > COUNT(*) THEN (1::BIGINT << 38) ELSE 0 END + CASE WHEN 2*SUM((h >> 39) & 1) > COUNT(*) THEN (1::BIGINT << 39) ELSE 0 END + CASE WHEN 2*SUM((h >> 40) & 1) > COUNT(*) THEN (1::BIGINT << 40) ELSE 0 END + CASE WHEN 2*SUM((h >> 41) & 1) > COUNT(*) THEN (1::BIGINT << 41) ELSE 0 END + CASE WHEN 2*SUM((h >> 42) & 1) > COUNT(*) THEN (1::BIGINT << 42) ELSE 0 END + CASE WHEN 2*SUM((h >> 43) & 1) > COUNT(*) THEN (1::BIGINT << 43) ELSE 0 END + CASE WHEN 2*SUM((h >> 44) & 1) > COUNT(*) THEN (1::BIGINT << 44) ELSE 0 END + CASE WHEN 2*SUM((h >> 45) & 1) > COUNT(*) THEN (1::BIGINT << 45) ELSE 0 END + CASE WHEN 2*SUM((h >> 46) & 1) > COUNT(*) THEN (1::BIGINT << 46) ELSE 0 END + CASE WHEN 2*SUM((h >> 47) & 1) > COUNT(*) THEN (1::BIGINT << 47) ELSE 0 END + CASE WHEN 2*SUM((h >> 48) & 1) > COUNT(*) THEN (1::BIGINT << 48) ELSE 0 END + CASE WHEN 2*SUM((h >> 49) & 1) > COUNT(*) THEN (1::BIGINT << 49) ELSE 0 END + CASE WHEN 2*SUM((h >> 50) & 1) > COUNT(*) THEN (1::BIGINT << 50) ELSE 0 END + CASE WHEN 2*SUM((h >> 51) & 1) > COUNT(*) THEN (1::BIGINT << 51) ELSE 0 END + CASE WHEN 2*SUM((h >> 52) & 1) > COUNT(*) THEN (1::BIGINT << 52) ELSE 0 END + CASE WHEN 2*SUM((h >> 53) & 1) > COUNT(*) THEN (1::BIGINT << 53) ELSE 0 END + CASE WHEN 2*SUM((h >> 54) & 1) > COUNT(*) THEN (1::BIGINT << 54) ELSE 0 END + CASE WHEN 2*SUM((h >> 55) & 1) > COUNT(*) THEN (1::BIGINT << 55) ELSE 0 END + CASE WHEN 2*SUM((h >> 56) & 1) > COUNT(*) THEN (1::BIGINT << 56) ELSE 0 END + CASE WHEN 2*SUM((h >> 57) & 1) > COUNT(*) THEN (1::BIGINT << 57) ELSE 0 END + CASE WHEN 2*SUM((h >> 58) & 1) > COUNT(*) THEN (1::BIGINT << 58) ELSE 0 END + CASE WHEN 2*SUM((h >> 59) & 1) > COUNT(*) THEN (1::BIGINT << 59) ELSE 0 END AS sh
      FROM th GROUP BY doc_id
    ), banded AS (
      SELECT doc_id, sh, b AS band, (sh >> (b*15)) & 32767 AS chunk
      FROM fp CROSS JOIN (SELECT unnest(range(0, 4)) AS b) t
    )
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
           bit_count(xor(a.sh, b.sh)) AS hamming
    FROM banded a JOIN banded b
      ON a.band = b.band AND a.chunk = b.chunk AND a.doc_id < b.doc_id
    WHERE bit_count(xor(a.sh, b.sh)) <= 8
    """,
)
def dedup_simhash_candidates_md5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2 SimHash near-dup candidates in PORTABLE-HASH mode: token hashes
    are the first 15 md5 hex digits (a 60-bit space — the same
    portable-hash discipline as the minhash md5 mode), the fingerprint is
    the per-bit sign of Σ±1 over tokens (the 64-plane Arrow fold yields it
    unchanged — planes 60..63 are provably zero), bands are 4×15-bit
    chunks of the live bits, and candidates keep Hamming(xor) <= 8. Every
    step is integer bit arithmetic, so the SECOND near-dup fingerprint
    family is fully replayable in DuckDB SQL (the xxhash64 fast path
    stays default)."""
    d = load_table(spark, sf_dir, "documents")
    return dedup_ops.simhash_candidates(
        d, "doc_id", "text", band_bits=15, max_hamming=8, hash="md5"
    )


@register(
    "similarity_brute_force_topk",
    """
    WITH q AS (SELECT vec_id AS q_id, embedding::DOUBLE[] AS qvec
               FROM embeddings WHERE vec_id < 5),
         scored AS (
           SELECT q.q_id, e.vec_id,
                  ROUND(list_dot_product(q.qvec, e.embedding::DOUBLE[]) /
                        (sqrt(list_dot_product(q.qvec, q.qvec)) *
                         sqrt(list_dot_product(e.embedding::DOUBLE[],
                                               e.embedding::DOUBLE[]))), 4) AS sim
           FROM q CROSS JOIN embeddings e)
    SELECT q_id, vec_id, sim FROM (
        SELECT q_id, vec_id, sim,
               ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) AS rn
        FROM scored)
    WHERE rn <= 10
    """,
)
def similarity_brute_force_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X3 exact cosine top-k (brute force baseline): 5 query vectors
    broadcast against the corpus, double-precision dot products JVM-side,
    per-query window top-10 with (sim desc, vec_id) total order."""
    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 5).select(F.col("vec_id").alias("q_id"), "embedding")
    return sim_ops.brute_force_topk(e, q, k=10, round_digits=4)


@register("similarity_lsh_topk", None)  # approximate — recall tested vs brute force
def similarity_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X3 LSH approximate top-k (random-hyperplane bucketing, 4 tables ×
    8 bits). Rows-only here; recall vs the brute-force oracle is pinned in
    tests/test_similarity.py."""
    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 5).select(F.col("vec_id").alias("q_id"), "embedding")
    return sim_ops.lsh_topk(e, q, dim=64, k=10)


#: Shared by the inline and the saved-artifact (indexed) SQ8 queries —
#: quantization is deterministic, so save→load→probe is bit-identical to
#: the inline build and both paths hash-check against ONE oracle.
_INT8_RERANK_ORACLE = """
    WITH base AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS xs
      FROM embeddings
    ), m AS (
      SELECT vec_id, xs,
             list_aggregate(list_transform(xs, x -> ABS(x)), 'max') AS maxabs
      FROM base
    ), codes AS (
      SELECT vec_id, xs,
             CASE WHEN maxabs > 0
                  THEN list_transform(
                         xs, x -> CAST(FLOOR(x / maxabs * 127 + 0.5) AS DOUBLE))
                  ELSE list_transform(xs, x -> CAST(0 AS DOUBLE)) END AS c
      FROM m
    ), q AS (
      SELECT vec_id AS q_id, xs AS qxs, c AS qc,
             list_dot_product(c, c) AS qn
      FROM codes WHERE vec_id < 8
    ), coarse AS (
      SELECT q.q_id, e.vec_id,
             CASE WHEN q.qn > 0 AND list_dot_product(e.c, e.c) > 0
                  THEN ROUND(list_dot_product(q.qc, e.c) /
                             (sqrt(q.qn) * sqrt(list_dot_product(e.c, e.c))), 4)
                  ELSE 0.0 END AS csim
      FROM q CROSS JOIN codes e
    ), cand AS (
      SELECT q_id, vec_id FROM (
        SELECT q_id, vec_id,
               ROW_NUMBER() OVER (PARTITION BY q_id
                                  ORDER BY csim DESC, vec_id) AS rn
        FROM coarse)
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


@register("similarity_int8_rerank_topk", _INT8_RERANK_ORACLE)
def similarity_int8_rerank_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X3 two-stage ANN, the production SQ8 shape: int8 coarse scan (4×
    less scan IO; per-vector scale cancels in cosine so the coarse score
    is an exact integer dot over codes) keeps top k·4 candidates per
    query; only candidates rejoin the float embeddings for the exact
    cosine rerank. Fully deterministic (integer coarse arithmetic + IEEE
    double rerank) ⇒ full DuckDB oracle; recall vs brute force pinned in
    tests/test_similarity.py."""
    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 8).select(F.col("vec_id").alias("q_id"), "embedding")
    return sim_ops.int8_rerank_topk(e, q, k=10, refine=4)


def _dcg_gains(k: int) -> list[int]:
    """Fixed-point DCG gain table (mirrors retrieval.eval_ranking):
    floor(1e12 / log2(rank+1) + 0.5) for rank 1..k — deterministic integer
    constants, inlined into the eval oracle so both engines sum the SAME
    integers order-free."""
    import math

    return [int(math.floor(1e12 / math.log2(i + 1) + 0.5)) for i in range(1, k + 1)]


_EVAL_GAINS = _dcg_gains(10)
_EVAL_GAIN_CASE = "CASE r.rank " + " ".join(
    f"WHEN {i + 1} THEN {g}" for i, g in enumerate(_EVAL_GAINS)
) + " END"
_EVAL_IDCG = sum(_EVAL_GAINS)  # n_rel is 10 for every query here

_RETRIEVAL_EVAL_ORACLE = f"""
    WITH base AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS xs
      FROM embeddings
    ), m AS (
      SELECT vec_id, xs,
             list_aggregate(list_transform(xs, x -> ABS(x)), 'max') AS maxabs
      FROM base
    ), codes AS (
      SELECT vec_id, xs,
             CASE WHEN maxabs > 0
                  THEN list_transform(
                         xs, x -> CAST(FLOOR(x / maxabs * 127 + 0.5) AS DOUBLE))
                  ELSE list_transform(xs, x -> CAST(0 AS DOUBLE)) END AS c
      FROM m
    ), q AS (
      SELECT vec_id AS q_id, xs AS qxs, c AS qc,
             list_dot_product(c, c) AS qn
      FROM codes WHERE vec_id < 8
    ), coarse AS (
      SELECT q.q_id, e.vec_id,
             CASE WHEN q.qn > 0 AND list_dot_product(e.c, e.c) > 0
                  THEN ROUND(list_dot_product(q.qc, e.c) /
                             (sqrt(q.qn) * sqrt(list_dot_product(e.c, e.c))), 4)
                  ELSE 0.0 END AS csim
      FROM q CROSS JOIN codes e
    ), cand AS (
      SELECT q_id, vec_id FROM (
        SELECT q_id, vec_id,
               ROW_NUMBER() OVER (PARTITION BY q_id
                                  ORDER BY csim DESC, vec_id) AS rn
        FROM coarse)
      WHERE rn <= 40
    ), rerank AS (
      SELECT cand.q_id, cand.vec_id,
             ROUND(list_dot_product(q.qxs, b.xs) /
                   (sqrt(list_dot_product(q.qxs, q.qxs)) *
                    sqrt(list_dot_product(b.xs, b.xs))), 4) AS sim
      FROM cand
      JOIN q ON q.q_id = cand.q_id
      JOIN base b ON b.vec_id = cand.vec_id
    ), run AS (
      SELECT q_id, vec_id, CAST(rn AS INTEGER) AS rank FROM (
        SELECT q_id, vec_id, sim,
               ROW_NUMBER() OVER (PARTITION BY q_id
                                  ORDER BY sim DESC, vec_id) AS rn
        FROM rerank)
      WHERE rn <= 10
    ), truth_scored AS (
      SELECT q.q_id, b.vec_id,
             ROUND(list_dot_product(q.qxs, b.xs) /
                   (sqrt(list_dot_product(q.qxs, q.qxs)) *
                    sqrt(list_dot_product(b.xs, b.xs))), 4) AS sim
      FROM q CROSS JOIN base b
    ), qrels AS (
      SELECT q_id, vec_id FROM (
        SELECT q_id, vec_id,
               ROW_NUMBER() OVER (PARTITION BY q_id
                                  ORDER BY sim DESC, vec_id) AS rn
        FROM truth_scored)
      WHERE rn <= 10
    ), nrel AS (
      SELECT q_id, CAST(COUNT(*) AS BIGINT) AS n_rel FROM qrels GROUP BY q_id
    ), per AS (
      SELECT r.q_id,
             CAST(COUNT(*) AS BIGINT) AS n_hit,
             MIN(r.rank) AS first_hit,
             CAST(SUM({_EVAL_GAIN_CASE}) AS BIGINT) AS dcg_fix
      FROM run r JOIN qrels USING (q_id, vec_id)
      GROUP BY r.q_id
    )
    SELECT nrel.q_id, nrel.n_rel,
           COALESCE(per.n_hit, 0) AS n_hit,
           ROUND(COALESCE(per.n_hit, 0) / CAST(nrel.n_rel AS DOUBLE), 6)
             AS recall_k,
           ROUND(COALESCE(per.n_hit, 0) / 10.0, 6) AS precision_k,
           ROUND(COALESCE(1.0 / per.first_hit, 0.0), 6) AS mrr_k,
           ROUND(COALESCE(per.dcg_fix, 0) / CAST({_EVAL_IDCG} AS DOUBLE), 6)
             AS ndcg_k
    FROM nrel LEFT JOIN per USING (q_id)
    """


@register("retrieval_eval_metrics", _RETRIEVAL_EVAL_ORACLE)
def retrieval_eval_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Offline ranking-quality evaluation (retrieval.eval_ranking) of the
    SQ8 two-stage ANN run against the exact brute-force top-10 as the
    relevant set: per-query recall@10, precision@10, MRR@10, nDCG@10 —
    the standard IR eval step after any retriever, with the no-silent-
    query-drop contract (unanswered queries keep zero-metric rows).
    Fixed-point integer DCG sums (order-free) ⇒ fully deterministic,
    both the run AND the truth AND the metrics in one SQL oracle."""
    from ..operators import retrieval as retrieval_ops

    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 8).select(F.col("vec_id").alias("q_id"), "embedding")
    run = sim_ops.int8_rerank_topk(e, q, k=10, refine=4)
    w = Window.partitionBy("q_id").orderBy(F.desc("sim"), F.asc("vec_id"))
    run = run.withColumn("rank", F.row_number().over(w))
    qrels = sim_ops.brute_force_topk(e, q, k=10).select("q_id", "vec_id")
    return retrieval_ops.eval_ranking(run, qrels, "vec_id", query_id_col="q_id", k=10)


@register(
    "retrieval_eval_macro",
    f"""
    WITH per AS ({_RETRIEVAL_EVAL_ORACLE})
    SELECT CAST(COUNT(*) AS BIGINT) AS n_queries,
           ROUND(SUM(CAST(ROUND(recall_k * 1000000) AS BIGINT))
                 / (COUNT(*) * 1000000.0), 6) AS macro_recall,
           ROUND(SUM(CAST(ROUND(precision_k * 1000000) AS BIGINT))
                 / (COUNT(*) * 1000000.0), 6) AS macro_precision,
           ROUND(SUM(CAST(ROUND(mrr_k * 1000000) AS BIGINT))
                 / (COUNT(*) * 1000000.0), 6) AS macro_mrr,
           ROUND(SUM(CAST(ROUND(ndcg_k * 1000000) AS BIGINT))
                 / (COUNT(*) * 1000000.0), 6) AS macro_ndcg
    FROM per
    """,
)
def retrieval_eval_macro(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Macro-averaged retrieval metrics (the dashboard row): mean of the
    per-query recall/precision/MRR/nDCG@10 from retrieval_eval_metrics —
    unanswered queries count as zeros (they are rows, not absences), so
    the macro can never be inflated by silent query drops. The per-query
    metrics are already 6-digit-rounded, so lifting them onto the 10⁶
    fixed-point integer grid is EXACT — the macro is an order-free long
    sum and ONE float division (the repo-wide fixed-point-before-sum
    discipline; F.avg over doubles would be accumulation-order-dependent
    on a rounding boundary)."""
    from ..operators import retrieval as retrieval_ops

    return retrieval_ops.macro_average(retrieval_eval_metrics(spark, sf_dir))


@register("similarity_int8_indexed_topk", _INT8_RERANK_ORACLE)
def similarity_int8_indexed_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SQ8 index LIFECYCLE end-to-end: quantize the corpus once,
    persist the code table as a snapshot artifact
    (index_store.save_sq8_codes), load it back, and answer the query
    batch against the ARTIFACT (int8_rerank_topk(corpus_codes=...)) —
    the coarse scan reads the 4×-smaller saved codes, the float corpus
    is touched only by the candidate rerank join. Quantization is
    deterministic ⇒ bit-identical to the inline build, so this probe-only
    path shares the inline query's full DuckDB oracle — the
    train-once/query-many contract externally hash-checked."""
    from .. import index_store as ix

    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 8).select(F.col("vec_id").alias("q_id"), "embedding")
    codes = sim_ops.quantize_embeddings(e, "vec_id")
    root = _scratch_dir("snowfall-sq8-") + "/codes"
    ix.save_sq8_codes(codes, root)
    loaded = ix.load_sq8_codes(spark, root)
    return sim_ops.int8_rerank_topk(e, q, k=10, refine=4, corpus_codes=loaded)


_IVF_INT8_ORACLE = """
    WITH base AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS xs
      FROM embeddings
    ), m AS (
      SELECT vec_id, xs,
             list_aggregate(list_transform(xs, x -> ABS(x)), 'max') AS maxabs
      FROM base
    ), codes AS (
      SELECT vec_id, xs,
             CASE WHEN maxabs > 0
                  THEN list_transform(
                         xs, x -> CAST(FLOOR(x / maxabs * 127 + 0.5) AS DOUBLE))
                  ELSE list_transform(xs, x -> CAST(0 AS DOUBLE)) END AS c
      FROM m
    ), cents AS (
      SELECT vec_id AS cid, c AS cc,
             sqrt(list_dot_product(c, c)) AS cns
      FROM codes WHERE vec_id < 16
    ), assign AS (
      SELECT vec_id, cid FROM (
        SELECT e.vec_id, ct.cid,
               ROW_NUMBER() OVER (
                 PARTITION BY e.vec_id
                 ORDER BY -(list_dot_product(e.c, ct.cc) / ct.cns) ASC,
                          ct.cid ASC) AS rn
        FROM codes e CROSS JOIN cents ct)
      WHERE rn = 1
    ), q AS (
      SELECT vec_id AS q_id, xs AS qxs, c AS qc
      FROM codes WHERE vec_id < 8
    ), probes AS (
      SELECT q_id, cid AS cell FROM (
        SELECT q.q_id, ct.cid,
               ROW_NUMBER() OVER (
                 PARTITION BY q.q_id
                 ORDER BY -(list_dot_product(q.qc, ct.cc) / ct.cns) ASC,
                          ct.cid ASC) AS rn
        FROM q CROSS JOIN cents ct)
      WHERE rn <= 4
    ), cand AS (
      SELECT p.q_id, a.vec_id FROM probes p JOIN assign a ON a.cid = p.cell
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


@register("similarity_ivf_int8_indexed_topk", _IVF_INT8_ORACLE)
def similarity_ivf_int8_indexed_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The IVF index lifecycle with FULLY-deterministic int8 cell math
    (VERDICT r06 #6 — the SQ8 trick generalized to the inverted file):
    centroid codes are an external artifact (here: the int8 codes of
    vec_id < 16 — 16 deterministic quantized vectors, collected
    driver-side, bounded), every corpus vector lands in the cell of its
    max integer-cosine centroid (min-cid ties), the cells persist
    partitioned by cell id (index_store.save_ivf_cells), and the query
    batch probes the LOADED artifact: rank centroids by the same integer
    score, prune the scan to n_probe=4 cells (static IN filter →
    partition pruning), exact-cosine-rerank only the pruned candidates.
    Integer dots + one division + IEEE sqrt at every approximate step ⇒
    the whole two-stage result (not just a recall bound) hash-checks
    against the DuckDB oracle — the second fully-oracle-backed ANN entry
    beside similarity_int8_indexed_topk."""
    from .. import index_store as ix

    e = load_table(spark, sf_dir, "embeddings")
    cent_rows = (
        sim_ops.quantize_embeddings(e.filter(F.col("vec_id") < 16), "vec_id")
        .select("vec_id", "codes")
        .collect()
    )
    centroid_codes = [
        (int(r["vec_id"]), [int(x) for x in r["codes"]])
        for r in sorted(cent_rows, key=lambda r: r["vec_id"])
    ]
    cells = sim_ops.ivf_int8_build(e, centroid_codes)
    root = _scratch_dir("snowfall-ivf8-") + "/cells"
    ix.save_ivf_cells(cells, root)
    loaded = ix.load_ivf_cells(spark, root)
    q = e.filter(F.col("vec_id") < 8).select(F.col("vec_id").alias("q_id"), "embedding")
    return sim_ops.ivf_int8_topk_indexed(loaded, q, centroid_codes, k=10, n_probe=4)


_KNN_GRAPH_INT8_ORACLE = """
    WITH base AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS xs
      FROM embeddings
    ), m AS (
      SELECT vec_id, xs,
             list_aggregate(list_transform(xs, x -> ABS(x)), 'max') AS maxabs
      FROM base
    ), codes AS (
      SELECT vec_id, xs,
             CASE WHEN maxabs > 0
                  THEN list_transform(
                         xs, x -> CAST(FLOOR(x / maxabs * 127 + 0.5) AS DOUBLE))
                  ELSE list_transform(xs, x -> CAST(0 AS DOUBLE)) END AS c
      FROM m
    ), cents AS (
      SELECT vec_id AS cid, c AS cc,
             sqrt(list_dot_product(c, c)) AS cns
      FROM codes WHERE vec_id < 16
    ), assign AS (
      SELECT vec_id, cid FROM (
        SELECT e.vec_id, ct.cid,
               ROW_NUMBER() OVER (
                 PARTITION BY e.vec_id
                 ORDER BY -(list_dot_product(e.c, ct.cc) / ct.cns) ASC,
                          ct.cid ASC) AS rn
        FROM codes e CROSS JOIN cents ct)
      WHERE rn = 1
    ), probes AS (
      SELECT vec_id AS src_id, cid AS cell FROM (
        SELECT e.vec_id, ct.cid,
               ROW_NUMBER() OVER (
                 PARTITION BY e.vec_id
                 ORDER BY -(list_dot_product(e.c, ct.cc) / ct.cns) ASC,
                          ct.cid ASC) AS rn
        FROM codes e CROSS JOIN cents ct)
      WHERE rn <= 2
    ), scored AS (
      SELECT p.src_id, a.vec_id AS nbr_id,
             ROUND(list_dot_product(q.xs, b.xs) /
                   (sqrt(list_dot_product(q.xs, q.xs)) *
                    sqrt(list_dot_product(b.xs, b.xs))), 4) AS sim
      FROM probes p
      JOIN assign a ON a.cid = p.cell AND a.vec_id <> p.src_id
      JOIN base q ON q.vec_id = p.src_id
      JOIN base b ON b.vec_id = a.vec_id
    )
    SELECT src_id, nbr_id, sim FROM (
        SELECT src_id, nbr_id, sim,
               ROW_NUMBER() OVER (PARTITION BY src_id
                                  ORDER BY sim DESC, nbr_id) AS rn
        FROM scored)
    WHERE rn <= 10
    """


@register("similarity_knn_graph_int8", _KNN_GRAPH_INT8_ORACLE)
def similarity_knn_graph_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X3 corpus kNN-GRAPH (operators.similarity.ivf_int8_knn_graph):
    every vector's top-10 exact-cosine neighbors among its n_probe=2 best
    int8-IVF cells — the all-pairs analogue of the query-set ANN
    operators and the input shape for SemDeDup-style clustering and
    graph-based curation. No driver materialization anywhere: probe
    pairs explode map-side and ONE cell equi-join blocks the self-join
    (n²·n_probe/C pair bound). Deterministic end-to-end (integer cell
    math, exact rounded cosines, (sim desc, id) order) ⇒ the whole graph
    hash-checks against the DuckDB oracle."""
    e = load_table(spark, sf_dir, "embeddings")
    cent_rows = (
        sim_ops.quantize_embeddings(e.filter(F.col("vec_id") < 16), "vec_id")
        .select("vec_id", "codes")
        .collect()
    )
    centroid_codes = [
        (int(r["vec_id"]), [int(x) for x in r["codes"]])
        for r in sorted(cent_rows, key=lambda r: r["vec_id"])
    ]
    return sim_ops.ivf_int8_knn_graph(e, centroid_codes, k=10, n_probe=2)


@register(
    "dedup_embedding_knn_components",
    f"""
    WITH knn AS ({_KNN_GRAPH_INT8_ORACLE}),
    edges AS (
      SELECT src_id AS a, nbr_id AS b FROM knn WHERE sim >= 0.35
      UNION
      SELECT nbr_id AS a, src_id AS b FROM knn WHERE sim >= 0.35
    )
    SELECT n.a AS vec_id, LEAST(n.a, MIN(r.b)) AS comp
    FROM (SELECT DISTINCT a FROM edges) n
    LEFT JOIN (
      WITH RECURSIVE reach(a, b) AS (
        SELECT a, b FROM edges
        UNION
        SELECT r.a, e.b FROM reach r JOIN edges e ON e.a = r.b
      ) SELECT a, b FROM reach
    ) r ON r.a = n.a
    GROUP BY n.a
    """,
)
def dedup_embedding_knn_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2/X3 embedding-graph near-dedup — the SemDeDup-style composition,
    oracle-backed end-to-end: the int8-IVF corpus kNN graph
    (similarity.ivf_int8_knn_graph) filtered to cosine >= 0.35 becomes
    the dup-edge set, and dup_components' iterative min-label fixpoint
    labels the clusters; the oracle replays the WHOLE stack — integer
    cell assignment, blocked self-join, exact rounded cosines, and a
    RECURSIVE-CTE transitive closure — in one SQL expression. Two
    deterministic approximate/iterative operators composing into an
    externally hash-verified pipeline is the round-8 thesis in one
    query."""
    from ..operators import dedup as dedup_ops_local

    e = load_table(spark, sf_dir, "embeddings")
    cent_rows = sorted(
        sim_ops.quantize_embeddings(e.filter(F.col("vec_id") < 16), "vec_id")
        .select("vec_id", "codes")
        .collect(),
        key=lambda r: r["vec_id"],
    )
    cents = [(int(r["vec_id"]), [int(x) for x in r["codes"]]) for r in cent_rows]
    knn = sim_ops.ivf_int8_knn_graph(e, cents, k=10, n_probe=2)
    pairs = knn.filter(F.col("sim") >= 0.35).select(
        F.col("src_id").alias("id_a"), F.col("nbr_id").alias("id_b")
    )
    # algorithm="star" (round 17): this graph is CHAIN-shaped — the
    # ε-threshold kNN edges form long paths (measured diameter ~20 at
    # sf0.1, exactly the label path's max_iter=20 boundary: 21 one-hop
    # rounds ≈ 23 s of per-round fixed cost, and a marginally deeper
    # fixture would RAISE the nonconvergence guard). Large-star/small-star
    # converges in O(log d) rounds (measured 6) with bit-identical labels
    # (comp = component-min either way; equality pinned in
    # test_cc_star_matches_label_prop_on_random_graphs).
    return dedup_ops_local.dup_components(pairs, algorithm="star").select(
        F.col("id").alias("vec_id"), F.col("comp")
    )


@register("similarity_knn_graph_incremental", _KNN_GRAPH_INT8_ORACLE)
def similarity_knn_graph_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental kNN-graph maintenance
    (operators.similarity.ivf_int8_knn_graph_delta): the indexed corpus
    (vec_id % 5 != 0) carries an exact graph + inverted file; the
    arriving batch (vec_id % 5 == 0) assigns in one scan, new sources
    probe the union file, and OLD sources gain candidate edges only
    against delta members landing in their probed cells —
    O(n_old·|delta|·n_probe/C) pair work instead of the rebuild's
    n²·n_probe/C. Because probe sets depend only on the fixed centroid
    codes and top-k(A∪B) = top-k(top-k(A)∪B) under the (sim desc, id)
    total order, incremental == full rebuild bit-for-bit — so this entry
    shares the full-corpus graph oracle VERBATIM: the append==rebuild
    contract (BM25, SQ8, IVF) extended to a derived graph artifact."""
    e = load_table(spark, sf_dir, "embeddings")
    cent_rows = sorted(
        sim_ops.quantize_embeddings(e.filter(F.col("vec_id") < 16), "vec_id")
        .select("vec_id", "codes")
        .collect(),
        key=lambda r: r["vec_id"],
    )
    cents = [(int(r["vec_id"]), [int(x) for x in r["codes"]]) for r in cent_rows]
    old = e.filter(F.col("vec_id") % 5 != 0)
    delta = e.filter(F.col("vec_id") % 5 == 0)
    old_cells = sim_ops.ivf_int8_build(old, cents)
    old_graph = sim_ops.ivf_int8_knn_graph(
        old, cents, k=10, n_probe=2, cells=old_cells
    )
    return sim_ops.ivf_int8_knn_graph_delta(
        old_graph, old_cells, delta, cents, k=10, n_probe=2
    )


@register("similarity_ivf_int8_incremental", _IVF_INT8_ORACLE)
def similarity_ivf_int8_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL maintenance of the int8 IVF artifact
    (index_store.append_ivf_cells): build the inverted file from 80% of
    the corpus, append the remaining 20% as an O(batch) delta version
    (the base cell files hard-link into it — zero bytes rewritten), and
    probe the appended version. int8 cell assignment is per-row
    deterministic, so incremental == full rebuild row-for-row and this
    query shares the FULL-corpus SQL oracle — the index-maintenance
    contract (the BM25 append's twin for the ANN family) externally
    hash-checked. Cell pruning works as on a fresh build: the appended
    version is one self-contained ``__cell``-partitioned directory."""
    from .. import index_store as ix

    e = load_table(spark, sf_dir, "embeddings")
    cent_rows = (
        sim_ops.quantize_embeddings(e.filter(F.col("vec_id") < 16), "vec_id")
        .select("vec_id", "codes")
        .collect()
    )
    centroid_codes = [
        (int(r["vec_id"]), [int(x) for x in r["codes"]])
        for r in sorted(cent_rows, key=lambda r: r["vec_id"])
    ]
    base = e.filter(F.col("vec_id") % 5 != 0)
    delta = e.filter(F.col("vec_id") % 5 == 0)
    root = _scratch_dir("snowfall-ivf8i-") + "/cells"
    ix.save_ivf_cells(sim_ops.ivf_int8_build(base, centroid_codes), root)
    ix.append_ivf_cells(sim_ops.ivf_int8_build(delta, centroid_codes), root)
    loaded = ix.load_ivf_cells(spark, root)
    q = e.filter(F.col("vec_id") < 8).select(F.col("vec_id").alias("q_id"), "embedding")
    return sim_ops.ivf_int8_topk_indexed(loaded, q, centroid_codes, k=10, n_probe=4)




_SEMDEDUP_ORACLE = """
    WITH base AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS xs
      FROM embeddings
      UNION ALL
      -- planted near-duplicates: vec_id < 12 scaled by 1.01 and shifted
      -- by 0.001 per component, stored as float32 — derived identically
      -- on the Spark side, so no vector literals anywhere
      SELECT vec_id + 9000000,
             list_transform(
               embedding,
               x -> CAST(CAST(x * CAST(1.01 AS DOUBLE)
                              + CAST(0.001 AS DOUBLE) AS REAL) AS DOUBLE))
      FROM embeddings WHERE vec_id < 12
    ), m AS (
      SELECT vec_id, xs,
             list_aggregate(list_transform(xs, x -> ABS(x)), 'max') AS maxabs
      FROM base
    ), codes AS (
      SELECT vec_id, xs,
             CASE WHEN maxabs > 0
                  THEN list_transform(
                         xs, x -> CAST(FLOOR(x / maxabs * 127 + 0.5) AS DOUBLE))
                  ELSE list_transform(xs, x -> CAST(0 AS DOUBLE)) END AS c
      FROM m
    ), cents AS (
      SELECT vec_id AS cid, c AS cc,
             sqrt(list_dot_product(c, c)) AS cns
      FROM codes WHERE vec_id < 16
    ), assign AS (
      SELECT vec_id, cid FROM (
        SELECT e.vec_id, ct.cid,
               ROW_NUMBER() OVER (
                 PARTITION BY e.vec_id
                 ORDER BY -(list_dot_product(e.c, ct.cc) / ct.cns) ASC,
                          ct.cid ASC) AS rn
        FROM codes e CROSS JOIN cents ct)
      WHERE rn = 1
    ), mem AS (
      SELECT a.vec_id, a.cid AS cell, b.xs, c.c,
             CASE WHEN list_dot_product(c.c, c.c) > 0 THEN
               ROUND(list_dot_product(c.c, ct.cc)
                     / (sqrt(list_dot_product(c.c, c.c)) * ct.cns), 4)
             ELSE 0.0 END AS cent_sim
      FROM assign a
      JOIN base b ON b.vec_id = a.vec_id
      JOIN codes c ON c.vec_id = a.vec_id
      JOIN cents ct ON ct.cid = a.cid
    ), celln AS (
      SELECT cell, COUNT(*) AS cell_n FROM mem GROUP BY cell
    ), pairs AS (
      -- coarse stage first (the Spark side's grouped-Arrow kernel):
      -- int8-code cosine >= 0.93 in the same DIVISION form, then the
      -- exact rounded rerank at 0.95
      SELECT p.vec_id AS ia, q.vec_id AS ib,
             p.cent_sim AS ca, q.cent_sim AS cb,
             ROUND(list_dot_product(p.xs, q.xs) /
                   (sqrt(list_dot_product(p.xs, p.xs)) *
                    sqrt(list_dot_product(q.xs, q.xs))), 4) AS sim
      FROM mem p JOIN mem q ON p.cell = q.cell AND p.vec_id < q.vec_id
      -- zero-norm guard (ADVICE r11): a zero vector's coarse/exact
      -- division is 0/0 = NaN and DuckDB orders NaN ABOVE every number
      -- (NaN >= t is TRUE), while the Spark kernel filters __cfn > 0 —
      -- guard BOTH the code norms and the float norms so the engines
      -- stay in lockstep if the fixture ever gains a zero embedding
      WHERE list_dot_product(p.c, p.c) > 0
        AND list_dot_product(q.c, q.c) > 0
        AND list_dot_product(p.xs, p.xs) > 0
        AND list_dot_product(q.xs, q.xs) > 0
        AND list_dot_product(p.c, q.c)
              / (sqrt(list_dot_product(p.c, p.c)) *
                 sqrt(list_dot_product(q.c, q.c))) >= 0.93
    ), losers AS (
      SELECT DISTINCT CASE WHEN ca > cb OR (ca = cb AND ia > ib)
                           THEN ia ELSE ib END AS vec_id
      FROM pairs WHERE sim >= 0.95
    )
    SELECT mem.vec_id, CAST(mem.cell AS INT) AS cell,
           CAST(cn.cell_n AS BIGINT) AS cell_n, mem.cent_sim,
           CAST(CASE WHEN l.vec_id IS NOT NULL THEN 1 ELSE 0 END AS INT)
             AS is_dup
    FROM mem
    JOIN celln cn ON cn.cell = mem.cell
    LEFT JOIN losers l ON l.vec_id = mem.vec_id
    """


@register("dedup_semdedup_int8", _SEMDEDUP_ORACLE)
def dedup_semdedup_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2/X3 SemDeDup — SEMANTIC deduplication (Abbas et al. 2023;
    operators.similarity.semdedup_int8, round 11): cluster every
    embedding into its max-int8-cosine cell of the deterministic
    16-centroid codebook (the codes of vec_id < 16 — the same external
    integer artifact the gated IVF/kNN-graph entries use), score exact
    rounded cosine ONLY within cells, and for each pair at sim >= 0.95
    drop the member CLOSER to its centroid (the paper's keep-the-edge
    rule; rounded cent_sim, id tie-break). The corpus is the embeddings
    table plus 12 PLANTED near-duplicates (vec_id < 12 scaled 1.01 +
    0.001, cast back to float32) DERIVED identically in the oracle from
    the same parquet — the natural fixture's max pairwise cosine is
    ~0.46, so without planting the pair stage would be vacuous.
    The pair stage runs the PRODUCTION kernel — coarse_eps=0.93: one
    grouped Arrow task per cell, exact integer-code GEMM coarse filter,
    sequential exact-cosine rerank on survivors (measured ~1000× the
    HOF fold per pair) — and the oracle replays BOTH stages verbatim.
    Fully integer/IEEE arithmetic end to end ⇒ the whole
    cluster-then-prune result (cell, cell_n, cent_sim, is_dup per
    vector) hash-checks against DuckDB — covering the one published
    training-data dedup method (semantic, non-verbatim) the
    exact/minhash/simhash/LSH family cannot express."""
    e = load_table(spark, sf_dir, "embeddings")
    planted = e.filter(F.col("vec_id") < 12).select(
        (F.col("vec_id") + 9000000).alias("vec_id"),
        F.transform(
            F.col("embedding"),
            lambda x: (x * F.lit(1.01) + F.lit(0.001)).cast("float"),
        ).alias("embedding"),
    )
    corpus = e.select("vec_id", "embedding").unionByName(planted)
    cent_rows = (
        sim_ops.quantize_embeddings(e.filter(F.col("vec_id") < 16), "vec_id")
        .select("vec_id", "codes")
        .collect()
    )
    centroid_codes = [
        (int(r["vec_id"]), [int(x) for x in r["codes"]])
        for r in sorted(cent_rows, key=lambda r: r["vec_id"])
    ]
    # anti-hollow trailing filter: under bench's count() Catalyst would
    # otherwise eliminate the losers left-join AND the pair self-join
    # (unique-keyed, unreferenced) and time cluster-assignment only
    return sim_ops.semdedup_int8(
        corpus, centroid_codes, eps=0.95, coarse_eps=0.93
    ).filter(F.col("is_dup") >= 0)


_SEMANTIC_DECON_ORACLE = """
    WITH allv AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS xs
      FROM embeddings
    ), planted AS (
      -- contaminated-by-construction train rows: perturbed copies of the
      -- first 12 eval vectors, derived identically on the Spark side
      SELECT vec_id + 9000000 AS vec_id,
             list_transform(
               embedding,
               x -> CAST(CAST(x * CAST(1.01 AS DOUBLE)
                              + CAST(0.001 AS DOUBLE) AS REAL) AS DOUBLE)) AS xs
      FROM embeddings WHERE vec_id % 7 = 0 AND vec_id < 84
    ), u AS (
      SELECT 't' AS side, vec_id, xs FROM allv WHERE vec_id % 7 <> 0
      UNION ALL
      SELECT 't', vec_id, xs FROM planted
      UNION ALL
      SELECT 'e', vec_id, xs FROM allv WHERE vec_id % 7 = 0
    ), m AS (
      SELECT side, vec_id, xs,
             list_aggregate(list_transform(xs, x -> ABS(x)), 'max') AS maxabs
      FROM u
    ), codes AS (
      SELECT side, vec_id, xs,
             CASE WHEN maxabs > 0
                  THEN list_transform(
                         xs, x -> CAST(FLOOR(x / maxabs * 127 + 0.5) AS DOUBLE))
                  ELSE list_transform(xs, x -> CAST(0 AS DOUBLE)) END AS c
      FROM m
    ), cents AS (
      SELECT vec_id AS cid, c AS cc,
             sqrt(list_dot_product(c, c)) AS cns
      FROM codes WHERE vec_id < 16
    ), assign AS (
      SELECT side, vec_id, cid FROM (
        SELECT e.side, e.vec_id, ct.cid,
               ROW_NUMBER() OVER (
                 PARTITION BY e.side, e.vec_id
                 ORDER BY -(list_dot_product(e.c, ct.cc) / ct.cns) ASC,
                          ct.cid ASC) AS rn
        FROM codes e CROSS JOIN cents ct)
      WHERE rn = 1
    ), tr AS (
      SELECT a.vec_id, a.cid AS cell, b.xs
      FROM assign a JOIN u b ON b.side = a.side AND b.vec_id = a.vec_id
      WHERE a.side = 't'
    ), ev AS (
      SELECT a.vec_id, a.cid AS cell, b.xs
      FROM assign a JOIN u b ON b.side = a.side AND b.vec_id = a.vec_id
      WHERE a.side = 'e'
    ), hits AS (
      SELECT t.vec_id,
             COUNT(*) AS n_eval_hits,
             MAX(sim) AS max_eval_sim
      FROM (
        SELECT t.vec_id,
               ROUND(list_dot_product(t.xs, e.xs) /
                     (sqrt(list_dot_product(t.xs, t.xs)) *
                      sqrt(list_dot_product(e.xs, e.xs))), 4) AS sim
        FROM tr t JOIN ev e ON e.cell = t.cell
        -- zero-norm guard (ADVICE r11): mirror the Spark side's
        -- __cfn > 0 AND __en > 0 filter — DuckDB's NaN orders above
        -- every number, so an unguarded 0/0 would pair a zero vector
        -- with everything on the oracle side only
        WHERE list_dot_product(t.xs, t.xs) > 0
          AND list_dot_product(e.xs, e.xs) > 0) t
      WHERE sim >= 0.95
      GROUP BY t.vec_id
    )
    SELECT tr.vec_id, CAST(tr.cell AS INT) AS cell,
           CAST(COALESCE(h.n_eval_hits, 0) AS BIGINT) AS n_eval_hits,
           COALESCE(h.max_eval_sim, 0.0) AS max_eval_sim,
           CAST(CASE WHEN COALESCE(h.n_eval_hits, 0) > 0 THEN 1 ELSE 0 END
                AS INT) AS contaminated
    FROM tr LEFT JOIN hits h ON h.vec_id = tr.vec_id
    """


@register("curation_semantic_decontaminate", _SEMANTIC_DECON_ORACLE)
def curation_semantic_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X-cur SEMANTIC eval decontamination
    (operators.similarity.semantic_decontaminate_int8, round 11): the
    embedding-space sibling of curation_decontaminate (shingles) and
    curation_decontaminate_spans (verbatim spans) — a train vector
    within rounded cosine 0.95 of ANY eval vector (vec_id % 7 = 0, the
    capstone's eval convention) is contaminated even with zero n-gram
    overlap. Both sides cell-assign on the deterministic 16-centroid
    int8 codebook and only same-cell train×eval pairs are scored; the
    train side carries 12 PLANTED perturbed copies of eval vectors
    (1.01·x + 0.001 as float32, derived identically in the oracle) so
    the contamination path is externally exercised — the natural
    train↔eval max cosine is ~0.46. Output is TOTAL over train
    (n_eval_hits / max_eval_sim / contaminated, null-safe zeros), so
    the whole probe hash-checks in DuckDB."""
    e = load_table(spark, sf_dir, "embeddings")
    ev = e.filter(F.col("vec_id") % 7 == 0).select("vec_id", "embedding")
    planted = (
        e.filter((F.col("vec_id") % 7 == 0) & (F.col("vec_id") < 84))
        .select(
            (F.col("vec_id") + 9000000).alias("vec_id"),
            F.transform(
                F.col("embedding"),
                lambda x: (x * F.lit(1.01) + F.lit(0.001)).cast("float"),
            ).alias("embedding"),
        )
    )
    train = (
        e.filter(F.col("vec_id") % 7 != 0)
        .select("vec_id", "embedding")
        .unionByName(planted)
    )
    cent_rows = (
        sim_ops.quantize_embeddings(e.filter(F.col("vec_id") < 16), "vec_id")
        .select("vec_id", "codes")
        .collect()
    )
    centroid_codes = [
        (int(r["vec_id"]), [int(x) for x in r["codes"]])
        for r in sorted(cent_rows, key=lambda r: r["vec_id"])
    ]
    # anti-hollow trailing filter: keeps the hits left-join (and the
    # cell probe join behind it) under bench's count()
    return sim_ops.semantic_decontaminate_int8(
        train, ev, centroid_codes, eps=0.95
    ).filter(F.col("n_eval_hits") >= 0)


@register("dedup_semdedup_incremental", _SEMDEDUP_ORACLE)
def dedup_semdedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X9 incremental SemDeDup lifecycle
    (operators.similarity.semdedup_int8_delta, round 11): batch-dedup
    the OLD corpus (vec_id % 5 != 0), persist the flag table and the
    float vectors as parquet artifacts, reload both, then fold in the
    DELTA (vec_id % 5 == 0 plus the 12 planted near-duplicates) by
    scoring ONLY delta×old and delta×delta same-cell pairs — ~|Δ|/n of
    the batch pair work. Drops are monotone under corpus growth (adding
    vectors only adds pairs), so the incremental result is BIT-IDENTICAL
    to the batch rerun on the union: this entry shares
    dedup_semdedup_int8's oracle VERBATIM, so the driver externally
    proves incremental == batch, not just that the query runs."""
    e = load_table(spark, sf_dir, "embeddings")
    planted = e.filter(F.col("vec_id") < 12).select(
        (F.col("vec_id") + 9000000).alias("vec_id"),
        F.transform(
            F.col("embedding"),
            lambda x: (x * F.lit(1.01) + F.lit(0.001)).cast("float"),
        ).alias("embedding"),
    )
    old = e.filter(F.col("vec_id") % 5 != 0).select("vec_id", "embedding")
    delta = (
        e.filter(F.col("vec_id") % 5 == 0)
        .select("vec_id", "embedding")
        .unionByName(planted)
    )
    cent_rows = (
        sim_ops.quantize_embeddings(e.filter(F.col("vec_id") < 16), "vec_id")
        .select("vec_id", "codes")
        .collect()
    )
    centroid_codes = [
        (int(r["vec_id"]), [int(x) for x in r["codes"]])
        for r in sorted(cent_rows, key=lambda r: r["vec_id"])
    ]
    root = _scratch_dir("snowfall-semdd-")
    sim_ops.semdedup_int8(
        old, centroid_codes, eps=0.95, coarse_eps=0.93
    ).write.mode("overwrite").parquet(root + "/flags")
    old.write.mode("overwrite").parquet(root + "/vectors")
    flagged_old = spark.read.parquet(root + "/flags")
    old_v = spark.read.parquet(root + "/vectors")
    return sim_ops.semdedup_int8_delta(
        flagged_old, old_v, delta, centroid_codes, eps=0.95, coarse_eps=0.93
    ).filter(F.col("is_dup") >= 0)
