"""Deduplication operators (X1/X2 — the LLM-data-pipeline surface).

Exact dedup is a hash groupBy; near-dup comes in three flavors, all
shuffle-bounded:

- **MinHash + LSH banding**: per-token crc32 → rolling-combine shingle
  hashes → 64 affine-permutation minima → band signatures → self-join on
  (band, signature) buckets. Candidate pairs are verified with the real
  Jaccard estimate. No pairwise O(n²) anywhere — the only shuffle keys are
  band signatures, and bucket skew (a degenerate signature shared by
  everything) is capped by ``max_bucket`` salting-style truncation.
- **SimHash**: 64-bit weighted-token fingerprint; near-dups have small
  Hamming distance. Banding over 4×16-bit chunks gives the same
  join-on-bucket scale shape.
- **n-gram Jaccard verify**: exact pairwise similarity, but only applied to
  LSH candidate pairs (never all pairs).

Base hashing is crc32 (identical in the JVM and zlib); the signature fold
runs either fully JVM-side (agg/expression forms) or vectorized over Arrow
batches (the default, ~8× faster) — the forms are bit-identical.
"""

from __future__ import annotations

import uuid
from collections.abc import Sequence

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ._util import ensure_parallelism

#: Mersenne prime 2^31-1. MinHash uses the classic "one base hash, many
#: affine permutations" family (as in datasketch): h_i(x) = (a_i·h(x) +
#: b_i) mod p over a single base shingle hash h. Each affine map with
#: a_i ≠ 0 is a permutation of GF(p), and every intermediate product stays
#: ≤ 2^62 — safe under Spark 4's ANSI overflow checking.
_MERSENNE_P = 2147483647

#: Cap on permutations generated by :func:`_perm_constants` (prefix-sliced
#: so num_hashes=64 and =128 share the same first 64 permutations).
_MAX_HASHES = 256

#: Fixed odd mixing constants < 2^28 for the rolling n-gram combine
#: (h = Σ_j c_j·t_{i+j} mod p): an 8-term combine of 2^28·2^31 products
#: stays < 2^62. Window length (= shingle_n) is capped by this list.
_COMBINE_CS = [
    268435399, 268435367, 268435331, 268435313,
    268435291, 268435273, 268435243, 268435183,
]


def _materialize(df: DataFrame, mode: str = "local", path: str | None = None) -> DataFrame:
    """Materialize a multiply-consumed subplan and truncate its lineage.

    - ``"persist"``: ``persist(MEMORY_AND_DISK)`` — lazy compute-once for
      multi-consumer subplans, NO lineage truncation. The cheapest tier
      (no driver-blocking materialization, no RDD conversion: A/B at
      sf0.1 measured ~1.0s vs ~2.8s median for localCheckpoint on the
      minhash signature frame) — the default wherever the plan is NOT
      iterative; iterative algorithms need real truncation (below) or the
      plan grows per round. CAVEAT (measured round 12): lazy persist
      only dedupes work once the cache is POPULATED — when one action
      submits several stages that consume the cached frame CONCURRENTLY
      (a deep multi-stage composition), each racing stage recomputes the
      full upstream before any block lands ("Block rdd_N already exists"
      warnings; the six-stage capstone paid ~8× its staged cost). Use
      ``"eager"`` at such barriers.
    - ``"eager"``: ``persist(MEMORY_AND_DISK)`` + an immediate
      ``count()`` — populates the cache BEFORE downstream consumers are
      planned, so concurrent stages read blocks instead of racing to
      recompute them. Costs one extra (cache-backed, cheap) job per
      barrier; the capstone's one-action wall dropped ~70 s → ~8 s at
      sf0.1 when its three barriers switched from lazy persist.
    - ``"local"``: ``localCheckpoint(eager=True)`` — truncates lineage;
      blocks live on executors; LOST on executor failure (the job fails
      and must re-run). Right for iterative loops in benches/short jobs
      where re-running beats replication.
    - ``"reliable"``: ``checkpoint(eager=True)`` to the session's
      checkpoint dir (set one via ``sparkContext.setCheckpointDir`` on a
      fault-tolerant FS; a local fallback is configured if unset) —
      survives executor loss. Right for long 100 TB runs.
    - ``"table"``: write parquet to ``path`` and read it back — survives
      cluster restart and is reusable/inspectable across jobs; also the
      only mode whose result partitioning is stable across retries.
    - ``"none"``: return the plan unchanged (each consumer recomputes).

    What the planner sees of the result's size differs by tier, and it
    decides the strategy of every join against it. ``"persist"`` once
    its cache is populated, ``"eager"`` and ``"table"`` report a measured
    size (the cached blocks, the written files). ``"local"`` and
    ``"reliable"`` report the optimizer's pre-execution estimate of the
    plan they replaced, which join estimates multiply: the 457-row
    connected-components labels of the corpus benchmark at seed 1 report
    487 PiB. A caller that knows the row count can hint the size itself
    (:func:`_sized_for_planner`).
    """
    if mode == "none":
        return df
    if mode in ("persist", "eager"):
        from pyspark import StorageLevel

        from ._util import track_persist

        out = track_persist(df.persist(StorageLevel.MEMORY_AND_DISK))
        if mode == "eager":
            out.count()
        return out
    if mode == "local":
        return df.localCheckpoint(eager=True)
    if mode == "reliable":
        sc = df.sparkSession.sparkContext
        if sc._jsc.sc().getCheckpointDir().isEmpty():
            sc.setCheckpointDir(
                df.sparkSession.conf.get("spark.local.dir", "/tmp")
                + "/snowfall-reliable-checkpoints"
            )
        return df.checkpoint(eager=True)
    if mode == "table":
        if path is None:
            import tempfile

            path = tempfile.mkdtemp(prefix="snowfall-ckpt-") + "/step"
        df.write.mode("overwrite").parquet(path)
        return df.sparkSession.read.parquet(path)
    raise ValueError(f"unknown checkpoint mode {mode!r}")


def _perm_constants(num_hashes: int):
    """(a_i, b_i) permutation constants as int64 numpy arrays — seeded,
    prefix-stable, shared by every signature form so they stay
    bit-identical."""
    import numpy as np

    if num_hashes > _MAX_HASHES:
        raise ValueError(f"num_hashes {num_hashes} > {_MAX_HASHES}")
    rng = np.random.RandomState(0x5EED)
    a = rng.randint(1, _MERSENNE_P, _MAX_HASHES).astype(np.int64)
    b = rng.randint(0, _MERSENNE_P, _MAX_HASHES).astype(np.int64)
    return a[:num_hashes], b[:num_hashes]


def exact_dedup(
    df: DataFrame,
    keys: list[str],
    order_col: str,
) -> DataFrame:
    """X1 exact dedup, deterministic survivor: keep the row with the lowest
    ``order_col`` per key group (a ``dropDuplicates`` whose survivor is
    defined, so results are stable and oracle-checkable).

    Scale: one shuffle on the dedup key; row_number streams each sorted
    group — no buffering.
    """
    from pyspark.sql import Window

    w = Window.partitionBy(*keys).orderBy(F.asc(order_col))
    return (
        df.withColumn("__rn", F.row_number().over(w)).filter(F.col("__rn") == 1).drop("__rn")
    )


def keep_best(
    df: DataFrame,
    keys: list[str],
    order_by: list[F.Column],
) -> DataFrame:
    """X1 exact dedup with a POLICY survivor: keep the first row per key
    group under an arbitrary total order (e.g. ``[quality.desc(),
    id.asc()]`` — the keep-the-best-copy rule every production dedup
    ends up needing once a quality signal exists; :func:`exact_dedup`'s
    min-id survivor is the ``[id.asc()]`` special case). The caller owns
    making ``order_by`` total (append an id tiebreak) — that is what
    keeps the survivor deterministic and oracle-checkable.

    Scale: identical shape to :func:`exact_dedup` — one shuffle on the
    dedup key, row_number streams each sorted group, no buffering."""
    from pyspark.sql import Window

    w = Window.partitionBy(*keys).orderBy(*order_by)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def shingles(col: str, n: int = 3) -> F.Column:
    """Word n-gram shingle set of a text column (distinct, JVM-side):
    lowercases, splits on whitespace, slides an n-window.

    The window slides as a zip_with concat chain over shifted slices — NOT
    ``transform(idx, i -> concat_ws(slice(toks, i+1, n)))``: an outer
    expression referenced inside a lambda is inlined and re-evaluated per
    element, so the indexed form re-runs the regex split per shingle
    (O(tokens²) per doc — the pathology measured 19× on bigram_lm). Here
    the split evaluates n times per row (once per shifted slice)."""
    toks = F.split(F.lower(F.trim(F.col(col))), r"\s+")
    k = F.greatest(F.size(toks) - F.lit(n - 1), F.lit(0))
    acc = F.slice(toks, 1, k)
    for j in range(1, n):
        acc = F.zip_with(
            acc, F.slice(toks, j + 1, k), lambda a, t: F.concat(a, F.lit(" "), t)
        )
    return F.array_distinct(
        F.when(k > 0, acc).otherwise(F.array(F.concat_ws(" ", toks)))
    )


def token_hashes(
    col: str | F.Column, p: int = _MERSENNE_P, hash: str = "crc32"
) -> F.Column:
    """Per-token base hashes (JVM, O(tokens)): lowercase, whitespace split,
    then one of two base hash families mod p:

    - ``"crc32"`` (default, fastest): crc32 of the utf-8 bytes. crc32 —
      not xxhash64 — because zlib computes the identical function
      Python-side, and hashing each token ONCE then combining windows
      arithmetically is ~5× cheaper than building and hashing every
      shingle STRING (measured at sf0.1: 0.36s vs ~3s warm for the
      concat_ws+slice shingle build).
    - ``"md5"`` (portable): first 8 hex digits of md5(token) as a bigint —
      the repo-wide cross-engine hash discipline (curation.portable_hash),
      so every downstream minhash signature/band/candidate is computable
      verbatim in DuckDB/Trino SQL (VERDICT r07 #2: this is what earns the
      near-dup family its full oracle). ~2× the hash cost of crc32 —
      choose it when external reproducibility matters more than the hash
      microcost.
    """
    c = F.col(col) if isinstance(col, str) else col
    toks = F.split(F.lower(F.trim(c)), r"\s+")
    if hash == "crc32":
        return F.transform(
            toks, lambda t: F.pmod(F.crc32(F.encode(t, "utf-8")), F.lit(p))
        )
    if hash == "md5":
        return F.transform(
            toks,
            lambda t: F.pmod(
                F.conv(F.substring(F.md5(t), 1, 8), 16, 10).cast("bigint"), F.lit(p)
            ),
        )
    raise ValueError(f"hash must be 'crc32' or 'md5', got {hash!r}")


def shingle_hashes(
    col: str | F.Column, n: int = 3, hash: str = "crc32"
) -> F.Column:
    """Hashes of word n-gram shingles WITHOUT materializing shingle
    strings: :func:`token_hashes`, then a rolling linear combine over each
    n-window (h_i = Σ_j c_j·t_{i+j} mod p). Docs with < n tokens get one
    pseudo-shingle folding all their tokens (mirrors :func:`shingles`'s
    whole-text fallback, so every doc yields ≥ 1 element and survives
    explode). Duplicates are NOT removed — minhash minima ignore them."""
    if n > len(_COMBINE_CS):
        raise ValueError(f"shingle_n {n} > {len(_COMBINE_CS)}")
    p = F.lit(_MERSENNE_P)
    cs = _COMBINE_CS
    th = token_hashes(col, hash=hash)
    k = F.size(th) - F.lit(n - 1)
    kk = F.greatest(k, F.lit(0))

    # windows build as n-1 zip_withs over shifted slices — NOT
    # transform(sequence(1,k), i -> element_at(th, i+j)): an outer
    # expression referenced inside a lambda is inlined and re-evaluated
    # per element, so the indexed form re-runs the split+crc32 chain per
    # shingle — O(tokens²) per doc (same pathology measured 19× on
    # text.bigram_lm). slice() takes th as a direct argument → the token
    # hashes evaluate n times per ROW, not per shingle. Each partial sum
    # stays < n·2^28·2^31 ≤ 2^62 before the final pmod (see _COMBINE_CS).
    def _step(c: int):
        return lambda a, x: a + x * F.lit(c)

    acc = F.transform(F.slice(th, 1, kk), lambda x: x * F.lit(cs[0]))
    for j in range(1, n):
        acc = F.zip_with(acc, F.slice(th, j + 1, kk), _step(cs[j]))
    windows = F.transform(acc, lambda a: F.pmod(a, p))

    fold = F.aggregate(
        F.slice(th, 2, F.greatest(F.size(th) - 1, F.lit(0))),
        F.pmod(F.element_at(th, 1) * F.lit(cs[0]), p),
        lambda acc, x: F.pmod(acc * F.lit(cs[1]) + F.pmod(x * F.lit(cs[0]), p), p),
    )
    return F.when(k > 0, windows).otherwise(F.array(fold))


def minhash_signature(shingle_hash_col: F.Column, num_hashes: int = 64) -> F.Column:
    """Minhash signature as a single expression (streaming-friendly form)
    over a :func:`shingle_hashes` column: ``num_hashes`` affine
    permutations, array_min each — no shuffle, no Python. The slow-but-
    expression-only path; batch jobs use :func:`minhash_signatures_arrow`."""
    a, b = _perm_constants(num_hashes)
    p = F.lit(_MERSENNE_P)

    def perm(i: int):
        return lambda h: F.pmod(h * F.lit(int(a[i])) + F.lit(int(b[i])), p)

    return F.array(
        *[
            F.array_min(F.transform(shingle_hash_col, perm(i)))
            for i in range(num_hashes)
        ]
    )


def minhash_signatures_agg(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 64,
    shingle_n: int = 3,
    hash: str = "crc32",
) -> DataFrame:
    """Minhash signatures via explode + grouped min-aggregation — the
    pure-JVM formulation for deployments that can't run Python workers:
    shingle hashes explode to rows and ``num_hashes`` partial-aggregable
    ``min``s reduce per document (map-side combine ⇒ the shuffle carries
    only (id, 64 longs), never text). Bit-identical to
    :func:`minhash_signatures_arrow` (pinned in tests)."""
    a, b = _perm_constants(num_hashes)
    p = F.lit(_MERSENNE_P)
    df = ensure_parallelism(df, id_col)
    exploded = df.select(
        F.col(id_col).alias("__id"),
        F.explode(shingle_hashes(text_col, shingle_n, hash=hash)).alias("__h"),
    )
    mins = exploded.groupBy("__id").agg(
        *[
            F.min(F.pmod(F.col("__h") * F.lit(int(a[i])) + F.lit(int(b[i])), p)).alias(
                f"__m{i}"
            )
            for i in range(num_hashes)
        ]
    )
    return mins.select(
        "__id", F.array(*[F.col(f"__m{i}") for i in range(num_hashes)]).alias("__sig")
    )


def minhash_signatures_arrow(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 64,
    shingle_n: int = 3,
    hash: str = "crc32",
) -> DataFrame:
    """Minhash signatures per-row in ONE Arrow pass — the default path.

    The JVM side does only the O(tokens) work (split + per-token crc32);
    the rolling n-gram combine and the ``num_hashes`` permutation minima
    run vectorized over the WHOLE Arrow batch in numpy: all rows' token
    hashes concatenate into one flat array, shingle hashes are shifted-
    slice arithmetic on it, and per-row minima come from one
    ``np.minimum.reduceat`` per ~64k-hash chunk — no per-row Python loop,
    no shuffle: signatures materialize in the scan stage itself. Measured
    ~8× faster than the previous shingle-string build at sf0.1 (0.5s vs
    4.0s warm). Bit-identical to :func:`minhash_signatures_agg`."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    a, b = _perm_constants(num_hashes)
    A, B = a[:, None], b[:, None]
    cs = np.array(_COMBINE_CS[:shingle_n], dtype=np.int64)
    n = shingle_n
    P = _MERSENNE_P
    CHUNK = 1 << 16  # peak temp: num_hashes × CHUNK × 8B = 32 MB per worker

    @pandas_udf("array<long>")
    def sig_udf(hs: pd.Series) -> pd.Series:
        n_rows = len(hs)
        out = [None] * n_rows
        rows = [
            (r, np.asarray(v, dtype=np.int64))
            for r, v in enumerate(hs)
            if v is not None
        ]
        if not rows:
            return pd.Series(out, dtype=object)
        idxs = np.array([r for r, _ in rows])
        lens = np.array([len(v) for _, v in rows], dtype=np.int64)
        flat = np.concatenate([v for _, v in rows])
        starts = np.concatenate(([0], np.cumsum(lens)))
        total = starts[-1]
        sigs = np.empty((len(rows), num_hashes), dtype=np.int64)
        sh_counts = np.maximum(lens - (n - 1), 0)
        if total >= n:
            # rolling combine in flat space; drop row-crossing windows
            comb = sum(flat[j : total - (n - 1) + j] * cs[j] for j in range(n)) % P
            pos = np.arange(total - (n - 1))
            row_of = np.searchsorted(starts, pos, side="right") - 1
            vcomb = comb[(pos + (n - 1)) < starts[row_of + 1]]
            offs = np.concatenate(([0], np.cumsum(sh_counts)))
            have = np.flatnonzero(sh_counts > 0)
            bounds = np.concatenate((offs[have], [len(vcomb)]))
            i = 0
            while i < len(have):
                j = i + 1
                while j < len(have) and bounds[j + 1] - bounds[i] <= CHUNK:
                    j += 1
                seg = vcomb[bounds[i] : bounds[j]]
                h = (A * seg[None, :] + B) % P
                sigs[have[i:j]] = np.minimum.reduceat(
                    h, (bounds[i:j] - bounds[i]).astype(np.intp), axis=1
                ).T
            # fallthrough rows (< n tokens) handled below
                i = j
        for r in np.flatnonzero(sh_counts == 0):
            h = flat[starts[r] : starts[r + 1]]
            v = int(h[0] * cs[0] % P) if h.size else 0
            for x in h[1:]:
                v = int((v * cs[1] + x * cs[0] % P) % P)
            sigs[r] = (A[:, 0] * v + B[:, 0]) % P
        for k, r in enumerate(idxs):
            out[r] = sigs[k]
        return pd.Series(out, dtype=object)

    return df.select(
        F.col(id_col).alias("__id"),
        sig_udf(token_hashes(text_col, hash=hash)).alias("__sig"),
    )


def cdc_chunks(
    df: DataFrame,
    id_col: str,
    text_col: str,
    boundary_mod: int = 32,
) -> DataFrame:
    """Content-defined chunking (CDC) — the sub-document dedup primitive:
    split each document at content-determined token boundaries (a token is
    a boundary when its portable md5-prefix hash ≡ 0 mod ``boundary_mod``),
    so shared passages chunk IDENTICALLY regardless of where they sit in a
    document — unlike fixed-width chunking, insertions only perturb the
    chunk containing them (the rsync/LBFS boundary trick applied to text).

    Returns (id, chunk_id, n_tokens, fingerprint): md5 chunk fingerprints
    feed exact dedup / frequency counts to find boilerplate passages
    repeated across documents. Expected chunk length ≈ ``boundary_mod``
    tokens.

    Scale shape: posexplode to (doc, pos, token) — the one heavy move —
    then a per-doc running sum of boundary flags assigns chunk ids and one
    groupBy folds chunks back. Both shuffle keys are doc-grained (high
    cardinality, skew-free). The hash is engine-portable (md5 prefix, like
    curation.portable_hash), so chunk fingerprints are reproducible
    outside Spark."""
    from pyspark.sql import Window

    toks = F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
    tok = df.select(
        F.col(id_col), F.posexplode(toks).alias("__pos", "__w")
    ).filter(F.col("__w") != "")
    is_boundary = (
        F.conv(F.substring(F.md5(F.col("__w")), 1, 8), 16, 10).cast("bigint")
        % boundary_mod
        == 0
    ).cast("int")
    w = (
        Window.partitionBy(id_col)
        .orderBy(F.asc("__pos"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    chunked = tok.withColumn("chunk_id", F.sum(is_boundary).over(w))
    return (
        chunked.groupBy(id_col, "chunk_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.md5(
                F.concat_ws(
                    " ",
                    F.transform(
                        F.array_sort(
                            F.collect_list(F.struct(F.col("__pos"), F.col("__w")))
                        ),
                        lambda s: s.getField("__w"),
                    ),
                )
            ).alias("fingerprint"),
        )
    )


def substring_spans(
    df: DataFrame,
    id_col: str,
    text_col: str,
    min_tokens: int = 50,
    max_anchor_docs: int | None = None,
    hash_mode: str = "md5",
    anchors: DataFrame | None = None,
) -> DataFrame:
    """Exact cross-document SUBSTRING dedup (the Lee et al. 2022
    "Deduplicating Training Data" granularity): every maximal verbatim
    token span of length ≥ ``min_tokens`` shared between two documents —
    (doc_a, doc_b, start_a, start_b, span_tokens), doc_a < doc_b,
    1-based token positions. Document-level dedup (exact/minhash) misses
    a 200-token quote pasted into otherwise-distinct pages; this finds
    it exactly.

    Anchor-run merging: position p of a doc anchors the md5 of its
    ``min_tokens``-token window. Two docs share a verbatim span of
    S ≥ min_tokens tokens iff they share S−min_tokens+1 CONSECUTIVE
    anchors on one alignment diagonal (pos_a − pos_b constant), so
    maximal spans are exactly the maximal step-1 runs per (pair,
    diagonal) — the classic gaps-and-islands ``pos − row_number`` group,
    with span_tokens = run_len + min_tokens − 1. Every step (md5 of the
    space-joined token slice, the diagonal, the run grouping) is
    engine-portable ⇒ the whole operator earns a DuckDB oracle.

    Scale shape: the anchor table is (doc, pos, 32-byte fp) — one narrow
    explode; the only wide shuffle keys on the fingerprint (the
    equi-join), then one (pair, diagonal)-keyed window + groupBy, all
    high-cardinality skew-free keys. Hashing cost is O(n·min_tokens)
    bytes JVM-side in the default ``hash_mode="md5"`` (the portability
    price — it earns the DuckDB oracle); ``hash_mode="poly"`` is the
    O(n) Karp–Rabin fast path (identical spans absent a 64-bit
    collision — see :func:`substring_anchor_index`). The
    quadratic hazard is a BOILERPLATE anchor shared by k docs (k² join
    pairs — same territory as ``minhash_candidates.max_bucket``):
    ``max_anchor_docs`` drops fingerprints seen in more than that many
    DISTINCT documents before the join — for dedup purposes those are
    exactly the boilerplate spans :func:`cdc_chunks`'s frequency report
    already surfaces; the default ``None`` stays exact (what the gated
    oracle pins).

    ``anchors=`` (round 18) accepts a prebuilt/materialized
    :func:`substring_anchor_index` frame over the SAME ``df`` (anchor
    rows are a per-doc property, so a materialized index also serves any
    doc-subset via an id semi-join) — a multi-stage pipeline scanning
    the same corpus at one window width then pays the O(n·W) hashing
    pass once (the span capstones share stage-3/stage-4 anchors this
    way). Width/hash-mode mismatches are refused via the ``__fp``
    metadata check."""
    if anchors is None:
        anchors = substring_anchor_index(
            df, id_col, text_col, min_tokens, hash_mode
        )
    else:
        _check_anchor_width(anchors, min_tokens, hash_mode)
    anchors = _drop_hot_anchors(anchors, max_anchor_docs)
    a, b = anchors.alias("a"), anchors.alias("b")
    matches = a.join(
        b,
        (F.col("a.__fp") == F.col("b.__fp"))
        & (F.col("a.__id") < F.col("b.__id")),
    ).select(
        F.col("a.__id").alias("doc_a"),
        F.col("b.__id").alias("doc_b"),
        F.col("a.__pos").alias("pos_a"),
        F.col("b.__pos").alias("pos_b"),
    )
    return _merge_anchor_runs(matches, min_tokens)


def intra_doc_spans(
    df: DataFrame,
    id_col: str,
    text_col: str,
    min_tokens: int = 50,
    hash_mode: str = "md5",
    max_anchor_occurrences: int | None = None,
) -> DataFrame:
    """WITHIN-document repetition spans (round 10): every maximal
    verbatim token span of length ≥ ``min_tokens`` that occurs at TWO
    positions inside the same document — (doc_id, start_a, start_b,
    span_tokens) with start_a < start_b. The within-doc half of the Lee
    et al. 2022 dedup recipe (:func:`substring_spans` is the
    cross-document half): a page that repeats its own paragraph, a
    template that stamps the same block twice — document- and
    cross-doc-level dedup both miss it.

    Same machinery as the cross-doc operator — the anchor index
    self-joined on the fingerprint, restricted to SAME id and
    pos_a < pos_b, then the identical per-diagonal gaps-and-islands run
    merge (the diagonal pos_a − pos_b < 0 is constant along a repeat
    pair). Overlapping self-repeats (period-p tandem repeats shorter
    than the window) surface as one maximal run per diagonal, exactly
    the cross-doc semantics restricted to a self-pair.

    Scale shape: the fingerprint self-join keys carry the doc id, so
    matching is DOC-LOCAL — the cross-doc boilerplate k² hazard
    (``max_anchor_docs``'s territory) cannot arise. The WITHIN-doc
    multiplicity hazard CAN (VERDICT r10 #1): a doc whose one window
    fingerprint occurs k times inside the SAME document emits k(k−1)/2
    self-join pairs, all colocated in one task — a degenerate doc of one
    token repeated L times is O(L²) in that single doc's length, exactly
    the spammy token-repetition page this operator exists to catch.
    ``max_anchor_occurrences`` is the degrade knob: (doc, fp) groups
    with more than that many occurrences are dropped BEFORE the
    self-join (their spans vanish from the report — for the filtering
    use case those docs are flagged by
    :func:`self_repetition_coverage`'s short-circuit instead, which is
    the honest signal for them). The default ``None`` stays exact (what
    the gated oracle pins). Everything else is span-table-sized.
    Engine-portable ⇒ full DuckDB oracle."""
    anchors = substring_anchor_index(df, id_col, text_col, min_tokens, hash_mode)
    anchors, _degen = _cap_hot_occurrences(anchors, max_anchor_occurrences)
    return _intra_spans_from_anchors(anchors, min_tokens).select(
        F.col("doc_a").alias(id_col), "start_a", "start_b", "span_tokens"
    )


def _cap_hot_occurrences(
    anchors: DataFrame, max_anchor_occurrences: int | None
) -> tuple[DataFrame, DataFrame | None]:
    """Within-document multiplicity cap shared by the intra-doc span
    operators (VERDICT r10 #1, the per-(doc, fp) analogue of
    :func:`_drop_hot_anchors`): drop (doc, fp) anchor groups whose
    occurrence count inside ONE document exceeds
    ``max_anchor_occurrences``, bounding the doc-local self-join at
    m(m−1)/2 pairs per fingerprint. Returns ``(capped_anchors,
    degenerate_doc_ids)`` — the second frame (one ``__id`` column,
    distinct; ``None`` when the cap is off) lists every doc that had at
    least one over-cap fingerprint, so callers can short-circuit those
    docs to the semantically honest degrade (a doc whose single window
    repeats >m times IS self-repetition by construction)."""
    if max_anchor_occurrences is None:
        return anchors, None
    hot = (
        anchors.groupBy("__id", "__fp")
        .agg(F.count(F.lit(1)).alias("__n"))
        .filter(F.col("__n") > max_anchor_occurrences)
        .select("__id", "__fp")
    )
    capped = anchors.join(hot, ["__id", "__fp"], "left_anti")
    return capped, hot.select("__id").distinct()


def _intra_spans_from_anchors(anchors: DataFrame, min_tokens: int) -> DataFrame:
    """Anchor table → within-doc maximal spans (doc_a, doc_b=doc_a,
    start_a, start_b, span_tokens): the self-join + run-merge core of
    :func:`intra_doc_spans`, factored out so
    :func:`self_repetition_coverage` reuses one anchor scan for both the
    occurrence cap and the span table."""
    a, b = anchors.alias("a"), anchors.alias("b")
    matches = a.join(
        b,
        (F.col("a.__fp") == F.col("b.__fp"))
        & (F.col("a.__id") == F.col("b.__id"))
        & (F.col("a.__pos") < F.col("b.__pos")),
    ).select(
        F.col("a.__id").alias("doc_a"),
        F.col("b.__id").alias("doc_b"),
        F.col("a.__pos").alias("pos_a"),
        F.col("b.__pos").alias("pos_b"),
    )
    return _merge_anchor_runs(matches, min_tokens)


def self_repetition_coverage(
    df: DataFrame,
    id_col: str,
    text_col: str,
    min_tokens: int = 50,
    round_digits: int = 4,
    hash_mode: str = "md5",
    max_anchor_occurrences: int | None = None,
) -> DataFrame:
    """Per-document SELF-repetition coverage — the quality-filter signal
    on top of :func:`intra_doc_spans` (the exact-span analogue of the
    Gopher/MassiveText repetition rules): for every document, how many
    of its tokens sit inside at least one ≥ ``min_tokens``-token span
    that also occurs elsewhere in the SAME document. Returns
    (id, n_tokens, rep_tokens, rep_frac) for ALL documents — the column
    a curation pipeline thresholds on ("drop documents that are mostly
    their own boilerplate").

    Both occurrences of a repeat count as covered (the reader sees the
    text twice); overlap/containment collapse through the shared
    interval-union kernel so no token double-counts. Doc-grained keys
    throughout ⇒ skew-free; integer arithmetic ⇒ full SQL oracle.

    ``max_anchor_occurrences`` (VERDICT r10 #1) bounds the inherited
    degenerate-doc O(L²) self-join: over-cap (doc, fp) groups skip the
    join, and any doc owning one SHORT-CIRCUITS to rep_tokens =
    n_tokens, rep_frac = 1.0 — the semantically honest degrade for the
    filtering use case, since a window fingerprint repeating more than m
    times inside one document is self-repetition by construction (for
    the threshold consumer the doc is dropped either way; only the exact
    fraction is forfeited). Default ``None`` stays exact (what the gated
    oracle pins). The streaming twin
    (``streaming.documents.stream_self_repetition``) applies the SAME
    rule per duplicate-fingerprint group, so batch and stream stay
    bit-identical at equal caps."""
    anchors = substring_anchor_index(df, id_col, text_col, min_tokens, hash_mode)
    anchors, degen = _cap_hot_occurrences(anchors, max_anchor_occurrences)
    spans = _intra_spans_from_anchors(anchors, min_tokens).select(
        F.col("doc_a").alias(id_col), "start_a", "start_b", "span_tokens"
    )
    ivals = (
        spans.select(
            F.explode(
                F.array(
                    F.struct(
                        F.col(id_col).alias("__id"),
                        F.col("start_a").alias("__s"),
                        (F.col("start_a") + F.col("span_tokens") - 1).alias(
                            "__e"
                        ),
                    ),
                    F.struct(
                        F.col(id_col).alias("__id"),
                        F.col("start_b").alias("__s"),
                        (F.col("start_b") + F.col("span_tokens") - 1).alias(
                            "__e"
                        ),
                    ),
                )
            ).alias("__iv")
        )
        .select("__iv.__id", "__iv.__s", "__iv.__e")
        .distinct()
    )
    covered = union_interval_lengths(ivals)
    toks = F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
    base = df.select(
        F.col(id_col), F.size(toks).cast("bigint").alias("n_tokens")
    )
    joined = base.join(
        covered.withColumnRenamed("__id", id_col), id_col, "left"
    )
    dup = F.coalesce("dup_tokens", F.lit(0))
    if degen is not None:
        joined = joined.join(
            degen.select(
                F.col("__id").alias(id_col), F.lit(True).alias("__degen")
            ),
            id_col,
            "left",
        )
        dup = F.when(F.col("__degen"), F.col("n_tokens")).otherwise(dup)
    return joined.select(
        id_col,
        "n_tokens",
        dup.cast("bigint").alias("rep_tokens"),
        F.round(dup / F.col("n_tokens"), round_digits).alias("rep_frac"),
    )


#: Odd polynomial base for the ``"poly"`` anchor mode (the 64-bit FNV
#: prime). Odd ⇒ invertible mod 2^64, so prefix hashes normalize by the
#: modular inverse and every window fingerprint computes in O(1) from two
#: prefix values — O(n) total per document.
_POLY_B = 0x100000001B3


def _poly_roll(arr, W: int):
    """The raw single-document Karp–Rabin kernel behind
    :func:`_poly_window_fps` (and the streaming self-repetition twin):
    ``arr`` is one doc's token-hash array viewed as uint64; returns the
    int64 array of ``W``-token window fingerprints (index p ↔ 1-based
    token position p+1), empty when the doc is shorter than ``W``. Same
    math as the batched flat-space form in :func:`_poly_window_fps`
    (which concatenates rows for throughput); equality of the two paths
    is pinned by the stream-vs-batch self-repetition parity test."""
    import numpy as np

    B = np.uint64(_POLY_B)
    BINV = np.uint64(pow(_POLY_B, -1, 2**64))
    n = int(arr.size)
    if n < W:
        return np.empty(0, np.int64)
    pw = np.ones(n, dtype=np.uint64)
    pwinv = np.ones(n, dtype=np.uint64)
    if n > 1:
        np.cumprod(np.full(n - 1, B, dtype=np.uint64), out=pw[1:])
        np.cumprod(np.full(n - 1, BINV, dtype=np.uint64), out=pwinv[1:])
    s = np.cumsum(arr * pwinv, dtype=np.uint64)
    s0 = np.concatenate((np.zeros(1, np.uint64), s[:-1]))
    p = np.arange(n - (W - 1))
    return ((s[p + (W - 1)] - s0[p]) * pw[p + (W - 1)]).view(np.int64)


def _poly_window_fps(W: int):
    """Arrow-batched Karp–Rabin window fingerprints (VERDICT r09 #2):
    given each row's per-token xxhash64 array, return the array of
    ``W``-token window fingerprints (index p ↔ 1-based token position
    p+1) — O(n) arithmetic per document instead of md5's O(n·W) bytes.

    Math (all uint64, natural wraparound = mod 2^64): with base B odd and
    Binv = B⁻¹ mod 2^64, t_i = h_i·Binv^i and s = prefix-sum(t); then
    fp_p = (s_{p+W-1} − s_{p-1}) · B^{p+W-1}
         = Σ_{j=p}^{p+W-1} h_j · B^{(p+W-1)-j},
    the classic polynomial window hash — one multiply per token for the
    whole document regardless of W. Vectorized over the flat
    concatenation of the batch's token-hash arrays (the
    ``minhash_signatures`` flat-space pattern): global cumsum works
    per-row because wraparound subtraction of the row-start prefix is
    exact mod 2^64."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    B = np.uint64(_POLY_B)
    BINV = np.uint64(pow(_POLY_B, -1, 2**64))

    @pandas_udf("array<long>")
    def fps_udf(hs: pd.Series) -> pd.Series:
        out = [None] * len(hs)
        rows = [
            (r, np.asarray(v, dtype=np.int64).view(np.uint64))
            for r, v in enumerate(hs)
            if v is not None
        ]
        if not rows:
            return pd.Series(out, dtype=object)
        lens = np.array([v.size for _, v in rows], dtype=np.int64)
        flat = np.concatenate([v for _, v in rows]) if lens.sum() else np.empty(0, np.uint64)
        starts = np.concatenate(([0], np.cumsum(lens)))
        total = int(starts[-1])
        max_len = int(lens.max()) if len(lens) else 0
        # B^i and Binv^i for i in [0, max_len): cumprod wraps mod 2^64
        pw = np.ones(max(max_len, 1), dtype=np.uint64)
        pwinv = np.ones(max(max_len, 1), dtype=np.uint64)
        if max_len > 1:
            np.cumprod(np.full(max_len - 1, B, dtype=np.uint64), out=pw[1:])
            np.cumprod(
                np.full(max_len - 1, BINV, dtype=np.uint64), out=pwinv[1:]
            )
        pos = np.arange(total, dtype=np.int64)
        row_of = np.searchsorted(starts, pos, side="right") - 1
        posr = pos - starts[row_of]  # position within the row
        s = np.cumsum(flat * pwinv[posr], dtype=np.uint64)
        s0 = np.concatenate((np.zeros(1, np.uint64), s[:-1]))
        # window starting at flat index p is valid iff it fits in the row
        n_w = np.maximum(lens - (W - 1), 0)
        if total >= W:
            p = pos[: total - (W - 1)]
            valid = (posr[p] + (W - 1)) < lens[row_of[p]]
            pv = p[valid]
            fps = ((s[pv + (W - 1)] - s0[pv]) * pw[posr[pv] + (W - 1)]).view(
                np.int64
            )
        else:
            fps = np.empty(0, np.int64)
        offs = np.concatenate(([0], np.cumsum(n_w)))
        for k, (r, _v) in enumerate(rows):
            out[r] = fps[offs[k] : offs[k + 1]]
        return pd.Series(out, dtype=object)

    return fps_udf


def substring_anchor_index(
    df: DataFrame,
    id_col: str,
    text_col: str,
    min_tokens: int = 50,
    hash_mode: str = "md5",
) -> DataFrame:
    """The persistable anchor table behind :func:`substring_spans`:
    (__id, __pos, __fp) — position p anchors a fingerprint of the doc's
    ``min_tokens``-token window starting there (1-based). Persist it
    partitioned/bucketed by ``__fp`` and incremental span detection
    (:func:`substring_spans_incremental`) probes it without ever
    re-reading corpus text — the same index-reuse shape as the minhash
    signature index.

    ``hash_mode`` (the minhash crc32/md5 twin discipline, VERDICT r09
    #2):

    - ``"md5"`` (default, portable): md5 of the space-joined window —
      replays verbatim in any SQL engine, which is what earns the span
      family its DuckDB oracles. Cost is O(n·W) hashed bytes per doc
      (every window re-hashes its W tokens).
    - ``"poly"`` (fast path): per-token xxhash64 (JVM, one hash per
      token) + an Arrow-batched Karp–Rabin polynomial window combine
      (:func:`_poly_window_fps`) — O(n) arithmetic per doc, W-free; at
      the default W=50 that removes a ~50× multiplier from the span
      family's dominant corpus-scan cost, and the 8-byte bigint
      fingerprint also halves-plus the anchor shuffle width vs the
      32-char md5 hex. Identical SPANS to md5 mode absent a 64-bit
      fingerprint collision (~n²·2⁻⁶⁴ for n same-diagonal windows —
      negligible on natural corpora, and pinned identical on fixtures +
      property tests); md5 remains the mode of record for external
      replay.

    A window-width OR hash-mode mismatch between index and probe would
    join NOTHING and silently report zero spans (the same silent failure
    class as probing a crc32 minhash index in md5 mode), so both ride
    the ``__fp`` column's schema METADATA — it survives parquet
    round-trips, costs nothing to carry, and probes refuse a mismatch
    instead of matching nothing."""
    W = min_tokens
    toks = F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
    if hash_mode == "md5":
        out = (
            df.select(F.col(id_col).alias("__id"), toks.alias("__arr"))
            .filter(F.size("__arr") >= W)
            .select(
                "__id",
                F.posexplode(
                    F.transform(
                        F.sequence(F.lit(1), F.size("__arr") - F.lit(W - 1)),
                        lambda i: F.md5(F.concat_ws(" ", F.slice("__arr", i, W))),
                    )
                ).alias("__p0", "__fp"),
            )
            .select("__id", (F.col("__p0") + 1).alias("__pos"), "__fp")
        )
    elif hash_mode == "poly":
        th = F.transform(toks, lambda t: F.xxhash64(t))
        out = (
            df.select(F.col(id_col).alias("__id"), th.alias("__h"))
            .filter(F.size("__h") >= W)
            .select(
                "__id",
                F.posexplode(_poly_window_fps(W)(F.col("__h"))).alias(
                    "__p0", "__fp"
                ),
            )
            .select("__id", (F.col("__p0") + 1).alias("__pos"), "__fp")
        )
    else:
        raise ValueError(f"hash_mode must be 'md5' or 'poly', got {hash_mode!r}")
    return out.withColumn(
        "__fp",
        F.col("__fp").alias(
            "__fp", metadata={"min_tokens": W, "hash_mode": hash_mode}
        ),
    )


def _check_anchor_width(
    seen_anchors: DataFrame, min_tokens: int, hash_mode: str = "md5"
) -> None:
    """Refuse a probe whose window width OR hash mode differs from what
    the index was built with (recorded in the ``__fp`` column metadata).
    Indexes persisted before a tag existed carry no metadata — those pass
    the metadata check (nothing to validate, documented rather than
    guessed) but still hit the TYPE backstop: an md5 index's string
    fingerprints can never equi-join a poly probe's bigints, so a dtype
    mismatch is refused even without tags."""
    meta = seen_anchors.schema["__fp"].metadata or {}
    built_w = meta.get("min_tokens")
    if built_w is not None and built_w != min_tokens:
        raise ValueError(
            f"anchor index was built with min_tokens={built_w} but the "
            f"probe uses min_tokens={min_tokens} — fingerprints of "
            "different widths join NOTHING, which would silently report "
            "zero spans; rebuild the index or match the probe width"
        )
    built_mode = meta.get("hash_mode")
    if built_mode is not None and built_mode != hash_mode:
        raise ValueError(
            f"anchor index was built with hash_mode={built_mode!r} but "
            f"the probe uses hash_mode={hash_mode!r} — cross-mode "
            "fingerprints join NOTHING (silent zero spans); rebuild the "
            "index or match the probe mode"
        )
    from pyspark.sql.types import StringType

    fp_type = seen_anchors.schema["__fp"].dataType
    if isinstance(fp_type, StringType) != (hash_mode == "md5"):
        raise ValueError(
            f"anchor index __fp type ({fp_type.simpleString()}) is "
            f"incompatible with probe hash_mode={hash_mode!r} — md5 "
            "fingerprints are strings, poly are bigints; they can never "
            "match"
        )


def _drop_hot_anchors(
    anchors: DataFrame, max_anchor_docs: int | None
) -> DataFrame:
    """Boilerplate-anchor cap shared by the span operators: drop
    fingerprints present in more than ``max_anchor_docs`` DISTINCT
    documents before any pair join (None = exact)."""
    if max_anchor_docs is None:
        return anchors
    hot = (
        anchors.groupBy("__fp")
        .agg(F.count_distinct("__id").alias("__nd"))
        .filter(F.col("__nd") > max_anchor_docs)
        .select("__fp")
    )
    return anchors.join(hot, "__fp", "left_anti")


def _merge_anchor_runs(matches: DataFrame, min_tokens: int) -> DataFrame:
    """Gaps-and-islands merge shared by the span operators: maximal
    step-1 anchor runs per (pair, alignment diagonal) → maximal spans.
    ``matches`` rows must be unique (doc_a, doc_b, pos_a, pos_b)."""
    from pyspark.sql import Window

    diag = (F.col("pos_a") - F.col("pos_b")).alias("__diag")
    w = Window.partitionBy("doc_a", "doc_b", "__diag").orderBy(F.asc("pos_a"))
    runs = matches.select("*", diag).withColumn(
        "__grp", F.col("pos_a") - F.row_number().over(w)
    )
    return runs.groupBy("doc_a", "doc_b", "__diag", "__grp").agg(
        F.min("pos_a").cast("bigint").alias("start_a"),
        F.min("pos_b").cast("bigint").alias("start_b"),
        (F.max("pos_a") - F.min("pos_a") + min_tokens)
        .cast("bigint")
        .alias("span_tokens"),
    ).drop("__diag", "__grp")


def union_interval_lengths(ivals: DataFrame) -> DataFrame:
    """Per-key total length of a union of integer intervals — the shared
    merge kernel behind :func:`span_coverage` and
    ``curation.decontaminate_spans``: rows (__id, __s, __e) must be
    DISTINCT; overlap and containment collapse through the running-max
    gaps-and-islands rule (new island iff __s > max(__e) over all earlier
    intervals in (__s, __e) order), adjacency stays additive. Returns
    (__id, dup_tokens). Doc-grained window + two groupBys — every key is
    high-cardinality and skew-free."""
    from pyspark.sql import Window

    w = Window.partitionBy("__id").orderBy("__s", "__e")
    prev_max = F.max("__e").over(w.rowsBetween(Window.unboundedPreceding, -1))
    island_flag = (prev_max.isNull() | (F.col("__s") > prev_max)).cast("int")
    islands = ivals.withColumn(
        "__isl",
        F.sum(island_flag).over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return (
        islands.groupBy("__id", "__isl")
        .agg((F.max("__e") - F.min("__s") + 1).alias("__len"))
        .groupBy("__id")
        .agg(F.sum("__len").alias("dup_tokens"))
    )


def substring_spans_incremental(
    new_df: DataFrame,
    seen_anchors: DataFrame,
    id_col: str,
    text_col: str,
    min_tokens: int = 50,
    max_anchor_docs: int | None = None,
    hash_mode: str = "md5",
) -> DataFrame:
    """Incremental substring-span detection — the rolling-crawl flavor of
    :func:`substring_spans`: every maximal verbatim span ≥ ``min_tokens``
    between an ARRIVING document and either the INDEXED corpus (probed
    through its persisted :func:`substring_anchor_index` — corpus text is
    never re-read) or a lower-id batch sibling. Same output schema and
    semantics as the batch operator restricted to pairs touching the
    batch: incremental == full-rebuild-filtered, row for row (the
    append==rebuild contract the minhash/BM25/IVF indexes carry, extended
    to the span table — pinned in tests and by the shared gated oracle
    shape).

    Contract: batch ids must be NEW (disjoint from the index — the
    ``append_bm25_delta`` rule). Work: batch anchors compute in one scan
    (O(batch tokens)); the probe join touches only fingerprints the batch
    actually shares; the run merge is bounded by the match count. Append
    the batch's anchor rows to the index afterwards. A window-width
    mismatch with the index is refused via the ``__fp`` metadata tag
    (see :func:`substring_anchor_index`)."""
    _check_anchor_width(seen_anchors, min_tokens, hash_mode)
    batch = substring_anchor_index(new_df, id_col, text_col, min_tokens, hash_mode)
    universe = _drop_hot_anchors(
        seen_anchors.unionByName(batch), max_anchor_docs
    )
    n, u = batch.alias("n"), universe.alias("u")
    matches = (
        n.join(
            u,
            (F.col("n.__fp") == F.col("u.__fp"))
            & (F.col("n.__id") != F.col("u.__id")),
        )
        .select(
            F.least("n.__id", "u.__id").alias("doc_a"),
            F.greatest("n.__id", "u.__id").alias("doc_b"),
            F.when(F.col("n.__id") < F.col("u.__id"), F.col("n.__pos"))
            .otherwise(F.col("u.__pos"))
            .alias("pos_a"),
            F.when(F.col("n.__id") < F.col("u.__id"), F.col("u.__pos"))
            .otherwise(F.col("n.__pos"))
            .alias("pos_b"),
        )
        # batch-vs-batch pairs arrive once from EACH side of the probe
        # join — normalize-then-dedupe keeps the run merge's uniqueness
        # contract
        .dropDuplicates(["doc_a", "doc_b", "pos_a", "pos_b"])
    )
    return _merge_anchor_runs(matches, min_tokens)


def span_coverage(
    df: DataFrame,
    id_col: str,
    text_col: str,
    min_tokens: int = 50,
    max_anchor_docs: int | None = None,
    round_digits: int = 4,
    hash_mode: str = "md5",
    anchors: DataFrame | None = None,
) -> DataFrame:
    """Per-document duplicated-text coverage — the decision signal on top
    of :func:`substring_spans`: for every document, how many of its
    tokens sit inside at least one cross-document verbatim span of
    ≥ ``min_tokens`` tokens. Returns (id, n_tokens, dup_tokens,
    dup_frac) for ALL documents (zero coverage included) — the column a
    curation pipeline thresholds on ("drop docs that are >50% pasted
    boilerplate"), per the Lee et al. 2022 dedup recipe.

    Exactness: spans from both pair sides union into per-doc intervals
    [start, start+len−1]; DISTINCT intervals merge by the running-max
    gaps-and-islands rule (new island iff start > max(end) over all
    earlier intervals — overlap and containment collapse, adjacency
    stays additive), and dup_tokens = Σ island lengths. Every step is
    integer arithmetic on a deterministic (start, end) order ⇒ the whole
    signal replays in SQL (the gated DuckDB oracle does exactly this).

    Scale shape: inherits the anchor-join shape of
    :func:`substring_spans` (narrow anchors, fingerprint-keyed join,
    ``max_anchor_docs`` for boilerplate anchors); the merge adds one
    doc-grained window + groupBy over the SPAN table (≪ corpus) and one
    left join back to the doc token counts. ``anchors=`` forwards a
    prebuilt anchor index to :func:`substring_spans` (round 18 — share
    one O(n·W) hashing pass across same-width pipeline stages)."""
    spans = substring_spans(
        df, id_col, text_col, min_tokens, max_anchor_docs, hash_mode,
        anchors=anchors,
    )
    # both pair sides in ONE pass over the span table: a union of two
    # selects would make Spark compute the whole anchor join twice (the
    # plan audit caught exactly that — two Window(doc_a,doc_b,diag)
    # nodes); the in-row explode keeps the expensive subplan single
    ivals = (
        spans.select(
            F.explode(
                F.array(
                    F.struct(
                        F.col("doc_a").alias("__id"),
                        F.col("start_a").alias("__s"),
                        (F.col("start_a") + F.col("span_tokens") - 1).alias(
                            "__e"
                        ),
                    ),
                    F.struct(
                        F.col("doc_b").alias("__id"),
                        F.col("start_b").alias("__s"),
                        (F.col("start_b") + F.col("span_tokens") - 1).alias(
                            "__e"
                        ),
                    ),
                )
            ).alias("__iv")
        )
        .select("__iv.__id", "__iv.__s", "__iv.__e")
        .distinct()
    )
    covered = union_interval_lengths(ivals)
    toks = F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
    base = df.select(
        F.col(id_col), F.size(toks).cast("bigint").alias("n_tokens")
    )
    return base.join(
        covered.withColumnRenamed("__id", id_col), id_col, "left"
    ).select(
        id_col,
        "n_tokens",
        F.coalesce("dup_tokens", F.lit(0)).cast("bigint").alias("dup_tokens"),
        F.round(
            F.coalesce("dup_tokens", F.lit(0)) / F.col("n_tokens"), round_digits
        ).alias("dup_frac"),
    )


def incremental_exact_dedup(
    new_df: DataFrame,
    seen_df: DataFrame,
    id_col: str,
    text_col: str,
) -> DataFrame:
    """Incremental exact dedup — the arriving-batch flavor of
    :func:`exact_dedup`: drop new documents whose normalized-text
    fingerprint already exists in the indexed corpus, then dedup the batch
    against itself (lowest id survives). The fingerprint is md5 of the
    lowercased, whitespace-collapsed text — engine-portable, so the corpus
    index can be maintained by any system.

    Returns surviving new rows + their ``fingerprint`` (append these to the
    corpus index afterwards; the op never rewrites history — old survivors
    stay survivors, matching how a crawl pipeline accretes).

    Scale: the corpus side reduces to DISTINCT fingerprints (32-byte keys,
    no text) before the anti-join; batch-internal dedup is one
    row_number window on the fingerprint. Batches are typically ≪ corpus —
    the anti-join shuffles only the batch when AQE broadcasts it."""
    from pyspark.sql import Window

    fp = F.md5(F.regexp_replace(F.lower(F.trim(F.col(text_col))), r"\s+", " "))
    new_fp = new_df.withColumn("fingerprint", fp)
    seen_fp = seen_df.select(fp.alias("fingerprint")).distinct()
    fresh = new_fp.join(seen_fp, "fingerprint", "left_anti")
    w = Window.partitionBy("fingerprint").orderBy(F.asc(id_col))
    return (
        fresh.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def _band_bucket_array(num_hashes: int, bands: int, hash: str) -> F.Column:
    """Per-band bucket keys for a ``__sig`` column as ONE array column
    (posexplode-ready). Two key families:

    - ``"crc32"`` (default): Murmur3 ``F.hash`` of the band slice seeded by
      the band index — an 8-byte shuffle key (the fast path; Murmur3 is
      engine-specific, so no SQL oracle).
    - ``"md5"`` (portable): the band slice ITSELF, comma-joined to a
      string. Collision-free (two docs share a bucket iff their band
      minima are equal — exactly the LSH definition) and computable
      verbatim in any SQL engine (``array_to_string(list_slice(sig, lo,
      hi), ',')``), which is what earns the md5-mode candidates their
      DuckDB oracle. Wider shuffle key (~40 bytes vs 8) — the price of
      portability.
    """
    rows_per_band = num_hashes // bands
    if hash == "crc32":
        return F.array(
            *[
                F.hash(
                    F.slice("__sig", b * rows_per_band + 1, rows_per_band),
                    F.lit(b),
                )
                for b in range(bands)
            ]
        )
    if hash == "md5":
        return F.array(
            *[
                F.concat_ws(
                    ",",
                    F.transform(
                        F.slice("__sig", b * rows_per_band + 1, rows_per_band),
                        lambda x: x.cast("string"),
                    ),
                )
                for b in range(bands)
            ]
        )
    raise ValueError(f"hash must be 'crc32' or 'md5', got {hash!r}")


def band_signatures(
    sig_df: DataFrame,
    side: str,
    num_hashes: int = 64,
    bands: int = 16,
    hash: str = "crc32",
) -> DataFrame:
    """Banded form of a (__id, __sig) signature frame:
    (__id_<side>, __sig_<side>, __band, __bucket) — one row per band. This
    IS the physical layout of a stored near-dup index: persist it
    partitioned/bucketed by (__band, __bucket) and incremental probes
    against it are pure equi-join lookups with no per-probe banding work."""
    return sig_df.select(
        F.col("__id").alias(f"__id_{side}"),
        F.col("__sig").alias(f"__sig_{side}"),
        F.posexplode(_band_bucket_array(num_hashes, bands, hash)).alias(
            "__band", "__bucket"
        ),
    )


def incremental_minhash_dedup(
    new_df: DataFrame,
    seen_sigs: DataFrame | None,
    id_col: str,
    text_col: str,
    threshold: float = 0.8,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    seen_banded: DataFrame | None = None,
    hash: str = "crc32",
    **cand_kwargs,
) -> DataFrame:
    """Incremental near-dedup: drop arriving documents that are near-dups
    (MinHash Jaccard estimate ≥ ``threshold``) of the INDEXED corpus — whose
    stored signatures (``seen_sigs``: (__id, __sig array<long>), as
    produced by :func:`minhash_signatures_arrow` and persisted by the
    pipeline) are probed WITHOUT touching corpus text — or of a lower-id
    document within the batch itself.

    This is the index-reuse shape that makes near-dedup affordable on a
    rolling crawl: per batch, signature work is O(batch), the banded probe
    join keys on (band, bucket) against a precomputed banded index, and
    corpus text is never re-read. Returns surviving new rows + ``__sig``
    (append to the signature index afterwards).

    Pass ``seen_banded`` (a persisted :func:`band_signatures`
    (..., side="s") table, ideally partitioned by band/bucket) instead of
    ``seen_sigs`` at scale — then even the index banding projection is
    precomputed and the probe is a pure lookup join (identity of the two
    forms pinned in tests).

    A banded index carries its hash mode in its ``__bucket`` type
    (crc32 → int Murmur3 keys, md5 → string band slices); probing a
    crc32-built index with ``hash='md5'`` (or vice versa) would join int
    vs string buckets, match NOTHING, and silently wave every near-dup
    through as a survivor — so the mode mismatch is validated here and
    refused (ADVICE r08).
    """
    if seen_banded is not None:
        bucket_t = seen_banded.schema["__bucket"].dataType.simpleString()
        want_t = "string" if hash == "md5" else "int"
        if bucket_t != want_t:
            raise ValueError(
                f"seen_banded __bucket type {bucket_t!r} does not match "
                f"hash={hash!r} (expects {want_t!r}) — the index was built "
                "under a different hash mode; probing it would silently "
                "match nothing"
            )
    batch_sigs = minhash_signatures_arrow(
        new_df, id_col, text_col, num_hashes, shingle_n, hash=hash
    ).localCheckpoint(eager=False)

    def banded(sig_df: DataFrame, side: str) -> DataFrame:
        return band_signatures(sig_df, side, num_hashes, bands, hash=hash)

    if seen_banded is None:
        if seen_sigs is None:
            raise ValueError("provide seen_sigs or seen_banded")
        seen_banded = banded(seen_sigs, "s")

    est = F.aggregate(
        F.zip_with("__sig_n", "__sig_s", lambda x, y: (x == y).cast("int")),
        F.lit(0),
        lambda acc, x: acc + x,
    ) / F.lit(num_hashes)
    # batch vs corpus-index probe: loser = any batch doc banding with any
    # indexed signature at est >= threshold
    vs_seen = (
        banded(batch_sigs, "n")
        .join(seen_banded, ["__band", "__bucket"])
        .withColumn("__est", est)
        .filter(F.col("__est") >= threshold)
        .select(F.col("__id_n").alias(id_col))
        .distinct()
    )
    # batch-internal: reuse the candidate kernel, lowest id survives
    # cand_kwargs reaches the batch-internal candidate kernel (e.g.
    # max_bucket / pair_strategy / checkpoint_mode for degenerate or
    # long-running batches — the same knobs the batch API exposes)
    internal = (
        minhash_candidates(
            new_df, id_col, text_col, num_hashes, bands, shingle_n=shingle_n,
            hash=hash, **cand_kwargs,
        )
        .filter(F.col("jaccard_est") >= threshold)
        .select(F.col("id_b").alias(id_col))
        .distinct()
    )
    losers = vs_seen.unionByName(internal).distinct()
    return new_df.join(losers, id_col, "left_anti").join(
        batch_sigs.withColumnRenamed("__id", id_col), id_col
    )


def bucket_pairs(
    banded: DataFrame,
    bucket_cols: Sequence[str],
    id_col: str = "__id",
    max_bucket: int | None = None,
) -> DataFrame:
    """Within-bucket candidate pairs via ONE groupBy + JVM array expansion.

    The shared LSH-candidate kernel (MinHash bands, SimHash chunks,
    hyperplane buckets all reduce to it): group rows by ``bucket_cols``,
    collect each bucket's sorted ids, expand (id_a < id_b) pairs with array
    lambdas — all pairs for buckets at/under ``max_bucket``, star pairs
    against the bucket min above it (O(k) pairs, cliques stay connected
    through the representative; ``max_bucket=None`` disables the cap).
    Output has duplicate pairs when ids share several buckets — callers
    ``dropDuplicates`` after any further per-pair math.

    vs a banded self-join: half the stages (no oversized-bucket probe join,
    no self-join, no union) and one exchange on the bucket key. The
    trade-off (measured at sf0.1): array expansion is interpreted
    per-element, so it wins only where buckets stay SMALL — minhash banding
    with its ``max_bucket`` cap (6.5s → 2.4s) — while for bucket schemes
    that legitimately produce hundred-member buckets (simhash chunks,
    low-plane hyperplane blocks) the codegen'd distributed self-join is
    faster and has no single-row memory bound (one bucket here is one row
    holding k ids). Those callers keep the join form."""
    grouped = (
        banded.groupBy(*bucket_cols)
        .agg(F.sort_array(F.collect_list(id_col)).alias("__ids"))
        .filter(F.size("__ids") >= 2)
    )
    ids = F.col("__ids")
    k = F.size(ids)
    all_pairs = F.flatten(
        F.transform(
            ids,
            lambda x, i: F.transform(
                F.slice(ids, i + F.lit(2), k - i - F.lit(1)),
                lambda y: F.struct(x.alias("id_a"), y.alias("id_b")),
            ),
        )
    )
    if max_bucket is None:
        expanded = all_pairs
    else:
        star_pairs = F.transform(
            F.slice(ids, 2, k - F.lit(1)),
            lambda y: F.struct(F.element_at(ids, 1).alias("id_a"), y.alias("id_b")),
        )
        expanded = F.when(k <= max_bucket, all_pairs).otherwise(star_pairs)
    return grouped.select(F.explode(expanded).alias("__p")).select(
        F.col("__p.id_a"), F.col("__p.id_b")
    )


def minhash_candidates(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    max_bucket: int = 256,
    log_truncated: bool = False,
    checkpoint_mode: str = "eager",
    checkpoint_path: str | None = None,
    pair_strategy: str = "agg",
    hash: str = "crc32",
) -> DataFrame:
    """X2 MinHash-LSH candidate pairs: documents sharing ≥1 LSH band.

    Returns (id_a, id_b, jaccard_est) with id_a < id_b; ``jaccard_est`` is
    the fraction of matching minhashes — an unbiased Jaccard estimate.

    Scale shape: signatures are narrow (id + 64 longs); the band explode is
    ×`bands`; the only wide shuffle keys on the band hash — never on text.

    Bucket-skew cap: a degenerate (band, bucket) group — thousands of
    empty or identical docs sharing one band signature — is a quadratic
    blow-up (k members ⇒ k² pairs from ONE group). Buckets larger than
    ``max_bucket`` degrade to star pairs against the bucket's min id:
    every member still pairs with the representative (so near-dedup /
    connected components keep the whole clique connected through it) but
    the pair count is O(k), not O(k²). ``log_truncated=True`` runs one
    extra small count job and logs how many buckets were truncated.

    ``pair_strategy`` picks how within-bucket pairs materialize — both
    produce identical output (pinned in tests):

    - ``"agg"`` (default): ONE groupBy shuffle on (band, bucket) collects
      each bucket's sorted member ids into an array; pairs expand JVM-side
      with array lambdas (all pairs at/under the cap, star pairs above).
      Halves the stage count vs the join form (no oversized-bucket probe
      join, no self-join, no union) — the win is latency per query AND
      fewer shuffles at scale. Memory bound: one bucket = one row holding
      k ids (8·k bytes — 80 MB at k=10M); fine everywhere except
      adversarial corpora where one bucket captures a billion rows.
    - ``"join"``: banded self-join with an anti-join guard against
      oversized buckets; every bucket stays distributed across tasks, so
      no single-row memory bound — the fallback for degenerate corpora.
    """
    # The signature subplan feeds three consumers (banding + the two
    # estimate joins). Materialize it once — A/B at sf0.1 measured
    # checkpointed ~2.1s vs ~2.6s warm. ``checkpoint_mode`` picks the
    # fault-tolerance tier (see :func:`_materialize`): "local" for benches
    # and short jobs, "reliable"/"table" for long 100 TB runs where losing
    # an executor must not fail the job. Default "eager" (round 17): with
    # a LAZY persist the three consumers race inside the first action and
    # each recomputes the full signature scan before any block lands (the
    # round-12 concurrent-recompute class). RE-ADJUDICATED round 18
    # (VERDICT r17 #1, after the driver run moved the other way): two
    # independent designs — fresh-session alternating checkouts (driver
    # methodology, 9 pooled warms/arm) and in-session interleaved pairs
    # (cancels this box's monotone within-session drift) — BOTH confirm
    # eager wins warm where the kernel is the whole query (md5
    # candidates 1.9 vs 3.8 s interleaved, 2.2 vs 8.4 s fresh-session)
    # and is a wash inside the six-stage capstones. Eager's reproduced
    # cost is COLD time on a fresh JVM (the populate-count pays
    # Janino/Arrow warmup inside its own job) — amortized per
    # cluster-session.
    sig = minhash_signatures_arrow(
        df, id_col, text_col, num_hashes, shingle_n, hash=hash
    )
    sig = _materialize(sig, checkpoint_mode, checkpoint_path)
    # The banded self-join stays NARROW — (id, band, bucket) only, never
    # the 64-long signature. Measured 2.4× faster than carrying signatures
    # through the join, and the shuffle volume is O(rows×bands) longs
    # instead of O(rows×bands×num_hashes).
    banded = sig.select(
        "__id",
        F.posexplode(_band_bucket_array(num_hashes, bands, hash)).alias(
            "__band", "__bucket"
        ),
    )
    if pair_strategy == "agg":
        # collect_list is not map-side combinable, but the shuffle payload
        # is exactly the banded rows (id + band + bucket longs) the join
        # form would shuffle anyway — and everything downstream of the
        # exchange is local array math (bucket_pairs).
        if log_truncated:
            n_trunc = (
                banded.groupBy("__band", "__bucket")
                .agg(F.count(F.lit(1)).alias("__bsz"))
                .filter(F.col("__bsz") > max_bucket)
                .count()
            )
            if n_trunc:
                import logging

                logging.getLogger(__name__).warning(
                    "minhash_candidates: %d (band, bucket) groups exceed "
                    "max_bucket=%d — truncated to star pairs",
                    n_trunc, max_bucket,
                )
        pairs = bucket_pairs(
            banded, ["__band", "__bucket"], max_bucket=max_bucket
        ).dropDuplicates(["id_a", "id_b"])
    elif pair_strategy == "join":
        # find oversized buckets with a partial-aggregable groupBy (map-side
        # combine ⇒ the shuffle carries one row per distinct bucket, no full
        # sort like a window would need). The oversized set is tiny by
        # construction (≤ rows×bands/max_bucket, and ~0 on healthy corpora),
        # so the exclusion/star joins against it are AQE-broadcast map-side
        # joins; buckets at or under the cap pay nothing but the probe.
        big = (
            banded.groupBy("__band", "__bucket")
            .agg(F.count(F.lit(1)).alias("__bsz"), F.min("__id").alias("__bmin"))
            .filter(F.col("__bsz") > max_bucket)
        )
        if log_truncated:
            n_trunc = big.count()
            if n_trunc:
                import logging

                logging.getLogger(__name__).warning(
                    "minhash_candidates: %d (band, bucket) groups exceed "
                    "max_bucket=%d — truncated to star joins", n_trunc, max_bucket
                )
        normal = banded.join(
            big.select("__band", "__bucket"), ["__band", "__bucket"], "left_anti"
        )
        star = (
            banded.join(big.select("__band", "__bucket", "__bmin"), ["__band", "__bucket"])
            .filter(F.col("__id") != F.col("__bmin"))
            .select(F.col("__bmin").alias("id_a"), F.col("__id").alias("id_b"))
        )
        pairs = (
            normal.alias("a")
            .join(
                normal.alias("b"),
                (F.col("a.__band") == F.col("b.__band"))
                & (F.col("a.__bucket") == F.col("b.__bucket"))
                & (F.col("a.__id") < F.col("b.__id")),
            )
            .select(F.col("a.__id").alias("id_a"), F.col("b.__id").alias("id_b"))
            .unionByName(star)
            .dropDuplicates(["id_a", "id_b"])
        )
    else:
        raise ValueError(f"pair_strategy must be 'agg' or 'join', got {pair_strategy!r}")
    # candidate pairs are few (LSH's whole point) — the signature re-joins
    # are narrow equi-joins on id
    paired = pairs.join(
        sig.select(F.col("__id").alias("id_a"), F.col("__sig").alias("sig_a")), "id_a"
    ).join(sig.select(F.col("__id").alias("id_b"), F.col("__sig").alias("sig_b")), "id_b")
    est = F.aggregate(
        F.zip_with("sig_a", "sig_b", lambda x, y: (x == y).cast("int")),
        F.lit(0),
        lambda acc, x: acc + x,
    ) / F.lit(num_hashes)
    return paired.withColumn("jaccard_est", est).drop("sig_a", "sig_b")


def minhash_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.8,
    **kwargs,
) -> DataFrame:
    """X2 near-dedup: drop every doc that is a near-dup (jaccard_est ≥
    threshold) of a lower-id doc. Single-hop survivor rule (min-id wins),
    which needs no iterative connected components — at 100 TB the full CC
    variant is :func:`dup_components`."""
    cand = minhash_candidates(df, id_col, text_col, **kwargs)
    losers = (
        cand.filter(F.col("jaccard_est") >= threshold)
        .select(F.col("id_b").alias(id_col))
        .distinct()
    )
    return df.join(losers, on=id_col, how="left_anti")


#: checkpoint modes whose materialisation runs an action; the connected
#: components loops read their convergence counts from that action
_CC_CHECKPOINT_MODES = ("local", "eager", "reliable", "table")


def _materialize_observed(
    df: DataFrame, checkpoint_mode: str, **metrics: F.Column
) -> tuple[DataFrame, dict]:
    """:func:`_materialize` ``df`` and return the ``metrics`` (name →
    aggregate over ``df``'s rows).

    Under ``"local"``, ``"eager"`` and ``"reliable"`` the metrics are a
    named ``observe`` on the frame, computed by the materialising action
    itself (no job of their own) and read from the frame's own
    QueryExecution. pyspark's ``Observation`` is not used: it creates the
    session's ObservationManager, which is not serializable, and from then
    on every task that serializes the session fails (MLlib's
    ``LogisticRegressionModel`` does, through its training summary).
    ``"table"`` writes through a separate command, so its metrics take one
    aggregate job over the written table."""
    aggs = [agg.alias(name) for name, agg in metrics.items()]
    if checkpoint_mode == "table":
        out = _materialize(df, checkpoint_mode)
        return out, out.agg(*aggs).first().asDict()
    name = f"__counts_{uuid.uuid4().hex}"
    observed = df.observe(name, *aggs)
    out = _materialize(observed, checkpoint_mode)
    row = observed._jdf.queryExecution().observedMetrics().get(name).get()
    return out, {k: row.get(i) for i, k in enumerate(metrics)}


def _round_counts() -> dict[str, F.Column]:
    """Observed metrics of one label-propagation round over its output
    ``(u, comp, nbrs, old, nmax)``: ``rows``, the state's node count (the
    size of the labels frame, see :func:`_sized_for_planner`);
    ``lowered``, the nodes whose comp the round lowered; and
    ``unsettled``, the lowered nodes that received a message (a
    neighbour's old comp or a label link) above the new comp.
    When ``unsettled`` is 0 every label is final: a node that kept its
    label held no more than any neighbour's old one, so two such
    neighbours held the same label, and a settled lowered node had all
    its neighbours (none of them lowered) on one label. Each component
    therefore ends the round on one label, its min, and the label links
    the round added can lower nothing. So the round proves the fixpoint
    itself, without a confirm round."""
    lowered = F.col("comp") < F.col("old")
    return {
        "rows": F.count(F.lit(1)),
        "lowered": F.coalesce(F.sum(lowered.cast("int")), F.lit(0)),
        "unsettled": F.coalesce(
            F.sum((lowered & (F.col("nmax") > F.col("comp"))).cast("int")), F.lit(0)
        ),
    }


def _cc_state(pairs: DataFrame) -> DataFrame:
    """Vertex state ``(u, comp, nbrs, old, nmax)`` of min-label
    propagation, built in ONE groupBy over the symmetrised pairs:
    ``nbrs`` is u's adjacency set and ``comp = least(u, min(nbrs))``, so
    the build is already the first propagation round from identity labels
    (``old = u``, ``nmax = max(nbrs)``: the previous labels, for
    :func:`_round_counts`).

    A NULL endpoint becomes the node ``(NULL, NULL)`` with no neighbours,
    and is nobody's neighbour: NULL ids never join components."""
    a, b = F.col("id_a"), F.col("id_b")
    both = F.array(
        F.struct(a.alias("u"), F.when(a.isNotNull(), b).alias("v")),
        F.struct(b.alias("u"), F.when(b.isNotNull(), a).alias("v")),
    )
    return (
        pairs.select(F.explode(both).alias("__e"))
        .select("__e.u", "__e.v")
        .groupBy("u")
        .agg(
            F.least(F.col("u"), F.min("v")).alias("comp"),
            F.collect_set("v").alias("nbrs"),
            F.col("u").alias("old"),
            F.max("v").alias("nmax"),
        )
    )


def _cc_round(state: DataFrame) -> DataFrame:
    """ONE min-label-propagation round over the vertex state, as ONE
    groupBy (a Pregel superstep on a dataflow engine, as in Pregelix):
    every node sends its ``comp`` to each neighbour, the messages are
    unioned with each node's own row (which carries the current comp),
    and ``groupBy(u)`` takes ``comp = min(message)``.

    The round also links each node to its label: a node ``u`` whose
    ``comp`` is another node sends its message to ``comp`` as well, and
    every node's new adjacency is the set of its messages' senders plus
    its own label. The edge ``u``–``comp_u`` lies inside the component,
    and over it the next round hands ``u`` the label of its label, so
    labels jump along min-pointers (the pointer-jumping depth of
    Kiveris et al. 2014, "Connected Components in MapReduce and Beyond").

    Output ``(u, comp, nbrs, old, nmax)``: ``old`` is the comp before the
    round and ``nmax`` the largest message received, the label links
    included, for :func:`_round_counts`."""
    comp_type = state.schema["comp"].dataType
    linked = F.col("comp") != F.col("u")
    msgs = state.select(
        F.explode(
            F.when(linked, F.array_union("nbrs", F.array("comp"))).otherwise(
                F.col("nbrs")
            )
        ).alias("u"),
        F.col("comp").alias("msg"),
        F.col("u").alias("src"),
        F.lit(None).cast(comp_type).alias("old"),
    )
    own = state.select(
        "u",
        F.col("comp").alias("msg"),
        F.when(linked, F.col("comp")).alias("src"),
        F.col("comp").alias("old"),
    )
    return (
        msgs.unionByName(own)
        .groupBy("u")
        .agg(
            F.min("msg").alias("comp"),
            F.collect_set("src").alias("nbrs"),
            F.min("old").alias("old"),
            F.max(F.when(F.col("old").isNull(), F.col("msg"))).alias("nmax"),
        )
    )


def dup_components_iteration_frame(pairs: DataFrame) -> DataFrame:
    """The UNTRUNCATED plan of the state build plus one propagation
    round, for plan audits: ``dup_components`` materialises every
    round, so the final frame's plan is a checkpoint-scan stub and
    the no-cartesian/no-BNLJ checks of the Tier-1 plan audit
    (``tests/plan_audit.py``) would verify nothing about the query's
    real shuffles. This composes the SAME :func:`_cc_state` +
    :func:`_cc_round` the loop runs, unmaterialised, exposing the full
    shape (candidate self-join upstream included) to that audit.
    Audit-only: no registry query runs it."""
    return _cc_round(_cc_state(pairs))


def _sized_for_planner(df: DataFrame, rows: int) -> DataFrame:
    """``df`` (``rows`` rows) with a broadcast hint when its size, as
    Spark estimates a row (an 8-byte row overhead plus each column's
    ``defaultSize``), fits within the session's
    ``spark.sql.autoBroadcastJoinThreshold``; otherwise unchanged.

    A checkpointed frame reports the optimizer's pre-execution estimate
    of the plan it replaced (487 PiB for the 457 labels of the corpus
    benchmark at seed 1), so a join against it plans a sort-merge that
    shuffles the other side. The hint hands the planner the measured
    size instead, and reaches a join through the caller's
    ``filter``/``select`` (``EliminateResolvedHint`` walks unary nodes).
    A negative threshold disables broadcasting, and then no hint."""
    row_bytes = 8 + sum(f.dataType().defaultSize() for f in df._jdf.schema().fields())
    conf = df.sparkSession._jsparkSession.sessionState().conf()
    threshold = conf.autoBroadcastJoinThreshold()
    if threshold >= 0 and rows * row_bytes <= threshold:
        return F.broadcast(df)
    return df


def _cc_labels(
    pairs: DataFrame, max_iter: int, checkpoint_mode: str
) -> tuple[DataFrame, int]:
    """The loop of :func:`dup_components`; returns ``(labels, rounds)``
    so tests can pin the round count."""
    # round 1: the state build (the pair upstream runs once, here)
    state, seen = _materialize_observed(
        _cc_state(pairs), checkpoint_mode, **_round_counts()
    )
    rounds = 1
    # rounds 2 .. max_iter + 1: max_iter changing rounds, plus one
    # confirm round unless the last changing round is already settled
    while seen["unsettled"] and rounds <= max_iter:
        state, seen = _materialize_observed(
            _cc_round(state), checkpoint_mode, **_round_counts()
        )
        rounds += 1
    if seen["lowered"] and rounds > max_iter:
        # unfinished labels would poison every downstream survivor/drop
        # decision. Fail loudly — also when round max_iter + 1 happened
        # to settle the last labels, so that max_iter bounds the changing
        # rounds whatever the graph's shape.
        raise ValueError(
            f"dup_components did not converge within max_iter={max_iter} "
            "changing rounds (+1 confirm round); raise max_iter."
        )
    labels = state.select(F.col("u").alias("id"), "comp")
    return _sized_for_planner(labels, seen["rows"]), rounds


def dup_components(
    pairs: DataFrame,
    max_iter: int = 20,
    checkpoint_mode: str = "local",
) -> DataFrame:
    """Connected components over a dup-pair graph (id_a, id_b) →
    ``(id, comp)``, comp = the min id of id's component. A NULL id is
    returned as ``(NULL, NULL)`` and joins no component.

    Iterative min-label propagation with label links: each node adopts
    the min label among itself and its neighbours, and links to its
    label, so the next round hands it the label's label — depth costs
    O(log d) rounds on chain-shaped graphs (a 100-node chain takes 12),
    and shallow clique graphs settle in two or three. The state is one
    frame ``(u, comp, nbrs, old, nmax)`` (:func:`_cc_state`, whose build
    is round 1) and every further round is ONE groupBy over state plus
    neighbour messages (:func:`_cc_round`) — one exchange and one
    materialising action per round, no per-round join. The lowered and
    unsettled label counts (:func:`_round_counts`) are observed on that
    same action, so convergence costs no job (one per round under
    ``"table"``, see :func:`_materialize_observed`), and a round with no
    unsettled label ends the loop without a confirm round. ``max_iter``
    bounds the changing rounds (the build counts as round 1); a graph
    that needs more raises ``ValueError``.

    The returned frame carries a broadcast hint when its size (the node
    count, observed on the last round's action, times Spark's per-row
    size estimate) fits within ``spark.sql.autoBroadcastJoinThreshold``,
    so a survivor anti-join ``docs.join(losers, ..., "left_anti")``
    broadcasts the loser ids from its first plan instead of shuffling
    every document (see :func:`_sized_for_planner`). A larger label set,
    or a threshold of -1, gets no hint and the join sort-merges.

    Scale notes (SURVEY §7.4): the working frame is materialised and
    lineage-truncated every round (``checkpoint_mode``, see
    :func:`_materialize`). Only the modes that run an action are accepted
    (``"local"``, ``"eager"``, ``"reliable"``, ``"table"``): the
    convergence counts are observed on that action.
    """
    if checkpoint_mode not in _CC_CHECKPOINT_MODES:
        raise ValueError(
            f"dup_components needs a checkpoint_mode that runs an action, one "
            f"of {_CC_CHECKPOINT_MODES}; got {checkpoint_mode!r}"
        )
    if max_iter < 1:
        # max_iter=0 used to skip the loop AND the nonconvergence guard,
        # silently returning identity labels — the exact wrong-components
        # class the guard exists to kill
        raise ValueError(f"max_iter must be >= 1, got {max_iter}")
    labels, _rounds = _cc_labels(pairs, max_iter, checkpoint_mode)
    return labels


def simhash_expr(col: str, bits: int = 64) -> F.Column:
    """X2 SimHash as a pure array-lambda expression — the semantics
    contract for :func:`simhash` (same output, pinned by test). 64 separate
    interpreted ``aggregate`` folds over the token hashes make this the
    measured-pathological HOF path (~1 µs/element ×64 passes); keep it for
    oracles/tests, use :func:`simhash` in pipelines."""
    toks = F.split(F.lower(F.trim(F.col(col))), r"\s+")
    hashes = F.transform(toks, lambda t: F.xxhash64(t))
    def bit_sum_for(mask):
        return F.aggregate(
            hashes,
            F.lit(0),
            lambda acc, h: acc + F.when(h.bitwiseAND(mask) != 0, 1).otherwise(-1),
        )

    out = F.lit(0).cast("long")
    for b in range(bits):
        mask = F.lit(1 << b) if b < 63 else F.lit(-(2**63))
        out = out.bitwiseOR(
            F.when(bit_sum_for(mask) > 0, mask.cast("long")).otherwise(F.lit(0).cast("long"))
        )
    return out


def _simhash_from_hashes_udf():
    """Arrow-vectorized SimHash fold: token hashes (computed JVM-side by
    xxhash64 — bit-identical to the expression form) arrive as one
    array<long> per row; numpy unpacks 64 bit-planes, sums ±1 per plane
    across tokens, and sign-packs in one batch. Same matrix-over-Arrow
    treatment as :func:`~.similarity.matrix_dots_udf` — replaces 64
    interpreted ``aggregate`` folds per row."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("long")
    def fold(hashes: pd.Series) -> pd.Series:
        shifts = np.arange(64, dtype=np.uint64)
        vals = np.zeros(len(hashes), dtype=np.uint64)
        nulls = np.zeros(len(hashes), dtype=bool)
        for i, arr in enumerate(hashes):
            if arr is None:
                nulls[i] = True
                continue
            h = np.asarray(arr, dtype=np.int64).view(np.uint64)
            if h.size == 0:
                continue
            ones = ((h[:, None] >> shifts) & np.uint64(1)).sum(axis=0)
            sums = 2 * ones.astype(np.int64) - np.int64(h.size)
            vals[i] = ((sums > 0).astype(np.uint64) << shifts).sum(dtype=np.uint64)
        out = pd.Series(pd.array(vals.view(np.int64), dtype="Int64"))
        if nulls.any():
            out[nulls] = pd.NA
        return out

    return fold


def simhash(col: str, bits: int = 64, hash: str = "xxhash64") -> F.Column:
    """X2 SimHash fingerprint: per token, a 64-bit hash (JVM-side) → for
    each bit position sum ±1 across tokens → sign bit. The per-bit fold
    runs in one Arrow-vectorized numpy pass (:func:`_simhash_from_hashes_udf`);
    output is bit-identical to :func:`simhash_expr` (pinned in tests).

    ``hash="md5"`` (portable mode, same discipline as the minhash md5
    mode): token hashes are the first 15 hex digits of md5 — a 60-bit
    space computable verbatim in any SQL engine, so the fingerprint,
    banding, and Hamming filter all earn a DuckDB oracle. Bit planes
    60..63 are zero for every token, so the same 64-plane fold yields
    exactly the 60-bit fingerprint (sign of 0·ones − n is negative);
    band over the low 60 bits only (``simhash_candidates`` handles
    this)."""
    if bits != 64:
        raise ValueError("simhash is a 64-bit fingerprint")
    toks = F.split(F.lower(F.trim(F.col(col))), r"\s+")
    if hash == "xxhash64":
        hashes = F.transform(toks, lambda t: F.xxhash64(t))
    elif hash == "md5":
        hashes = F.transform(
            toks,
            lambda t: F.conv(F.substring(F.md5(t), 1, 15), 16, 10).cast("long"),
        )
    else:
        raise ValueError(f"hash must be 'xxhash64' or 'md5', got {hash!r}")
    return _simhash_from_hashes_udf()(hashes)


def simhash_candidates(
    df: DataFrame, id_col: str, text_col: str, band_bits: int | None = None,
    max_hamming: int = 8, hash: str = "xxhash64",
) -> DataFrame:
    """SimHash near-dup candidates: band the 64-bit fingerprint into
    64/band_bits chunks; docs sharing any chunk are candidates, kept only
    when Hamming distance (bit_count of xor) ≤ ``max_hamming``.

    ``band_bits`` must divide the mode's LIVE bit count — 64 for
    xxhash64, 60 for md5 (15-hex-digit token hashes leave planes 60..63
    provably zero, and banding dead planes would put every doc in one
    degenerate bucket). The default ``None`` picks a valid width per
    mode: 8 (8 bands) for xxhash64, 15 (4 bands) for md5 — so
    ``hash='md5'`` works without overriding a second parameter.

    The Hamming cap matters at scale: a shared 16-bit chunk is a weak
    signal over large corpora with similar token distributions — without
    the cap the candidate set explodes quadratically (measured 232k pairs
    on 5k docs). True near-dups (trigram Jaccard ≥0.8) measure Hamming ≤5
    on the fixture; ≤6 keeps them all with margin (pinned in tests)."""
    sigs = ensure_parallelism(df, id_col).select(
        F.col(id_col).alias("__id"), simhash(text_col, hash=hash).alias("__sh")
    )
    # md5 mode: only the low 60 bits carry signal (15-hex-digit token
    # hashes) — banding the always-zero top bits would put EVERY doc in
    # one degenerate bucket and explode the self-join quadratically
    effective_bits = 60 if hash == "md5" else 64
    if band_bits is None:
        band_bits = 15 if hash == "md5" else 8
    if effective_bits % band_bits:
        raise ValueError(
            f"band_bits {band_bits} must divide {effective_bits} for {hash!r}"
        )
    nbands = effective_bits // band_bits
    mask = (1 << band_bits) - 1
    banded = sigs.select(
        "__id",
        "__sh",
        F.posexplode(
            F.array(
                *[
                    F.shiftrightunsigned("__sh", b * band_bits).bitwiseAND(F.lit(mask))
                    for b in range(nbands)
                ]
            )
        ).alias("__band", "__chunk"),
    )
    # banded self-join, NOT the bucket_pairs array kernel: simhash chunk
    # buckets run large on near-dup-heavy corpora (hundreds of members),
    # where the distributed hash join beats interpreted per-bucket array
    # expansion — and AQE broadcasts the narrow banded side when small.
    a, b = banded.alias("a"), banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.__band") == F.col("b.__band"))
            & (F.col("a.__chunk") == F.col("b.__chunk"))
            & (F.col("a.__id") < F.col("b.__id")),
        )
        .select(
            F.col("a.__id").alias("id_a"),
            F.col("b.__id").alias("id_b"),
            F.bit_count(F.col("a.__sh").bitwiseXOR(F.col("b.__sh"))).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .dropDuplicates(["id_a", "id_b"])
    )


def ngram_jaccard(pairs: DataFrame, docs: DataFrame, id_col: str, text_col: str, n: int = 3) -> DataFrame:
    """Exact n-gram Jaccard for candidate pairs only (verify step after
    LSH): joins shingle sets onto (id_a, id_b) and computes
    |A∩B| / |A∪B| with array built-ins."""
    sh = docs.select(F.col(id_col).alias("__id"), shingles(text_col, n).alias("__sh"))
    return (
        pairs.join(sh.select(F.col("__id").alias("id_a"), F.col("__sh").alias("sh_a")), "id_a")
        .join(sh.select(F.col("__id").alias("id_b"), F.col("__sh").alias("sh_b")), "id_b")
        .withColumn(
            "jaccard",
            F.size(F.array_intersect("sh_a", "sh_b"))
            / F.size(F.array_union("sh_a", "sh_b")),
        )
        .drop("sh_a", "sh_b")
    )


def ngram_jaccard_all_pairs(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    min_jaccard: float = 0.0,
    checkpoint_mode: str = "persist",
    checkpoint_path: str | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard over every overlapping pair — the
    inverted-index formulation: explode shingles (hashed to longs — the
    shuffle never carries shingle text), self-join on shingle to count
    co-occurrences, then |A∩B| / (|A|+|B|-|A∩B|).

    Unlike a pairwise array_intersect cross-join this only touches pairs
    sharing ≥1 shingle and its shuffle key is the shingle hash — cost is
    Σ df(shingle)² not n²; hot shingles (high document frequency) are the
    skew knob, handled upstream by stopword-shingle filtering if needed.
    Measured ~5× faster than the array cross-join at 500 docs.
    """
    sh = docs.select(
        F.col(id_col).alias("__id"),
        F.explode(shingles(text_col, n)).alias("__s"),
    ).select("__id", F.xxhash64("__s").alias("__h"))
    sh = _materialize(sh, checkpoint_mode, checkpoint_path)
    sizes = sh.groupBy("__id").agg(F.count(F.lit(1)).alias("__n"))
    co = (
        sh.alias("a")
        .join(sh.alias("b"), (F.col("a.__h") == F.col("b.__h")) & (F.col("a.__id") < F.col("b.__id")))
        .groupBy(F.col("a.__id").alias("id_a"), F.col("b.__id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("__c"))
    )
    out = (
        co.join(sizes.select(F.col("__id").alias("id_a"), F.col("__n").alias("__na")), "id_a")
        .join(sizes.select(F.col("__id").alias("id_b"), F.col("__n").alias("__nb")), "id_b")
        .withColumn("jaccard", F.col("__c") / (F.col("__na") + F.col("__nb") - F.col("__c")))
        .select("id_a", "id_b", "jaccard")
    )
    if min_jaccard > 0:
        out = out.filter(F.col("jaccard") >= min_jaccard)
    return out


def ngram_containment_all_pairs(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    min_containment: float = 0.0,
    checkpoint_mode: str = "persist",
    checkpoint_path: str | None = None,
) -> DataFrame:
    """Exact n-gram CONTAINMENT over every overlapping pair — the
    asymmetric twin of :func:`ngram_jaccard_all_pairs` for quote /
    subset / expansion detection: ``containment(A in B) = |A∩B| / |A|``
    is ~1 when A is quoted inside a much longer B even though their
    Jaccard is tiny (the symmetric score misses every short-in-long
    duplication — the standard reason dedup pipelines track both).

    Same inverted-index shape and cost as the Jaccard form (shuffles
    Σ df(shingle)², keys are shingle hashes, never text). Emits one row
    per unordered overlapping pair with BOTH directions
    (id_a < id_b, containment_a_in_b, containment_b_in_a), filtered to
    pairs where EITHER direction ≥ ``min_containment``."""
    sh = docs.select(
        F.col(id_col).alias("__id"),
        F.explode(shingles(text_col, n)).alias("__s"),
    ).select("__id", F.xxhash64("__s").alias("__h"))
    sh = _materialize(sh, checkpoint_mode, checkpoint_path)
    sizes = sh.groupBy("__id").agg(F.count(F.lit(1)).alias("__n"))
    co = (
        sh.alias("a")
        .join(
            sh.alias("b"),
            (F.col("a.__h") == F.col("b.__h")) & (F.col("a.__id") < F.col("b.__id")),
        )
        .groupBy(F.col("a.__id").alias("id_a"), F.col("b.__id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("__c"))
    )
    out = (
        co.join(sizes.select(F.col("__id").alias("id_a"), F.col("__n").alias("__na")), "id_a")
        .join(sizes.select(F.col("__id").alias("id_b"), F.col("__n").alias("__nb")), "id_b")
        .select(
            "id_a",
            "id_b",
            (F.col("__c") / F.col("__na")).alias("containment_a_in_b"),
            (F.col("__c") / F.col("__nb")).alias("containment_b_in_a"),
        )
    )
    if min_containment > 0:
        out = out.filter(
            F.greatest("containment_a_in_b", "containment_b_in_a")
            >= min_containment
        )
    return out
