"""Physical-plan assertions (SURVEY §4): the optimizations Catalyst should
be doing for us — predicate pushdown, column pruning, broadcast joins,
whole-stage codegen — verified from ``explain`` output so regressions are
test failures, not silent slowdowns at scale.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame


def explain_str(df: DataFrame, mode: str = "formatted") -> str:
    """The ``df.explain(mode)`` text as a string."""
    return df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
        df._jdf.queryExecution(), mode
    )


def pushed_filters(df: DataFrame) -> list[str]:
    """PushedFilters entries from every scan node in the formatted plan."""
    text = explain_str(df, "formatted")
    out: list[str] = []
    for m in re.finditer(r"PushedFilters: \[([^\]]*)\]", text):
        entry = m.group(1).strip()
        if entry:
            out.extend(p.strip() for p in entry.split(","))
    return out


def read_schema_columns(df: DataFrame) -> list[list[str]]:
    """Column lists actually read by each scan (column-pruning check)."""
    text = explain_str(df, "formatted")
    out = []
    for m in re.finditer(r"ReadSchema: struct<([^>]*)>", text):
        cols = [c.split(":")[0].strip() for c in m.group(1).split(",") if c.strip()]
        out.append(cols)
    return out


def has_broadcast_join(df: DataFrame) -> bool:
    return "BroadcastHashJoin" in explain_str(df, "simple")


def has_whole_stage_codegen(df: DataFrame) -> bool:
    """True if any stage compiles to whole-stage codegen. Under AQE the
    plan only carries codegen spans once stages are materialized, so this
    EXECUTES the frame's own query execution (``collect`` — ``count()``
    would plan a separate job and leave this one adaptive-unresolved) and
    reads the final plan. Call on small/aggregated frames only."""
    df.collect()
    text = explain_str(df, "formatted")
    # codegen'd operators carry a `*` prefix in the final formatted plan
    # (e.g. `+- * HashAggregate (9)`)
    return "WholeStageCodegen" in text or bool(re.search(r"\+- \* \w|^\s*\* \w", text, re.M))


def has_cartesian(df: DataFrame) -> bool:
    """True if the plan contains an unconstrained CartesianProduct — the
    join-explosion failure mode. A 1-row scalar ``crossJoin(broadcast(...))``
    plans as BroadcastNestedLoopJoin and is NOT flagged."""
    return "CartesianProduct" in explain_str(df, "simple")


def shuffle_count(df: DataFrame) -> int:
    """Number of Exchange (shuffle) operators in the physical plan. After
    adaptive execution the explain output carries BOTH final and initial
    plans — only the final section (before '== Initial Plan ==') counts."""
    text = explain_str(df, "simple").split("== Initial Plan ==")[0]
    return len(re.findall(r"Exchange (?:hashpartitioning|rangepartitioning|SinglePartition)", text))


def partitionless_window_count(df: DataFrame) -> int:
    """Number of physical Window operators with an EMPTY partition spec —
    the one-task-holds-everything shape that serializes a corpus through
    a single executor at scale (the repo-wide rule: distributed prefix
    ranks via order-preserving bucketing, never a partition-less window).
    A fully-specified Window prints three top-level bracket groups
    ``Window [funcs], [partSpec], [orderSpec]``; with only two, the
    second is EITHER the partition spec (unordered window — fine) or the
    order spec (partition-less — flagged): order specs carry ASC/DESC
    markers, partition specs never do."""
    text = explain_str(df, "simple").split("== Initial Plan ==")[0]
    n = 0
    for line in text.splitlines():
        m = re.search(r"\bWindow(?:GroupLimit)? (\[.*)$", line)
        if not m or "WindowGroupLimit" in line:
            continue  # group-limit pushdown nodes mirror the real Window
        groups: list[str] = []
        depth = 0
        for ch in m.group(1):
            if ch == "[":
                if depth == 0:
                    groups.append("")
                depth += 1
            elif ch == "]":
                depth -= 1
            if depth > 0:
                groups[-1] += ch
        if len(groups) >= 3:
            continue  # [funcs], [partSpec], [orderSpec]
        if len(groups) == 2 and not re.search(r" ASC| DESC", groups[1]):
            continue  # [funcs], [partSpec] — partitioned, unordered
        n += 1
    return n


# ---------------------------------------------------------------------------
# Plan-dump hygiene (VERDICT r11 #4): formatted explain reprints a cached
# frame's ENTIRE upstream tree (fresh node ids each time) under every
# InMemoryTableScan consumer — the six-stage capstone's dump hit 28.6 MB
# with 11,005 copies of the same few subplans, so the grep audit mostly
# re-scanned duplicated text. dump_str dedupes REPEATED LINE RUNS: the
# first occurrence of every distinct plan fragment stays verbatim (a
# CartesianProduct inside a cached body cannot hide — its first print
# survives), later identical runs collapse to one marker line, and the
# node-detail blocks of elided tree lines are dropped. Run-level (not
# subtree-level) because Spark re-anchors nested "== Final Plan ==" AQE
# sections at arbitrary indents, which defeats indentation-based subtree
# extraction.
# ---------------------------------------------------------------------------

# anchored to line END: tree lines carry their node id as a trailing
# "(N)", while parenthesized integers elsewhere in the line are expression
# literals — matching those made elided_ids/kept_ids imprecise (ADVICE r12)
_NODE_ID_RE = re.compile(r"\((\d+)\)\s*$")
_DETAIL_HEADER_RE = re.compile(r"^\((\d+)\) ")
_PLAN_NOISE_RES = (
    (re.compile(r"#\d+"), "#"),              # expression ids
    (re.compile(r"\((\d+)\)"), "(#)"),       # node ids
    (re.compile(r"Statistics\([^)]*\)"), "Statistics(#)"),
    (re.compile(r"plan_id=\d+"), "plan_id=#"),
    (re.compile(r"\[\d+\]"), "[#]"),         # RDD ids
)

#: a repeated run shorter than this stays verbatim — markers for tiny
#: repeats (single Filters, column lists) would hurt readability more
#: than the bytes they save
_MIN_ELIDE_RUN = 12
#: normalized-line n-gram that seeds a candidate match
_RUN_SEED = 8


def _norm_plan_line(line: str) -> str:
    s = line.lstrip(" :")
    for rx, rep in _PLAN_NOISE_RES:
        s = rx.sub(rep, s)
    return s


def dump_str(df: DataFrame) -> str:
    """``explain('formatted')`` with duplicated cached-plan text elided —
    the audit-grade dump the Tier-1 plan audit (``tests/plan_audit.py``)
    writes."""
    return dedupe_plan_text(explain_str(df, "formatted"))


def dedupe_plan_text(text: str) -> str:
    """The pure text transform behind :func:`dump_str` (separate so tests
    replay it on stored dumps without a SparkSession): greedy
    first-occurrence-wins dedupe of repeated normalized line runs in the
    tree section, then detail-block cleanup for elided node ids."""
    lines = text.splitlines()
    tree_end = len(lines)
    for i, ln in enumerate(lines):
        if _DETAIL_HEADER_RE.match(ln):
            tree_end = i
            break

    norm = [_norm_plan_line(ln) for ln in lines[:tree_end]]
    seeds: dict[tuple, int] = {}
    out: list[str] = []
    elided_ids: set[str] = set()
    i = 0
    while i < tree_end:
        key = tuple(norm[i : i + _RUN_SEED])
        j = seeds.get(key) if len(key) == _RUN_SEED else None
        if j is not None and j < i:
            m = 0
            while i + m < tree_end and norm[j + m] == norm[i + m] and j + m < i:
                m += 1
            if m >= _MIN_ELIDE_RUN:
                indent = lines[i][: len(lines[i]) - len(lines[i].lstrip(" :"))]
                out.append(
                    f"{indent}[... {m}-line cached-subplan reprint elided "
                    f"— identical (modulo ids/stats) to text above ...]"
                )
                for k in range(i, i + m):
                    elided_ids.update(_NODE_ID_RE.findall(lines[k]))
                i += m
                continue
        if len(key) == _RUN_SEED:
            seeds.setdefault(key, i)
        out.append(lines[i])
        i += 1

    # detail blocks: a node id whose every tree occurrence was elided
    # carries no information the kept text anchors — drop its block.
    # Ids still present in kept tree lines keep their details.
    kept_ids: set[str] = set()
    for ln in out:
        kept_ids.update(_NODE_ID_RE.findall(ln))
    drop = elided_ids - kept_ids
    keep = True
    for ln in lines[tree_end:]:
        dm = _DETAIL_HEADER_RE.match(ln)
        if dm:
            keep = dm.group(1) not in drop
        elif not ln.startswith((" ", "\t")) and ln.strip():
            keep = True  # section headers (Subqueries etc.) always kept
        if keep:
            out.append(ln)
    return "\n".join(out) + "\n"


# ---------------------------------------------------------------------------
# The no-rider explode rule as a standing guard (round 14, VERDICT r13
# Missing #2): `select(size(arr_expr), explode(arr_expr))` re-evaluates
# the WHOLE array build per exploded row — measured 18× (≈ mean
# shingles/doc) on the decode side of every affected scan, invisible at
# fixture size (SCALE.md round 13 "the per-exploded-row recompute"). The
# r13 fix materialized the array in its own Project (`__arr`) at the
# three carrying sites; this guard makes a REVERT a test failure at every
# registry entry, not a round-later bench-audit find.
# ---------------------------------------------------------------------------

#: generator functions whose argument is the candidate array subtree
_GENERATOR_FNS = ("explode", "posexplode", "inline")

_LAMBDA_VAR_RE = re.compile(r"(lambda [A-Za-z]+)_\d+")
_EXPR_ID_RE = re.compile(r"#\d+")


def _norm_expr(s: str) -> str:
    """Normalize a plan expression for identity-modulo-ids comparison:
    expression ids (`#12`) and lambda variable numbering (`x_1`) are
    fresh per evaluation site, so the same source expression prints
    differently at its Generate and its rider."""
    return _LAMBDA_VAR_RE.sub(r"\1", _EXPR_ID_RE.sub("#", s))


def _tree_depth(line: str) -> int:
    """Depth of a plan-tree line from its leading tree art (3 chars per
    level: `+- `, `:- `, `:  `, `   `)."""
    return (len(line) - len(line.lstrip(" :+-"))) // 3


def _balanced_arg(text: str, start: int) -> str | None:
    """The balanced-paren argument starting at ``start`` (just past the
    opening paren), up to the matching close."""
    depth = 1
    for i in range(start, len(text)):
        ch = text[i]
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
            if depth == 0:
                return text[start:i]
    return None


def explode_rider_sites(
    df: DataFrame, plan: str = "analyzed"
) -> list[dict[str, str]]:
    """Scan a frame's logical plan (``plan``: "analyzed" — the source
    form — or "optimized" — after CollapseProject et al., catching an
    optimizer-level re-inline of a materialized array, ADVICE r13) for
    the per-exploded-row recompute anti-pattern: a ``Generate
    explode(E)`` over a NON-trivial array expression ``E`` (not a bare
    attribute) whose identical subtree (modulo expr/lambda ids) ALSO
    appears in an ANCESTOR node — ancestors evaluate once per *exploded
    output* row, so any re-occurrence there multiplies the array build
    by the mean array length. Text-level with real tree ancestry
    (indentation-stack), so the legitimate forms stay quiet: the
    materialized `__arr` Project (the build sits BELOW the Generate),
    decontaminate's separate size-totals scan (a sibling branch, not an
    ancestor), and Catalyst's own pushed-down size filters (below the
    Generate). Returns one dict per offending site: {generator, expr
    (truncated), ancestor}."""
    qe = df._jdf.queryExecution()
    tree = qe.analyzed() if plan == "analyzed" else qe.optimizedPlan()
    lines = tree.toString().splitlines()
    depths = [_tree_depth(ln) for ln in lines]
    sites: list[dict[str, str]] = []
    for i, ln in enumerate(lines):
        m = re.search(r"Generate (\w+)\(", ln)
        if not m or m.group(1) not in _GENERATOR_FNS:
            continue
        arg = _balanced_arg(ln, m.end())
        if arg is None or "(" not in arg:
            continue  # bare attribute (materialized form) — safe
        norm = _norm_expr(arg)
        # ancestor chain: walk upward keeping strictly-decreasing depth
        d = depths[i]
        for j in range(i - 1, -1, -1):
            if depths[j] < d:
                d = depths[j]
                if norm in _norm_expr(lines[j]):
                    sites.append(
                        {
                            "generator": m.group(1),
                            "expr": arg[:160],
                            "ancestor": lines[j].strip()[:160],
                        }
                    )
                    break
            if d == 0:
                break
    return sites


def assert_no_explode_rider(df: DataFrame) -> None:
    """Raise if :func:`explode_rider_sites` finds the anti-pattern —
    pinned across every registry entry in tests/test_plan_shapes.py."""
    sites = explode_rider_sites(df)
    if sites:
        raise AssertionError(
            "per-exploded-row recompute (the no-rider rule, SCALE.md "
            f"round 13): {sites} — materialize the array in its own "
            "Project (withColumn) and size/explode the COLUMN"
        )


#: Physical nodes with ZERO legitimate uses anywhere in this repo — an
#: unconstrained CartesianProduct (the join-explosion failure mode; the
#: bounded 1-row crossJoin(broadcast(...)) contract plans as
#: BroadcastNestedLoopJoin, which is separately audited per-query) and
#: BatchEvalPython (a row-at-a-time Python UDF on a hot path; the
#: sanctioned Python surfaces — ArrowEvalPython, MapInPandas,
#: FlatMapGroupsInPandas — are different node names and do not match).
_FORBIDDEN_PHYSICAL_NODES = ("CartesianProduct", "BatchEvalPython")


def physical_anti_pattern_nodes(df: DataFrame) -> list[str]:
    """The repo-wide physical anti-patterns present in ``df``'s plan
    (round 14 — the judge-sweep checks 'zero CartesianProduct, no
    row-at-a-time Python UDFs' as a STANDING guard over every registry
    entry instead of a per-round manual grep). Reads the 'simple'
    physical explain — under AQE that is the initial plan, which is
    sufficient: both nodes are chosen at planning time, never introduced
    by adaptive re-optimization."""
    text = explain_str(df, "simple")
    hits = []
    for n in _FORBIDDEN_PHYSICAL_NODES:
        if n == "BatchEvalPython":
            # exact-node match: BatchEvalPythonUDTF is the sanctioned
            # table-function surface (X7 — a different operator whose
            # name merely shares the prefix), BatchEvalPythonExec's
            # plan line prints as "BatchEvalPython ["
            if re.search(r"BatchEvalPython(?!UDTF)", text):
                hits.append(n)
        elif n in text:
            hits.append(n)
    return hits


def analyzed_plan_stats(df: DataFrame) -> dict[str, int]:
    """Size of a frame's analyzed LOGICAL plan: ``{"bytes": text size,
    "nodes": tree-line count}`` — the standing guard for the round-12
    lineage-truncation finding (VERDICT r12 Missing #3).

    A multi-stage composition whose barriers merely ``persist`` embeds
    the full upstream tree MULTIPLICATIVELY in every downstream plan —
    measured round 12 at ~100 MB of analyzed-plan text / 24,592 embedded
    scans and 10-13 s of pure DRIVER planning per action on a 298-row
    result, a scalability cliff independent of data size.  Barriers must
    truncate lineage (eager ``localCheckpoint``); this helper makes that
    a build-time assertion (``assert_analyzed_plan_bounded``, pinned in
    ``tests/test_plan_shapes.py`` for every composed registry entry)
    instead of a bench anomaly."""
    txt = df._jdf.queryExecution().analyzed().toString()
    return {"bytes": len(txt), "nodes": txt.count("\n") + 1}


def assert_analyzed_plan_bounded(
    df: DataFrame, max_bytes: int = 1 << 20, max_nodes: int = 4000
) -> dict[str, int]:
    """Raise if the analyzed plan outgrows the bounds; returns the stats
    so callers can log them.  1 MiB / 4,000 nodes is ~25× any healthy
    composed pipeline here (the truncated capstone measures ~29 KB) and
    ~100× under the round-12 blowup — a regrown multiplicative tree
    fails loudly long before it costs bench seconds."""
    stats = analyzed_plan_stats(df)
    if stats["bytes"] > max_bytes or stats["nodes"] > max_nodes:
        raise AssertionError(
            f"analyzed plan blew up: {stats['bytes']:,} bytes / "
            f"{stats['nodes']:,} nodes (bounds {max_bytes:,} / "
            f"{max_nodes:,}) — a pipeline barrier is persisting instead "
            "of truncating lineage (localCheckpoint); see VERDICT r12 #7"
        )
    return stats
