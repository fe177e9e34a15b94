"""The Tier-1 plan audit (``tests/plan_audit.py``): every HEADLINE
query's final physical plan, plus the audit variants, dumped at sf0.001
into a temporary directory, and the registry's operator families
covered by HEADLINE."""

from __future__ import annotations

import os

import plan_audit
import pytest
from conftest import SF_SMOKE


@pytest.fixture(scope="module")
def plans_dir(spark, tmp_path_factory):
    """One dump pass per module: every HEADLINE query's final physical
    plan (plus the audit variants) at sf0.001, into a temporary
    directory."""
    out = str(tmp_path_factory.mktemp("plans"))
    plan_audit.dump_profile_plans(spark, SF_SMOKE, out)
    return out


def test_bench_plans_cover_headline(plans_dir):
    """VERDICT r10 #2 (plan-audit freshness): every HEADLINE query has a
    dumped physical plan — the profile pass dumps ALL of HEADLINE, so a
    missing dump means a headline query is left out of the audit
    (exactly how the two heaviest r10 queries shipped with an unaudited
    plan). The pass runs on every Tier-1 run (the ``plans_dir``
    fixture), so the audit cannot go stale."""
    dumped = {f[: -len(".plan.txt")] for f in os.listdir(plans_dir)
              if f.endswith(".plan.txt")}
    missing = sorted(set(plan_audit.HEADLINE) - dumped)
    assert not missing, f"headline queries with no plan dump: {missing}"
    # size cap (VERDICT r11 #4): the dump pass dedupes cached-subplan
    # reprints (plans.checks.dump_str) — a dump past 2 MB means either
    # the dump pass skipped the dedupe or a plan genuinely exploded;
    # both must fail loudly, not ship a 28.6 MB unreviewable blob
    cap = 2 * 1024 * 1024
    oversized = sorted(
        f for f in os.listdir(plans_dir)
        if f.endswith(".plan.txt")
        and os.path.getsize(os.path.join(plans_dir, f)) > cap
    )
    assert not oversized, f"plan dumps over {cap} bytes: {oversized}"
    # checkpoint-truncated queries also dump their UNTRUNCATED audit
    # variant (VERDICT r15 "What's wrong" #1): the variant dump must
    # exist, show the real joins the stub hides, and carry none of the
    # anti-pattern nodes the standing greps screen for
    for vname in plan_audit.plan_audit_variants():
        vpath = os.path.join(plans_dir, f"{vname}.plan.txt")
        assert os.path.exists(vpath), f"missing audit-variant dump {vname}"
        text = open(vpath).read()
        assert "CartesianProduct" not in text, vname
        assert "BroadcastNestedLoop" not in text, vname
        assert ("SortMergeJoin" in text or "ShuffledHashJoin" in text
                or "BroadcastHashJoin" in text), (
            f"{vname}: audit variant shows no real join — is it a stub?"
        )


def test_dedupe_plan_text_keeps_first_occurrences(plans_dir):
    """plans.checks.dedupe_plan_text (VERDICT r11 #4): every distinct
    normalized TREE line of the input survives in the output — eliding
    only ever removes a run whose identical (modulo node/expression ids
    and runtime stats) text appeared earlier, so a CartesianProduct or
    any other audit-relevant node inside a cached body cannot be hidden
    by the dedupe. Replayed on the heaviest dump of the profile pass."""
    from ucr_bigdata_snowfallproject_spark.plans import checks

    biggest = max(
        (f for f in os.listdir(plans_dir) if f.endswith(".plan.txt")),
        key=lambda f: os.path.getsize(os.path.join(plans_dir, f)),
    )
    text = open(os.path.join(plans_dir, biggest)).read()
    out = checks.dedupe_plan_text(text)
    assert len(out) <= len(text) + 1
    lines = text.splitlines()
    tree_end = next(
        (i for i, ln in enumerate(lines) if checks._DETAIL_HEADER_RE.match(ln)),
        len(lines),
    )
    outnorm = {checks._norm_plan_line(ln) for ln in out.splitlines()}
    missing = {
        checks._norm_plan_line(ln) for ln in lines[:tree_end]
    } - outnorm
    assert not {m for m in missing if m.strip()}, sorted(missing)[:5]
    # idempotent: a deduped dump passes through unchanged-or-smaller
    assert len(checks.dedupe_plan_text(out)) <= len(out) + 1


def test_every_registry_family_has_a_headline_rep():
    """VERDICT r09 #7: every semantic operator family in the registry
    keeps >=1 HEADLINE representative in the plan audit, and a registry
    entry with an unmapped prefix fails here until
    plan_audit.FAMILY_PREFIXES claims it."""
    from ucr_bigdata_snowfallproject_spark.queries import REGISTRY

    unmapped = sorted(n for n in REGISTRY if plan_audit.family_of(n) is None)
    assert not unmapped, f"registry entries with unmapped family: {unmapped}"

    headline_fams = {plan_audit.family_of(n) for n in plan_audit.HEADLINE}
    registry_fams = {plan_audit.family_of(n) for n in REGISTRY}
    missing = sorted(registry_fams - headline_fams)
    assert not missing, f"families with no headline representative: {missing}"
    # every headline query exists in the registry (no stale names)
    stale = sorted(n for n in plan_audit.HEADLINE if n not in REGISTRY)
    assert not stale, f"headline names missing from registry: {stale}"
