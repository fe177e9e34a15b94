"""Host-normalized bench-band logic (tools/bench_bands.py) — pure
Python, no Spark (VERDICT r08 #2). The decisive scenario: a 2× slowdown
on ONE query must trip out_of_band even when the whole suite is riding a
simulated 1.3× uniform host drift — exactly the case the r8 width-floor
rule absorbed silently.

The two plan-audit tests are the exception: they run the
``bench.py --profile`` plan pass (:func:`bench.dump_profile_plans`) over
HEADLINE at sf0.001 on the session Spark fixture, into a temporary
directory, and audit those dumps."""

from __future__ import annotations

import json
import os

import pytest
from conftest import SF_SMOKE

from tools.bench_bands import (
    band_limits,
    center,
    host_ratio,
    host_ratios,
    trend_watch,
    verdict,
)

SPEC = {
    "sf": 0.1,
    "calibration": ["cal_a", "cal_b", "cal_c"],
    "bands": {
        "cal_a": {"obs": [0.48, 0.50, 0.52]},
        "cal_b": {"obs": [0.26, 0.28, 0.30]},
        "cal_c": {"obs": [0.70, 0.74, 0.78]},
        "narrow": {"obs": [1.9, 2.0, 2.1]},
        "tiny": {"obs": [0.10, 0.11, 0.12]},
    },
}
HEADLINE = ["cal_a", "cal_b", "cal_c", "narrow", "tiny", "brand_new"]

#: two-class variant (r11): arrow_q normalizes under the "compute"
#: ratio measured from arrow_cal_{a,b,c}; everything else under default
SPEC2 = {
    "sf": 0.1,
    "calibration": ["cal_a", "cal_b", "cal_c"],
    "calibration_classes": {
        "compute": ["arrow_cal_a", "arrow_cal_b", "arrow_cal_c"]
    },
    "bands": {
        **SPEC["bands"],
        "arrow_cal_a": {"obs": [1.4, 1.5, 1.6], "class": "compute"},
        "arrow_cal_b": {"obs": [0.55, 0.60, 0.65], "class": "compute"},
        "arrow_cal_c": {"obs": [2.8, 3.0, 3.2], "class": "compute"},
        "arrow_q": {"obs": [1.0, 1.05, 1.1], "class": "compute"},
    },
}
HEADLINE2 = HEADLINE + ["arrow_cal_a", "arrow_cal_b", "arrow_cal_c", "arrow_q"]


def _warm(drift: float, overrides: dict | None = None) -> dict:
    w = {n: center(b) * drift for n, b in SPEC["bands"].items()}
    w.update(overrides or {})
    return w


def test_uniform_drift_passes_and_is_measured():
    """A 1.3× uniform swing (the measured r8 host behavior) normalizes
    away: host_ratio ≈ 1.3, zero out_of_band, new query listed no_band."""
    v = verdict(_warm(1.3), SPEC, HEADLINE)
    assert abs(v["host_ratio"] - 1.3) < 1e-9
    assert v["out_of_band"] == {}
    assert v["no_band"] == ["brand_new"]


def test_2x_regression_trips_inside_uniform_drift():
    """THE r8 gap: narrow-spread query 2× slower while the box drifts
    1.3× uniformly — raw seconds (2.0·2.6=5.2s) would have passed the old
    [0.8, 5.2] width-floor band; normalized (5.2/1.3 = 4.0 > hi=3.6) it
    trips, and the report carries raw + normalized + band for diagnosis."""
    v = verdict(_warm(1.3, {"narrow": center(SPEC["bands"]["narrow"]) * 2 * 1.3}),
                SPEC, HEADLINE)
    assert list(v["out_of_band"]) == ["narrow"]
    f = v["out_of_band"]["narrow"]
    assert f["sec"] == 5.2 and abs(f["norm_sec"] - 4.0) < 1e-6
    assert f["hi"] == 3.6  # 1.8 * center


def test_calibration_regression_flags_itself_not_others():
    """One calibration query regressing 3× shifts the MEDIAN ratio only
    slightly (the other two hold it near 1.0), so the regressed query
    flags itself and healthy queries stay green."""
    v = verdict(_warm(1.0, {"cal_a": center(SPEC["bands"]["cal_a"]) * 3}),
                SPEC, HEADLINE)
    assert list(v["out_of_band"]) == ["cal_a"]


def test_ratio_clamp_blocks_suitewide_normalization():
    """A suite-wide 4× regression must NOT normalize itself away: the
    ratio clamps at 1.8 (above the worst observed genuine drift) and
    everything (tiny's absolute slack aside) flags, with the pegged
    ratio itself signalling the run is unusable-or-regressed."""
    v = verdict(_warm(4.0), SPEC, HEADLINE)
    assert v["host_ratio"] == 1.8
    assert set(v["out_of_band"]) >= {"cal_a", "cal_b", "cal_c", "narrow"}


def test_absolute_slack_covers_subsecond_noise():
    """Sub-second queries get additive slack: tiny (center 0.11s) at
    0.3s raw under ratio 1.0 is within hi = max(1.8·0.11, 0.11+0.25) =
    0.36 — additive noise on short timings doesn't flag."""
    v = verdict(_warm(1.0, {"tiny": 0.3}), SPEC, HEADLINE)
    assert "tiny" not in v["out_of_band"]
    lo, hi = band_limits(SPEC["bands"]["tiny"])
    assert hi == 0.36 and lo == 0.0  # 0.35*0.11 - 0.05 floors at 0


def test_missing_calibration_defaults_to_unit_ratio():
    assert host_ratio({"narrow": 2.0}, SPEC) == 1.0
    assert host_ratio({}, {"bands": {}}) == 1.0


def _warm2(default_drift: float, compute_drift: float, overrides=None) -> dict:
    w = {}
    for n, b in SPEC2["bands"].items():
        d = compute_drift if b.get("class") == "compute" else default_drift
        w[n] = center(b) * d
    w.update(overrides or {})
    return w


def test_family_structured_drift_normalizes_per_class():
    """THE r10 gap (VERDICT r10 #3): relational lanes 5% fast while
    Arrow/hash lanes run 1.25× slow, zero code change. One scalar ratio
    reads the compute family as ~1.3× regressed; per-class ratios
    measure 0.95 and 1.25 separately and everything is green."""
    v = verdict(_warm2(0.95, 1.25), SPEC2, HEADLINE2)
    assert abs(v["host_ratios"]["default"] - 0.95) < 1e-9
    assert abs(v["host_ratios"]["compute"] - 1.25) < 1e-9
    assert v["out_of_band"] == {}


def test_compute_class_regression_trips_under_its_own_ratio():
    """A genuine 2.2× regression on one compute-class query flags even
    while BOTH classes drift (default 1.1×, compute 1.3×) — normalized
    by the compute ratio it still exceeds hi, and the report names the
    class that normalized it."""
    over = {"arrow_q": center(SPEC2["bands"]["arrow_q"]) * 2.2 * 1.3}
    v = verdict(_warm2(1.1, 1.3, over), SPEC2, HEADLINE2)
    assert list(v["out_of_band"]) == ["arrow_q"]
    assert v["out_of_band"]["arrow_q"]["class"] == "compute"


def test_unmeasurable_class_falls_back_to_default_ratio():
    """A class whose calibration queries are absent from this run's warm
    dict inherits the default ratio instead of silently using 1.0."""
    warm = {n: center(b) * 1.4 for n, b in SPEC["bands"].items()}
    r = host_ratios(warm, SPEC2)
    assert abs(r["default"] - 1.4) < 1e-9 and r["compute"] == r["default"]


def test_trend_watch_flags_monotone_in_band_creep():
    """Three rounds each +12% (all inside the ±80% band) — invisible to
    the band check, flagged by the trend alarm with rounds and rise."""
    spec = dict(SPEC2)
    spec["history"] = {
        "arrow_q": [[8, 1.0], [9, 1.12], [10, 1.254]],
        "narrow": [[8, 2.0], [9, 1.9], [10, 2.1]],      # not monotone
        "tiny": [[9, 0.10], [10, 0.11]],                 # too short
        "cal_a": [[8, 0.50], [9, 0.51], [10, 0.52]],     # rise < 20%
    }
    tw = trend_watch(spec, HEADLINE2)
    assert list(tw) == ["arrow_q"]
    assert tw["arrow_q"]["rounds"] == [8, 9, 10]
    assert tw["arrow_q"]["rise"] >= 1.25
    # verdict carries the alarm without tripping out_of_band
    v = verdict(_warm2(1.0, 1.0), spec, HEADLINE2)
    assert list(v["trend_watch"]) == ["arrow_q"] and v["out_of_band"] == {}


def test_checked_in_spec_is_coherent():
    """The real bench_bands.json: calibration queries exist with bands,
    every band's stored lo/hi equals the rule output (regenerated
    whenever obs change), and a self-reading at obs centers is green."""
    path = os.path.join(os.path.dirname(__file__), "..", "bench_bands.json")
    spec = json.load(open(path))
    assert len(spec["calibration"]) >= 3
    for q in spec["calibration"]:
        assert q in spec["bands"], q
    # r11: every calibration class has >=3 banded anchors, disjoint from
    # the default set, each tagged with its own class
    for cls, names in spec["calibration_classes"].items():
        assert len(names) >= 3 and not (set(names) & set(spec["calibration"]))
        for q in names:
            assert spec["bands"][q].get("class") == cls, q
    for name, band in spec["bands"].items():
        lo, hi = band_limits(band)
        assert (band["lo"], band["hi"]) == (round(lo, 3), round(hi, 3)), name
        assert band.get("class") in (None, *spec["calibration_classes"]), name
    # history: chronological per-query [round, sec] pairs, known queries
    for q, h in spec.get("history", {}).items():
        assert q in spec["bands"], q
        rounds = [r for r, _s in h]
        assert rounds == sorted(rounds) and all(s > 0 for _r, s in h), q
    warm = {n: center(b) for n, b in spec["bands"].items()}
    v = verdict(warm, spec, sorted(spec["bands"]))
    assert v["host_ratio"] == 1.0 and v["out_of_band"] == {}
    assert all(r == 1.0 for r in v["host_ratios"].values())


@pytest.fixture(scope="module")
def plans_dir(spark, tmp_path_factory):
    """One profile pass per module: every HEADLINE query's final physical
    plan (plus the audit variants), dumped by the same code path as
    ``bench.py --profile`` but at sf0.001 and into a temporary directory,
    so the audit needs no pre-built, git-ignored ``bench_plans/``."""
    import bench

    out = str(tmp_path_factory.mktemp("bench_plans"))
    bench.dump_profile_plans(spark, SF_SMOKE, out, bench.HEADLINE)
    return out


def test_bench_plans_cover_headline(plans_dir):
    """VERDICT r10 #2 (plan-audit freshness): every HEADLINE query has a
    dumped physical plan — the profile pass dumps ALL of HEADLINE, so a
    missing dump means a headline query is left out of the audit
    (exactly how the two heaviest r10 queries shipped with an unaudited
    plan). The pass runs on every Tier-1 run (the ``plans_dir``
    fixture), so the audit cannot go stale."""
    import bench

    dumped = {f[: -len(".plan.txt")] for f in os.listdir(plans_dir)
              if f.endswith(".plan.txt")}
    missing = sorted(set(bench.HEADLINE) - dumped)
    assert not missing, f"headline queries with no plan dump: {missing}"
    # size cap (VERDICT r11 #4): --profile dedupes cached-subplan
    # reprints (plans.checks.dump_str) — a dump past 2 MB means either
    # the profile pass predates the dedupe or a plan genuinely exploded;
    # both must fail loudly, not ship a 28.6 MB unreviewable blob
    cap = 2 * 1024 * 1024
    oversized = sorted(
        f for f in os.listdir(plans_dir)
        if f.endswith(".plan.txt")
        and os.path.getsize(os.path.join(plans_dir, f)) > cap
    )
    assert not oversized, f"plan dumps over {cap} bytes: {oversized}"
    # checkpoint-truncated queries also commit their UNTRUNCATED audit
    # variant (VERDICT r15 "What's wrong" #1): the variant dump must
    # exist, show the real joins the stub hides, and carry none of the
    # anti-pattern nodes the standing greps screen for
    for vname in bench.plan_audit_variants():
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
    keeps >=1 benched headline representative — a family can only skip
    the bench through the documented UNBENCHED_FAMILIES ledger (with a
    written reason), and a registry entry with an unmapped prefix fails
    here until bench.FAMILY_PREFIXES claims it."""
    import bench

    from ucr_bigdata_snowfallproject_spark.queries import REGISTRY

    unmapped = sorted(n for n in REGISTRY if bench.family_of(n) is None)
    assert not unmapped, f"registry entries with unmapped family: {unmapped}"

    headline_fams = {bench.family_of(n) for n in bench.HEADLINE}
    registry_fams = {bench.family_of(n) for n in REGISTRY}
    missing = sorted(
        f
        for f in registry_fams
        if f not in headline_fams and f not in bench.UNBENCHED_FAMILIES
    )
    assert not missing, f"families with no headline representative: {missing}"
    # every documented exclusion carries a real reason and is still a
    # live family (drop the ledger row when the family gains a bench rep)
    for fam, reason in bench.UNBENCHED_FAMILIES.items():
        assert fam in registry_fams and len(reason) > 40, fam
        assert fam not in headline_fams, f"{fam} is benched — drop the ledger row"
    # every headline query exists in the registry (no stale bench names)
    stale = sorted(n for n in bench.HEADLINE if n not in REGISTRY)
    assert not stale, f"headline names missing from registry: {stale}"


def test_headline_queries_all_have_bands_or_are_new():
    """Every benched headline query has a seeded band in bench_bands.json
    — a new headline entry may ride at most ONE round without a band (the
    verdict lists it under no_band), so this test pins the ledger: any
    bandless query must be in the spec's documented `pending_seed` list."""
    import bench

    path = os.path.join(os.path.dirname(__file__), "..", "bench_bands.json")
    spec = json.load(open(path))
    pending = set(spec.get("pending_seed", []))
    missing = sorted(
        n for n in bench.HEADLINE if n not in spec["bands"] and n not in pending
    )
    assert not missing, (
        f"headline queries without a band or pending_seed entry: {missing}"
    )
    # pending_seed may not hide queries that already have bands
    assert not (pending & set(spec["bands"])), "seeded queries still pending"


def test_trend_watch_collapses_same_round_entries():
    """Round-13 fix: multiple same-round history entries (maintenance +
    final appends, adjudication re-measures) collapse to their per-round
    MEDIAN before the monotonicity test — an intra-round spread between
    a loaded-box and a quiet-box append must NOT arm the cross-round
    alarm (two r13 volleys fired exactly this way)."""
    spec = dict(SPEC2)
    spec["history"] = {
        # intra-round spread: r10 entries 0.9/1.3 straddle — median 1.1;
        # rounds 8,9,10 medians = 1.0, 1.05, 1.1 -> rise 1.1 < 1.2: quiet
        "arrow_q": [[8, 1.0], [9, 1.05], [10, 0.9], [10, 1.3]],
        # genuine creep ACROSS rounds still fires through duplicates:
        # medians 1.0, 1.15, 1.32
        "narrow": [[8, 1.0], [9, 1.1], [9, 1.2], [10, 1.3], [10, 1.34]],
        # three points but only TWO distinct rounds: too short
        "tiny": [[9, 0.10], [10, 0.11], [10, 0.12]],
    }
    tw = trend_watch(spec, HEADLINE2)
    assert list(tw) == ["narrow"]
    assert tw["narrow"]["rounds"] == [8, 9, 10]
    assert tw["narrow"]["norm"] == [1.0, 1.15, 1.32]


def test_trend_adjudicated_suppresses_until_new_round():
    """Round-13: a trend_adjudicated entry records an examined,
    environmental-ruled rise — the alarm stays quiet for windows ending
    at or before the adjudicated round, and RE-ARMS the moment a later
    round extends the window (a persisting rise must re-fire)."""
    spec = dict(SPEC2)
    spec["history"] = {
        "arrow_q": [[8, 1.0], [9, 1.12], [10, 1.254]],
    }
    spec["trend_adjudicated"] = {
        "arrow_q": {"round": 10, "note": "r10 A/B: environmental"}
    }
    assert trend_watch(spec, HEADLINE2) == {}
    # a NEW round with a still-rising value re-fires
    spec["history"]["arrow_q"].append([11, 1.41])
    tw = trend_watch(spec, HEADLINE2)
    assert list(tw) == ["arrow_q"] and tw["arrow_q"]["rounds"] == [9, 10, 11]


def test_anchor_ledger_protocol():
    """Round-15 (VERDICT r14 #1): the box-decay protocol — the three
    compute anchors run standalone at round START and END, both points
    ledgered. This pins the committed ledger's shape so future rounds
    keep the protocol: every point names its round, start/end position,
    a warm number for EVERY compute calibration anchor, the run's
    measured compute ratio, and >=5 warm passes (the pre-registered
    protocol); and once a round has a start point it must also get an
    end point (the latest round may be mid-flight only until its
    round-close commit — both r15 points exist, so the invariant holds
    retroactively for every ledgered round)."""
    path = os.path.join(os.path.dirname(__file__), "..", "bench_bands.json")
    spec = json.load(open(path))
    ledger = spec.get("anchor_ledger")
    assert ledger and ledger["points"], "anchor_ledger missing or empty"
    anchors = set(spec["calibration_classes"]["compute"])
    rounds = {}
    for pt in ledger["points"]:
        assert pt["point"] in ("start", "end")
        assert set(pt["warm"]) == anchors, pt
        assert pt["warm_repeat"] >= 5, pt
        assert 0.3 < pt["compute_ratio"] < 3.0, pt
        rounds.setdefault(pt["round"], set()).add(pt["point"])
    for rnd, pts in rounds.items():
        # the LATEST ledgered round may be mid-flight with only its
        # start point (the docstring's exemption, made real in round 16
        # — the start point is now committed when measured, not held
        # back until round close); every earlier round needs both
        if rnd == max(rounds) and pts == {"start"}:
            continue
        assert pts == {"start", "end"}, (
            f"round {rnd} ledgered {sorted(pts)} — the protocol is one "
            "start AND one end point per round"
        )
