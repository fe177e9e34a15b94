"""Paired A/B summary logic (tools/perfbench_ab.py) — pure Python, no
Spark: seed parsing, quartiles, the claim rule (the change wins at
least nine tenths of the pairs and the median gap exceeds the base's
interquartile range; failed runs count for neither side), the
no-regression verdict per metric, and the run length and metric set
coming from the benchmark's own declaration."""

from __future__ import annotations

import json

from tools.perfbench_ab import (
    end_to_end, parse_seeds, quartiles, report, run_seconds, verdict,
)

METRICS = [
    {"name": "setup_s", "better": "lower", "bound": 0.25},
    {"name": "spark_jobs", "better": "lower", "bound": 0.25},
    {"name": "write_amp", "better": "lower", "bound": 0.2},
]


def _rec(correct=True, **metrics):
    return {"correct": correct, "metrics": metrics}


def test_parse_seeds_and_quartiles():
    assert parse_seeds("11-14") == [11, 12, 13, 14]
    assert parse_seeds("1,5,7-8") == [1, 5, 7, 8]
    assert quartiles([3.0]) == (3.0, 3.0, 3.0)
    assert quartiles([1.0, 2.0, 3.0, 4.0, 5.0]) == (2.0, 3.0, 4.0)


def test_report_claim_rule(capsys):
    pairs = [
        {"base": _rec(write_amp=13.0 + i / 10, spark_jobs=47, setup_s=0.6),
         "change": _rec(write_amp=6.5 + i / 10, spark_jobs=44, setup_s=0.6)}
        for i in range(10)
    ]
    report("w", pairs, METRICS)
    out = capsys.readouterr().out
    assert "write_amp change wins 10/10 pairs (ties 0)" in out
    assert "spark_jobs change wins 10/10" in out
    assert out.count("gain claimable: yes") == 2
    assert "setup_s change wins 0/10 pairs (ties 10)" in out

    # two failed change runs: those pairs count for neither side → 8/10
    pairs[0]["change"] = _rec(correct=False)
    pairs[1]["change"] = _rec(correct=False)
    report("w", pairs, METRICS)
    out = capsys.readouterr().out
    assert "failed runs base=0 change=2" in out
    assert "write_amp change wins 8/10 pairs" in out
    assert "gain claimable: yes" not in out


def test_no_regression_verdicts(capsys):
    base = [1.00, 1.01, 1.02, 0.99, 1.00, 0.98, 1.01, 1.00, 0.99, 1.02]
    # median 10 % worse, bound 25 %: within bound
    assert verdict(base, [x * 1.1 for x in base], "lower", 0.25) == "within bound"
    # median 40 % worse: worse
    assert verdict(base, [x * 1.4 for x in base], "lower", 0.25) == "worse"
    # a higher-is-better metric that drops 40 %: worse
    assert verdict(base, [x * 0.6 for x in base], "higher", 0.25) == "worse"
    # base IQR/median 0.5 > bound: unresolved, even with equal medians ...
    wide = [0.5, 0.75, 1.0, 1.25, 1.5]
    assert verdict(wide, wide, "lower", 0.25) == "unresolved"
    # ... unless every change run beats every base run
    assert verdict(wide, [0.1, 0.2, 0.3], "lower", 0.25) == "within bound"

    pairs = [{"base": _rec(setup_s=b), "change": _rec(setup_s=b * 1.4)} for b in base]
    report("w", pairs, METRICS[:1])
    assert "no-regression (bound 0.25): worse" in capsys.readouterr().out


def test_run_length_comes_from_benchmark_json(tmp_path):
    (tmp_path / "BENCHMARK.json").write_text(json.dumps({"run_seconds": 7}))
    assert run_seconds(str(tmp_path)) == 7.0


def test_metrics_come_from_benchmark_json(tmp_path):
    (tmp_path / "BENCHMARK.json").write_text(json.dumps({"end_to_end": METRICS}))
    assert end_to_end(str(tmp_path)) == METRICS
