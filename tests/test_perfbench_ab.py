"""Paired A/B summary logic (tools/perfbench_ab.py) — pure Python, no
Spark: seed parsing, quartiles, and the claim rule (the change wins at
least nine tenths of the pairs and the median gap exceeds the base's
interquartile range; failed runs count for neither side), and the run
length coming from the benchmark's own declaration."""

from __future__ import annotations

import json

from tools.perfbench_ab import parse_seeds, quartiles, report, run_seconds


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
    report("w", pairs)
    out = capsys.readouterr().out
    assert "write_amp change wins 10/10 pairs (ties 0)" in out
    assert "spark_jobs change wins 10/10" in out
    assert out.count("gain claimable: yes") == 2
    assert "setup_s change wins 0/10 pairs (ties 10)" in out

    # two failed change runs: those pairs count for neither side → 8/10
    pairs[0]["change"] = _rec(correct=False)
    pairs[1]["change"] = _rec(correct=False)
    report("w", pairs)
    out = capsys.readouterr().out
    assert "failed runs base=0 change=2" in out
    assert "write_amp change wins 8/10 pairs" in out
    assert "gain claimable: yes" not in out


def test_run_length_comes_from_benchmark_json(tmp_path):
    (tmp_path / "BENCHMARK.json").write_text(json.dumps({"run_seconds": 7}))
    assert run_seconds(str(tmp_path)) == 7.0
