#!/usr/bin/env python3
"""Paired A/B of the repository benchmark between two checkouts.

Runs ``perfbench/run.py --workload W --seed S --seconds T --trace 0`` in
a base checkout (e.g. a ``git archive`` export of the parent commit) and
in a change checkout, one pair per seed, alternating which side runs
first. ``T`` is ``run_seconds`` from the change checkout's
``BENCHMARK.json``, so both sides run exactly as the benchmark does.
Runs are strictly serial: never two Spark sessions at once.

    python3 tools/perfbench_ab.py --base ../parent --change . \\
        --workload gsod_etl_gbt --workload corpus_curation --seeds 11-20

The metrics are the ``end_to_end`` entries of the change checkout's
``BENCHMARK.json``, each with its ``better`` direction and ``bound``.
For each workload and side it prints every metric's median and
quartiles, and per metric:

- the pair win count and whether the change's gain is claimable: it
  wins at least nine tenths of the pairs, the medians differ by more
  than the base's interquartile range, and the change has no more
  failed runs than the base;
- a no-regression verdict: ``within bound`` (the change's median is no
  worse than the base's by more than ``bound`` of it), ``worse``, or
  ``unresolved`` (the base's IQR is wider than ``bound`` of its median
  and not every change run is better than every base run).

It also prints each side's median and quartiles of the wall timings
the benchmark prints but does not gate (``job_s``, ``cold_job_s``),
and of each benchmark process's own wall time (``wall_s``, with its
maximum, to check against the per-process time budget), labelled
"info, not gated", with no verdict.

A run that exits non-zero or reports ``correct: false`` counts as
failed; its pair counts for neither side. ``--jsonl`` appends every
run's record.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

SIDES = ("base", "change")
#: wall timings ``perfbench/run.py`` prints as ``name value unit`` lines
#: but leaves out of its gated metrics
INFO_METRICS = ("job_s", "cold_job_s")


def parse_seeds(spec: str) -> list[int]:
    """``"11-20"`` or ``"1,5,7"`` (or a mix) → seed list."""
    out: list[int] = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def _benchmark(checkout: str) -> dict:
    with open(os.path.join(checkout, "BENCHMARK.json")) as fh:
        return json.load(fh)


def run_seconds(checkout: str) -> float:
    """The benchmark's warm-window length, as ``BENCHMARK.json`` sets it."""
    return float(_benchmark(checkout)["run_seconds"])


def end_to_end(checkout: str) -> list[dict]:
    """The gated end-to-end metrics (``name``, ``better``, ``bound``), as
    ``BENCHMARK.json`` declares them."""
    return _benchmark(checkout)["end_to_end"]


def parse_info(stdout: str) -> dict[str, float]:
    """The :data:`INFO_METRICS` values among a run's printed lines."""
    out = {}
    for line in stdout.splitlines():
        parts = line.split()
        if len(parts) == 3 and parts[0] in INFO_METRICS:
            try:
                out[parts[0]] = float(parts[1])
            except ValueError:  # "n/a"
                pass
    return out


def run_one(checkout: str, workload: str, seed: int, seconds: float) -> dict:
    """One benchmark process in ``checkout``; its last stdout line is the
    JSON summary."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", f"{seconds:g}", "--trace", "0"]
    t0 = time.perf_counter()
    proc = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True)
    rec = {"checkout": checkout, "workload": workload, "seed": seed,
           "exit": proc.returncode, "wall_s": time.perf_counter() - t0,
           "correct": False, "metrics": {}, "info": parse_info(proc.stdout)}
    lines = proc.stdout.strip().splitlines()
    try:
        summary = json.loads(lines[-1])
    except (IndexError, json.JSONDecodeError):
        rec["error"] = proc.stderr[-2000:]
        return rec
    rec["correct"] = bool(summary.get("correct")) and proc.returncode == 0
    rec["metrics"] = {k: v["value"] for k, v in summary.get("metrics", {}).items()}
    return rec


def quartiles(xs: list[float]) -> tuple[float, float, float]:
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def verdict(base: list[float], change: list[float], better: str, bound: float) -> str:
    """No-regression verdict of one metric on one workload: ``within
    bound``, ``worse``, or ``unresolved`` when the base's own spread is
    wider than the bound and the change does not beat it outright."""
    sign = 1 if better == "lower" else -1  # sign * value: lower is better
    q1, bmed, q3 = quartiles(base)
    beats_all = max(sign * c for c in change) < min(sign * b for b in base)
    if q3 - q1 > bound * abs(bmed) and not beats_all:
        return "unresolved"
    worse_by = sign * (quartiles(change)[1] - bmed)
    return "within bound" if worse_by <= bound * abs(bmed) else "worse"


def report(workload: str, pairs: list[dict[str, dict]], metrics: list[dict]) -> None:
    ok = [p for p in pairs if all(p[s]["correct"] for s in SIDES)]
    failed = {s: sum(not p[s]["correct"] for p in pairs) for s in SIDES}
    print(f"## {workload}: {len(pairs)} pairs, {len(ok)} with both sides correct, "
          f"failed runs base={failed['base']} change={failed['change']}")
    for spec in metrics:
        m, sign = spec["name"], 1 if spec["better"] == "lower" else -1
        vals = {s: [p[s]["metrics"][m] for p in ok if m in p[s]["metrics"]] for s in SIDES}
        if not all(vals.values()):
            print(f"{m}: no samples")
            continue
        for s in SIDES:
            q1, med, q3 = quartiles(vals[s])
            print(f"{m} {s}: median {med:.6g} q1 {q1:.6g} q3 {q3:.6g} (n={len(vals[s])})")
        wins = ties = 0
        for p in pairs:
            if not all(p[s]["correct"] and m in p[s]["metrics"] for s in SIDES):
                continue
            b, c = p["base"]["metrics"][m], p["change"]["metrics"][m]
            wins += sign * c < sign * b
            ties += c == b
        q1, bmed, q3 = quartiles(vals["base"])
        gap = sign * (bmed - quartiles(vals["change"])[1])
        claim = (wins >= 0.9 * len(pairs) and gap > q3 - q1
                 and failed["change"] <= failed["base"])
        print(f"{m} change wins {wins}/{len(pairs)} pairs (ties {ties}); "
              f"median gap {gap:.6g} vs base IQR {q3 - q1:.6g}; "
              f"gain claimable: {'yes' if claim else 'no'}; "
              f"no-regression (bound {spec['bound']:g}): "
              f"{verdict(vals['base'], vals['change'], spec['better'], spec['bound'])}")
    for m in INFO_METRICS:
        for s in SIDES:
            xs = [p[s]["info"][m] for p in ok if m in p[s].get("info", {})]
            if xs:
                q1, med, q3 = quartiles(xs)
                print(f"{m} {s}: median {med:.6g} q1 {q1:.6g} q3 {q3:.6g} "
                      f"(n={len(xs)}; info, not gated)")
    for s in SIDES:
        xs = [p[s]["wall_s"] for p in ok if "wall_s" in p[s]]
        if xs:
            q1, med, q3 = quartiles(xs)
            print(f"wall_s {s}: median {med:.1f} q1 {q1:.1f} q3 {q3:.1f} max {max(xs):.1f} "
                  f"(n={len(xs)}; per process; info, not gated)")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--base", required=True, help="checkout of the base commit")
    ap.add_argument("--change", required=True, help="checkout of the change")
    ap.add_argument("--workload", action="append", required=True)
    ap.add_argument("--seeds", required=True, help='e.g. "11-20" or "1,5"')
    ap.add_argument("--jsonl", help="append every run's record to this file")
    args = ap.parse_args(argv)

    checkouts = {"base": os.path.abspath(args.base), "change": os.path.abspath(args.change)}
    seconds = run_seconds(checkouts["change"])
    metrics = end_to_end(checkouts["change"])
    failures = 0
    for workload in args.workload:
        pairs = []
        for i, seed in enumerate(parse_seeds(args.seeds)):
            order = SIDES if i % 2 == 0 else SIDES[::-1]
            pair = {}
            for side in order:
                rec = run_one(checkouts[side], workload, seed, seconds)
                rec["side"] = side
                pair[side] = rec
                failures += not rec["correct"]
                shown = " ".join(f"{m['name']}={rec['metrics'].get(m['name'], float('nan')):.6g}"
                                 for m in metrics)
                print(f"# {workload} seed={seed} {side}: correct={rec['correct']} {shown} "
                      f"wall={rec['wall_s']:.1f}s", flush=True)
                if args.jsonl:
                    with open(args.jsonl, "a") as fh:
                        fh.write(json.dumps(rec) + "\n")
            pairs.append(pair)
        report(workload, pairs, metrics)
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
