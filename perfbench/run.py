#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload gsod_etl_gbt --seed 1 --seconds 5 --trace 0

Run from the repository root. One run:

1. pins the environment (``local[<cores>]``, ``PYTHONPATH``, Spark local
   and warehouse dirs, a fresh work dir under ``.perfbench_work/``),
2. sets a SparkSession up once from process start (``setup_first_s``),
   then restarts the SparkContext in the same JVM several times and
   reports the median restart (``setup_s``),
3. generates the workload's inputs from ``--seed`` and the oracle's
   expectations (not timed),
4. runs the workload once cold, then warm for ``--seconds`` seconds (at
   least the workload's minimum number of runs), checking every run's outputs against the
   DuckDB recomputation,
5. with ``--trace 1``, halves the warm window, adds one traced run and
   reports per-layer metrics instead (see ``NOTES.md``).

Every metric is printed as ``name value unit``; the last stdout line is
one JSON object with ``correct``, ``attempted``, ``failed`` and
``metrics``. Exits non-zero on any failed operation or oracle mismatch.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "ucr_bigdata_snowfallproject_spark"
WORKLOAD_NAMES = ("gsod_etl_gbt", "corpus_curation")
#: SparkContext restarts per run after the first set-up (which launches
#: the JVM); ``setup_s`` is their median
RESTARTS = 5
#: a run that is still going after this long kills its JVM and fails
HARD_LIMIT_S = 170
#: every end-to-end metric the summary names, "n/a" where a workload has
#: no such step (no model, no MERGE) or too few samples for the percentile
SUMMARY_NAMES = (
    ("setup_s", "s"), ("setup_first_s", "s"), ("spark_jobs", "count"), ("cold_job_s", "s"),
    ("job_s", "s"), ("export_s", "s"),
    ("train_s", "s"), ("merge_p50_s", "s"), ("merge_p90_s", "s"), ("query_p50_s", "s"),
    ("write_amp", "ratio"), ("space_amp", "ratio"), ("peak_rss_mb", "MB"), ("fail_ratio", "ratio"),
)


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def pin_environment(work: str) -> dict[str, str]:
    dirs = {k: os.path.join(work, k) for k in ("inputs", "out", "spark-local", "warehouse", "tmp")}
    for d in dirs.values():
        os.makedirs(d, exist_ok=True)
    cores = len(os.sched_getaffinity(0))
    env = {
        "SPARK_GRAFT_CPUS": str(cores),
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, HERE, os.environ.get("PYTHONPATH")) if p),
        "SPARK_LOCAL_DIRS": dirs["spark-local"],
        "SPARK_GRAFT_WAREHOUSE": dirs["warehouse"],
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        "TMPDIR": dirs["tmp"],
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={dirs['tmp']} -XX:-UsePerfData",
    }
    os.environ.update(env)
    return dirs


def vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


class Sessions:
    """Builds, warms and finally tears down the SparkSession and its JVM."""

    def __init__(self, local_dir: str) -> None:
        self.local_dir = local_dir
        self.spark = None

    def build(self):
        from ucr_bigdata_snowfallproject_spark import session

        spark = session.get_spark(
            app_name="perfbench", extra_confs={"spark.local.dir": self.local_dir}
        )
        spark.sparkContext.setLogLevel("ERROR")
        spark.range(1000).selectExpr("sum(id)").collect()
        self.spark = spark
        return spark

    def setup_times(self, n: int, t_process: float) -> list[float]:
        """``n`` set-ups: the first from process start (interpreter, JVM
        launch, session, warm-up job), the rest restart the SparkContext."""
        times = []
        for i in range(n):
            t0 = t_process if i == 0 else time.perf_counter()
            if self.spark is not None:
                self.spark.stop()
            self.build()
            times.append(time.perf_counter() - t0)
        return times

    def jvm_pid(self) -> int | None:
        from pyspark import SparkContext

        gw = SparkContext._gateway
        proc = getattr(gw, "proc", None) if gw is not None else None
        return proc.pid if proc is not None else None

    def close(self) -> None:
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
        gw = SparkContext._gateway
        if gw is None:
            return
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()  # the launched JVM exits when its stdin closes
            try:
                proc.wait(timeout=30)
            except Exception:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None


def main(argv=None) -> int:
    t_process = time.perf_counter()
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"perfbench: {PACKAGE} not found under {ROOT}; run from a full checkout",
              file=sys.stderr)
        return 2
    base = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(base, f"{args.workload}-{args.seed}-{os.getpid()}")
    dirs = pin_environment(work)
    sys.path[:0] = [ROOT, HERE]

    import gen
    import oracle
    import workloads
    from stats import Outcomes, median, tail_percentile

    kind, run_fn, min_warm = workloads.WORKLOADS[args.workload]
    sessions = Sessions(dirs["spark-local"])

    def on_timeout(_signum, _frame):
        pid = sessions.jvm_pid()
        if pid is not None:
            os.kill(pid, signal.SIGKILL)
        print(f"perfbench: run exceeded {HARD_LIMIT_S} s", file=sys.stderr)
        os._exit(3)

    signal.signal(signal.SIGALRM, on_timeout)
    signal.alarm(HARD_LIMIT_S)
    outcomes = Outcomes()
    runs: list[dict] = []

    def jobs_started() -> int:
        from tracer import StatusProbe

        return StatusProbe(sessions.spark).next_ids()[1]

    def one_run(label: str) -> dict | None:
        from ucr_bigdata_snowfallproject_spark import session

        out = os.path.join(dirs["out"], f"run-{len(runs):03d}")
        session.clear_session_state(sessions.spark)
        j0 = jobs_started()
        t0 = time.perf_counter()
        try:
            res = run_fn(session.get_spark(app_name="perfbench"), inp, out)
        except Exception:
            outcomes.record(False, f"{label}: {traceback.format_exc(limit=3)}")
            runs.append({"failed": True})
            return None
        res["job_s"] = time.perf_counter() - t0
        res["jobs"] = jobs_started() - j0
        res["label"] = label
        outcomes.record(True)
        for _ in res.get("merge_s", ()):
            outcomes.record(True)  # each MERGE committed without an exception
        outcomes.add_mismatches(f"{label}: {m}" for m in check(expected, res))
        shutil.rmtree(out, ignore_errors=True)
        runs.append(res)
        return res

    try:
        setups = sessions.setup_times(1 + RESTARTS, t_process)
        # inputs and the oracle's expectations are prepared untimed
        inp = gen.generate(kind, args.seed, dirs["inputs"])
        if kind == "gsod":
            expected = oracle.expect_gsod(inp)
            check = oracle.check_gsod
        else:
            expected = oracle.expect_corpus(
                inp, workloads.MIN_WORDS, workloads.TOKEN_BUDGET, workloads.TAR_SHARDS)
            check = oracle.check_corpus
        cold = one_run("cold")
        warm: list[dict] = []
        window = args.seconds / 2 if args.trace else args.seconds
        t_measure = time.perf_counter()
        while len(warm) < min_warm or time.perf_counter() - t_measure < window:
            r = one_run(f"warm-{len(warm)}")
            if r is None:
                break
            warm.append(r)
        traced = spans = totals = None
        if args.trace and warm:
            from tracer import Tracer

            tr = Tracer(sessions.spark)
            tr.install()
            tr.start_run()
            try:
                traced = one_run("traced")
            finally:
                totals = tr.stop_run()
                tr.uninstall()
            spans = tr.spans
        rss = vm_hwm_mb(os.getpid()) + (vm_hwm_mb(sessions.jvm_pid()) if sessions.jvm_pid() else 0.0)
    finally:
        sessions.close()
        signal.alarm(0)

    ok_runs = [r for r in warm if r]
    metrics: dict[str, tuple[float, str]] = {}
    if cold is not None and ok_runs:
        metrics = {
            "setup_s": (median(setups[1:]), "s"),
            "spark_jobs": (median([r["jobs"] for r in ok_runs]), "count"),
            "write_amp": (median([r["write_amp"] for r in ok_runs]), "ratio"),
        }
    # wall timings are printed, not gated: on a shared host their
    # run-to-run spread is too close to the largest allowed bound
    # (see NOTES.md)
    summary = dict(metrics)
    if metrics:
        summary["cold_job_s"] = (cold["job_s"], "s")
        summary["job_s"] = (median([r["job_s"] for r in ok_runs]), "s")
        summary["export_s"] = (median([r["export_s"] for r in ok_runs]), "s")
    summary["peak_rss_mb"] = (rss, "MB")
    summary["setup_first_s"] = (setups[0], "s")
    for name, unit in (("train_s", "s"), ("space_amp", "ratio")):
        if ok_runs and name in ok_runs[0]:
            summary[name] = (median([r[name] for r in ok_runs]), unit)
    merges = [m for r in [cold, *ok_runs] if r for m in r.get("merge_s", ())]
    if merges:
        summary["merge_p50_s"] = (median(merges), "s")
        tail = tail_percentile(merges)
        if tail is not None:
            summary[f"merge_p{tail[0]:g}_s"] = (tail[1], "s")
        summary["query_p50_s"] = (median([q for r in [cold, *ok_runs] if r for q in r["query_s"]]), "s")
    summary["fail_ratio"] = (outcomes.fail_ratio, "ratio")
    print(f"# workload={args.workload} seed={args.seed} warm_runs={len(ok_runs)} "
          f"merges={len(merges)} attempted={outcomes.attempted} failed={outcomes.failed}")
    for r in runs:
        if not r.get("failed"):
            steps = " ".join(f"{k}={r[k]:.3f}" for k in ("job_s", "jobs", "export_s", "train_s") if k in r)
            print(f"# run {r['label']} {steps}")
    for name, (value, unit) in summary.items():
        print(f"{name} {value:.6g} {unit}")
    for name, unit in SUMMARY_NAMES:
        if name not in summary:
            print(f"{name} n/a {unit}")
    for err in outcomes.errors:
        print(f"FAILED {err}", file=sys.stderr)

    if args.trace:
        if traced is None or not metrics:
            print("perfbench: traced run failed", file=sys.stderr)
            return 1
        import layers

        overhead = traced["job_s"] - summary["job_s"][0]
        print(f"tracing overhead {overhead:.4f} s (traced job_s {traced['job_s']:.4f} s "
              f"- untraced job_s {summary['job_s'][0]:.4f} s)")
        metrics = layers.per_layer_metrics(spans, totals, overhead)
        os.makedirs(base, exist_ok=True)
        with open(os.path.join(base, f"spans-{args.workload}-{args.seed}.json"), "w") as fh:
            json.dump({"workload": args.workload, "seed": args.seed, "totals": totals,
                       "spans": spans}, fh, indent=1, default=str)
    shutil.rmtree(work, ignore_errors=True)
    correct = outcomes.failed == 0 and bool(metrics)
    print(json.dumps({
        "correct": correct,
        "attempted": outcomes.attempted,
        "failed": outcomes.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
