"""Span tracer for the traced benchmark run.

The tracer lives entirely in the benchmark: :meth:`Tracer.install` wraps
the public functions of each layer module from outside (and rebinds every
reference the package's modules imported by name), so a call from one
layer into another opens a nested span. Each wrapped call

1. opens a span (layer, function, parent),
2. runs the function and *forces* its result — a DataFrame (or one inside
   a returned tuple/list/dict) is executed in full through
   ``queryExecution().toRdd().count()``, so the layer's lazy work runs
   inside its own span rather than in whichever caller acts first,
3. stops the span clock, then drains Spark's listener bus and takes the
   status-store deltas of the stages and jobs the span started,
4. runs the layer's count probes (files written, pairs verified, table
   bytes rewritten, ...). Probe time, stages and jobs are excluded from
   every span.

Spans stay in memory (:attr:`Tracer.spans`) until the run writes them out.
Because results are forced per call, a parent span re-executes the lazy
plans of its children when it forces its own result; its self time is the
cost of materialising its result, children excluded.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import os
import sys
import threading
import time

from stats import STAGE_COUNTERS, busy_seconds, finish_spans

PACKAGE = "ucr_bigdata_snowfallproject_spark"

#: layer name -> modules whose public functions it wraps
LAYERS: dict[str, tuple[str, ...]] = {
    "session": ("session",),
    "sources": ("sources.tar", "sources.gsod"),
    "functions": ("functions.scalars",),
    "pipeline": ("pipeline.gsod",),
    "operators.relational": ("operators.relational",),
    "operators.aggregates": ("operators.aggregates",),
    "operators.windows": ("operators.windows",),
    "ml": ("ml.regression", "ml.quality"),
    "io": ("io",),
    "operators.text": ("operators.text",),
    "operators.dedup": ("operators.dedup",),
    "operators.curation": ("operators.curation",),
    "table": ("table",),
}

#: similarity at or above which a minhash candidate pair counts as verified
VERIFY_THRESHOLD = 0.8

_MB = 1024.0 * 1024.0


class StatusProbe:
    """Per-stage metrics from Spark's status store (works with the UI
    disabled). Finished stages are fetched once and cached by id."""

    def __init__(self, spark) -> None:
        self._sc = spark.sparkContext._jsc.sc()
        self._cache: dict[int, dict | None] = {}

    @staticmethod
    def _int(v) -> int:
        return int(v) if isinstance(v, int) else int(v.get())

    def next_ids(self) -> tuple[int, int]:
        ds = self._sc.dagScheduler()
        return self._int(ds.nextStageId()), self._int(ds.nextJobId())

    def drain(self) -> None:
        self._sc.listenerBus().waitUntilEmpty()

    def stage(self, sid: int) -> dict | None:
        if sid in self._cache:
            return self._cache[sid]
        from py4j.protocol import Py4JJavaError

        try:
            sd = self._sc.statusStore().lastStageAttempt(sid)
        except Py4JJavaError:
            return None  # id consumed by a plan that never submitted it
        status = str(sd.status())
        if status == "SKIPPED":
            rec = None
        else:
            sub, comp = sd.submissionTime(), sd.completionTime()
            rec = {
                "stages": 1,
                "tasks": int(sd.numTasks()),
                "executor_run_s": sd.executorRunTime() / 1e3,
                "executor_cpu_s": sd.executorCpuTime() / 1e9,
                "gc_s": sd.jvmGcTime() / 1e3,
                "shuffle_write_mb": sd.shuffleWriteBytes() / _MB,
                "shuffle_read_mb": sd.shuffleReadBytes() / _MB,
                "fetch_wait_s": sd.shuffleFetchWaitTime() / 1e3,
                "spill_mb": (sd.memoryBytesSpilled() + sd.diskBytesSpilled()) / _MB,
                "shuffle_write_bytes": sd.shuffleWriteBytes(),
                "disk_spill_bytes": sd.diskBytesSpilled(),
                "start": sub.get().getTime() / 1e3 if sub.isDefined() else None,
                "end": comp.get().getTime() / 1e3 if comp.isDefined() else None,
            }
        if status in ("COMPLETE", "SKIPPED", "FAILED"):
            self._cache[sid] = rec
        return rec

    def totals(self, ids, t_lo: float, t_hi: float) -> dict[str, float]:
        out = {k: 0.0 for k in STAGE_COUNTERS}
        intervals = []
        for sid in ids:
            rec = self.stage(sid)
            if rec is None:
                continue
            for k in STAGE_COUNTERS:
                out[k] += rec[k]
            if rec["start"] is not None:
                intervals.append((rec["start"], rec["end"] if rec["end"] is not None else t_hi))
        out["busy_s"] = busy_seconds(intervals, t_lo, t_hi)
        return out


def _dataframes(result):
    from pyspark.sql import DataFrame

    if isinstance(result, DataFrame):
        return [result]
    if isinstance(result, dict):
        result = list(result.values())
    if isinstance(result, (tuple, list)):
        return [r for r in result if isinstance(r, DataFrame)]
    return []


def _tree_files(path: str) -> list[str]:
    out = []
    for dp, _dn, fn in os.walk(path):
        out.extend(os.path.join(dp, f) for f in fn)
    return out


class Tracer:
    def __init__(self, spark) -> None:
        self.spark = spark
        self.status = StatusProbe(spark)
        self.spans: list[dict] = []
        self.active = False
        self._stack: list[int] = []
        self._patched: list[tuple[object, str, object]] = []
        self._excluded_stages: set[int] = set()
        self._excluded_jobs: set[int] = set()
        self._committed: set[tuple[str, int]] = set()
        self._main = threading.main_thread()
        self._run_ids: tuple[int, int] | None = None
        self._t0 = 0.0

    # ------------------------------------------------------- install ----

    def install(self) -> None:
        originals: dict[int, object] = {}
        for layer, modnames in LAYERS.items():
            for modname in modnames:
                mod = importlib.import_module(f"{PACKAGE}.{modname}")
                for name, obj in list(vars(mod).items()):
                    if (name.startswith("_") or not inspect.isfunction(obj)
                            or obj.__module__ != mod.__name__):
                        continue
                    originals[id(obj)] = (obj, self._wrap(layer, obj))
        # rebind every module-level reference, including names imported
        # with ``from x import f`` by other package modules and the
        # benchmark's workloads
        for modname, mod in list(sys.modules.items()):
            if mod is None or not (modname.startswith(PACKAGE) or modname == "workloads"):
                continue
            for attr, val in list(vars(mod).items()):
                hit = originals.get(id(val))
                if hit is not None and hit[0] is val:
                    setattr(mod, attr, hit[1])
                    self._patched.append((mod, attr, val))

    def uninstall(self) -> None:
        for mod, attr, val in reversed(self._patched):
            setattr(mod, attr, val)
        self._patched.clear()

    def _wrap(self, layer: str, fn):
        sig = inspect.signature(fn)
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not tracer.active or threading.current_thread() is not tracer._main:
                return fn(*args, **kwargs)
            return tracer._call(layer, fn, sig, args, kwargs)

        return traced

    # ---------------------------------------------------------- spans ----

    def start_run(self) -> None:
        self.status.drain()
        self._run_ids = self.status.next_ids()
        self._t0 = time.time()
        self.active = True

    def stop_run(self) -> dict:
        """Finish the run: fill self times and return run-wide totals of
        every stage the traced run started (probe stages excluded)."""
        self.active = False
        self.status.drain()
        t1 = time.time()
        s_hi, j_hi = self.status.next_ids()
        s_lo, j_lo = self._run_ids
        ids = [i for i in range(s_lo, s_hi) if i not in self._excluded_stages]
        totals = self.status.totals(ids, self._t0, t1)
        totals["jobs"] = sum(1 for j in range(j_lo, j_hi) if j not in self._excluded_jobs)
        totals["wall_s"] = t1 - self._t0
        finish_spans(self.spans)
        for s in self.spans:
            if s["self_s"] > s["wall_s"] + 1e-9:
                raise AssertionError(f"span {s['layer']}.{s['name']}: self time exceeds wall time")
        return totals

    def _call(self, layer, fn, sig, args, kwargs):
        parent = self._stack[-1] if self._stack else None
        s_lo, j_lo = self.status.next_ids()
        span = {
            "layer": layer, "name": fn.__name__, "parent": parent,
            "start": time.time(), "rows_out": 0, "extra": {}, "error": None,
        }
        idx = len(self.spans)
        self.spans.append(span)
        self._stack.append(idx)
        t0 = time.perf_counter()
        try:
            result = fn(*args, **kwargs)
            self._force(span, result)
        except BaseException as exc:
            span["error"] = repr(exc)
            raise
        finally:
            t_end = time.perf_counter()
            e_end = time.time()
            self._stack.pop()
            span["raw_wall_s"] = t_end - t0
            self.status.drain()
            s_hi, j_hi = self.status.next_ids()
            ids = [i for i in range(s_lo, s_hi) if i not in self._excluded_stages]
            span["incl"] = self.status.totals(ids, span["start"], e_end)
            span["incl"]["jobs"] = sum(1 for j in range(j_lo, j_hi) if j not in self._excluded_jobs)
            if span["error"] is None:
                self._probe(layer, fn, sig, args, kwargs, span, result)
            span["own_ovh_s"] = time.perf_counter() - t_end
        return result

    def _force(self, span: dict, result) -> None:
        from pyspark.sql import functions as F

        for df in _dataframes(result):
            if span["name"] == "read_tar_members":
                row = df.agg(
                    F.count(F.lit(1)), F.countDistinct("archive"),
                    F.countDistinct("archive", "member"),
                ).collect()[0]
                span["rows_out"] += int(row[0])
                span["extra"].update(lines=int(row[0]), archives=int(row[1]), members=int(row[2]))
            elif span["name"] == "minhash_candidates":
                row = df.agg(
                    F.count(F.lit(1)),
                    F.sum((F.col("jaccard_est") >= VERIFY_THRESHOLD).cast("long")),
                ).collect()[0]
                span["rows_out"] += int(row[0])
                span["extra"].update(candidate_pairs=int(row[0]), verified_pairs=int(row[1] or 0))
            else:
                span["rows_out"] += int(df._jdf.queryExecution().toRdd().count())

    # --------------------------------------------------------- probes ----

    def _excluding(self, thunk):
        """Run a probe whose Spark work must not count toward any span."""
        s_lo, j_lo = self.status.next_ids()
        try:
            return thunk()
        finally:
            s_hi, j_hi = self.status.next_ids()
            self._excluded_stages.update(range(s_lo, s_hi))
            self._excluded_jobs.update(range(j_lo, j_hi))

    def _probe(self, layer, fn, sig, args, kwargs, span, result) -> None:
        try:
            bound = sig.bind(*args, **kwargs)
        except TypeError:
            return
        bound.apply_defaults()
        params = bound.arguments
        name = fn.__name__
        if layer == "ml" and "max_iter" in params:
            span["extra"]["iters"] = int(params["max_iter"])
        elif layer == "io" and name.startswith("write") and isinstance(params.get("path"), str):
            files = [f for f in _tree_files(params["path"]) if not f.endswith(".crc")]
            span["extra"].update(
                files_written=len(files),
                bytes_written_mb=sum(os.path.getsize(f) for f in files) / _MB,
            )
        elif layer == "operators.curation":
            first = next(iter(params.values()), None)
            if _dataframes(first) and _dataframes(result):
                span["extra"]["rows_in"] = self._excluding(lambda: first.count())
        elif layer == "table" and isinstance(result, int) and isinstance(params.get("root"), str):
            self._table_probe(params["root"], result, span)

    def _table_probe(self, root: str, version: int, span: dict) -> None:
        """Rewritten vs carried bytes of a fresh commit: a file written by
        this commit has one link, a bucket carried forward by hard link
        has more."""
        key = (root, version)
        vdir = os.path.join(root, f"v={version}")
        if key in self._committed or not os.path.isdir(vdir):
            return
        self._committed.add(key)
        rewritten_buckets = set()
        rewritten = carried = 0
        files = [f for f in _tree_files(vdir)
                 if not os.path.basename(f).startswith(("_", ".")) and not f.endswith(".crc")]
        for f in files:
            st = os.stat(f)
            if st.st_nlink > 1:
                carried += st.st_size
            else:
                rewritten += st.st_size
                rewritten_buckets.add(os.path.dirname(f))
        span["extra"].update(
            commits=1, files=len(files), buckets_rewritten=len(rewritten_buckets),
            bytes_rewritten_mb=rewritten / _MB, bytes_carried_mb=carried / _MB,
        )
