"""The per-layer metric set of the traced run, ``<layer>.<metric>``.

Every layer reports the same common metrics; a few layers add counts
where their work can be wasted or amplified; ``run.*`` are totals over
every stage of the traced run. ``BENCHMARK.json``'s ``per_layer`` list
is exactly :func:`metric_specs`."""

from __future__ import annotations

from stats import layer_rollup, outermost_in_layer
from tracer import LAYERS

#: (metric, unit) reported for every layer; counters are self (exclusive
#: of nested spans), wall_s and rows_out are over the layer's outermost spans
COMMON = (
    ("wall_s", "s"), ("self_s", "s"), ("calls", "count"), ("rows_out", "count"),
    ("driver_s", "s"), ("executor_cpu_s", "s"), ("shuffle_write_mb", "MB"), ("spill_mb", "MB"),
)

EXTRA = (
    ("sources", "read_s", "s"), ("sources", "write_s", "s"),
    ("sources", "archives", "count"), ("sources", "members", "count"), ("sources", "lines", "count"),
    ("ml", "jobs", "count"), ("ml", "jobs_per_iter", "ratio"),
    ("io", "bytes_written_mb", "MB"), ("io", "files_written", "count"),
    ("operators.dedup", "candidate_pairs", "count"), ("operators.dedup", "verified_pairs", "count"),
    ("operators.dedup", "candidate_yield", "ratio"),
    ("operators.curation", "rows_kept_ratio", "ratio"),
    ("table", "buckets_rewritten", "count"), ("table", "bytes_rewritten_mb", "MB"),
    ("table", "bytes_carried_mb", "MB"), ("table", "files_per_version", "count"),
)

RUN = (
    ("overhead_s", "s"), ("stages", "count"), ("tasks", "count"), ("executor_run_s", "s"),
    ("gc_s", "s"), ("shuffle_read_mb", "MB"), ("fetch_wait_s", "s"),
)

#: metrics where a higher value is the better outcome
_HIGHER = {"operators.dedup.candidate_yield", "operators.curation.rows_kept_ratio"}


def metric_specs() -> list[dict]:
    names = [(f"{layer}.{m}", u) for layer in LAYERS for m, u in COMMON]
    names += [(f"{layer}.{m}", u) for layer, m, u in EXTRA]
    names += [(f"run.{m}", u) for m, u in RUN]
    return [{"name": n, "unit": u, "better": "higher" if n in _HIGHER else "lower"}
            for n, u in names]


def _ratio(a: float, b: float) -> float:
    return a / b if b else 0.0


def per_layer_metrics(spans: list[dict], totals: dict, overhead_s: float) -> dict[str, tuple[float, str]]:
    roll = layer_rollup(spans, list(LAYERS))
    extra: dict[str, dict[str, float]] = {layer: {} for layer in LAYERS}

    def add(layer: str, key: str, value: float) -> None:
        extra[layer][key] = extra[layer].get(key, 0.0) + value

    iters = 0
    commits = 0
    for i, s in enumerate(spans):
        layer, x = s["layer"], s["extra"]
        for key in ("archives", "members", "lines", "files_written", "bytes_written_mb",
                    "candidate_pairs", "verified_pairs", "buckets_rewritten",
                    "bytes_rewritten_mb", "bytes_carried_mb", "files"):
            if key in x:
                add(layer, key, x[key])
        commits += x.get("commits", 0)
        if layer == "operators.curation" and "rows_in" in x:
            add(layer, "rows_in", x["rows_in"])
            add(layer, "rows_kept", s["rows_out"])
        if not outermost_in_layer(spans, i):
            continue
        if layer == "sources":
            if s["name"].startswith("read"):
                add(layer, "read_s", s["wall_s"])
            elif s["name"].startswith("write"):
                add(layer, "write_s", s["wall_s"])
        if layer == "ml":
            add(layer, "jobs", s["incl"]["jobs"])
            iters += x.get("iters", 0)
    ex = {layer: dict(v) for layer, v in extra.items()}
    ex["ml"]["jobs_per_iter"] = _ratio(ex["ml"].get("jobs", 0.0), iters)
    ex["operators.dedup"]["candidate_yield"] = _ratio(
        ex["operators.dedup"].get("verified_pairs", 0.0), ex["operators.dedup"].get("candidate_pairs", 0.0))
    ex["operators.curation"]["rows_kept_ratio"] = _ratio(
        ex["operators.curation"].get("rows_kept", 0.0), ex["operators.curation"].get("rows_in", 0.0))
    ex["table"]["files_per_version"] = _ratio(ex["table"].get("files", 0.0), commits)

    out: dict[str, tuple[float, str]] = {}
    for spec in metric_specs():
        name, unit = spec["name"], spec["unit"]
        layer, metric = name.rsplit(".", 1)
        if layer == "run":
            value = overhead_s if metric == "overhead_s" else totals[metric]
        elif metric in roll.get(layer, {}) and (metric, unit) in COMMON:
            value = roll[layer][metric]
        else:
            value = ex[layer].get(metric, 0.0)
        out[name] = (float(value), unit)
    return out
