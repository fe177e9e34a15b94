"""The benchmark workloads, driven through the package's public
functions. Each ``run_*`` takes the session, the generated inputs and a
fresh output directory, commits the workload's outputs there and returns
what the oracle checks plus the step timings the benchmark reports.

Layer calls go through module attributes (``table.merge_upsert``), so the
tracer's wrappers see them."""

from __future__ import annotations

import os
import time

from pyspark.sql import functions as F

from ucr_bigdata_snowfallproject_spark import io, schemas, table
from ucr_bigdata_snowfallproject_spark.ml import regression
from ucr_bigdata_snowfallproject_spark.operators import aggregates, curation, dedup, text
from ucr_bigdata_snowfallproject_spark.pipeline import gsod
from ucr_bigdata_snowfallproject_spark.sources import tar

from tracer import StatusProbe

#: boosting rounds of the GBT step (the reference uses 100; see NOTES.md)
GBT_MAX_ITER = 3
#: per-source token budget of the curation mix
TOKEN_BUDGET = 10_000
#: minimum Gopher word count of the quality filter
MIN_WORDS = 50
TAR_SHARDS = 4
TABLE_BUCKETS = 8


class WriteLedger:
    """Bytes newly written under a root, by inode: a hard-linked file
    carried into a new version is not a write."""

    def __init__(self, root: str) -> None:
        self.root = root
        self.seen: set[int] = set()

    def new_bytes(self) -> int:
        total = 0
        for dp, _dn, fn in os.walk(self.root):
            for f in fn:
                st = os.stat(os.path.join(dp, f))
                if st.st_ino not in self.seen:
                    self.seen.add(st.st_ino)
                    total += st.st_size
        return total


def _tree_bytes(path: str) -> int:
    """Bytes on disk under ``path``, each hard-linked file once."""
    return WriteLedger(path).new_bytes()


def _data_bytes(path: str) -> int:
    """Bytes of the data files under ``path`` (no checksums or markers)."""
    total = 0
    for dp, _dn, fn in os.walk(path):
        for f in fn:
            if not f.startswith(("_", ".")) and not f.endswith(".crc"):
                total += os.path.getsize(os.path.join(dp, f))
    return total


# ----------------------------------------------------------- gsod ETL ----

def run_gsod(spark, inp: dict, out: str) -> dict:
    """Tar archives -> cleaned monthly medians joined to stations,
    committed as a key-bucketed snapshot table -> one CDC batch of
    station-month revisions MERGEd in -> map layer export and GBT
    precipitation model from the live snapshot -> time-travel read of the
    pre-revision version -> compaction and vacuum."""
    t0 = time.perf_counter()
    obs_raw = tar.read_gsod_tar(spark, inp["tar_dir"])
    stations_raw = io.read_csv(spark, inp["stations_csv"], schema=schemas.STATIONS)
    res = gsod.run_pipeline(stations_raw, obs_raw, inp["min_year"], inp["max_year"])
    monthly = res["monthly_with_station"].withColumn(
        "station_month", F.format_string("%s-%05d-%04d-%02d", "USAF", "WBAN", "YEAR", "MONTH")
    )
    root = os.path.join(out, "monthly")
    v0 = table.create_partitioned_snapshot(
        monthly, root, key="station_month", n_buckets=TABLE_BUCKETS)
    ledger = WriteLedger(root)
    ledger.new_bytes()  # the base snapshot is not a CDC write
    t1 = time.perf_counter()
    table.merge_upsert(
        spark, root, spark.read.parquet(inp["revisions"]), key="station_month",
        delete_col="is_delete")
    t2 = time.perf_counter()
    live = table.read_snapshot(spark, root)
    map_path = os.path.join(out, "map_layer")
    io.write_parquet(gsod.map_export(live), map_path)
    t3 = time.perf_counter()
    # A snapshot read packs bucket files into partitions by size, ties in
    # directory listing order, and the seeded train/test split depends on
    # which rows share a partition (see "Findings" in NOTES.md). Hash
    # partitioning on the key makes the holdout the same on every run.
    _model, _pred, rmse = regression.train_weather_model(
        live.repartition(TABLE_BUCKETS, "station_month"), max_iter=GBT_MAX_ITER)
    t4 = time.perf_counter()
    travel = tuple(aggregates.scalar_agg(
        table.read_snapshot(spark, root, version=v0),
        F.count(F.lit(1)), F.round(F.sum("PRCP"), 4),
    ).collect()[0])
    t5 = time.perf_counter()
    table.compact_snapshot(spark, root)
    written = ledger.new_bytes()
    table.vacuum_snapshots(root, keep_last=2)
    live_v = table.latest_version(root)
    return {
        "table_root": root,
        "live_version": live_v,
        "map_path": map_path,
        "rmse": rmse,
        "travel": travel,
        "export_s": t3 - t0,
        "merge_s": [t2 - t1],
        "train_s": t4 - t3,
        "query_s": [t5 - t4],
        "write_amp": written / os.path.getsize(inp["revisions"]),
        "space_amp": _tree_bytes(root) / _data_bytes(os.path.join(root, f"v={live_v}")),
    }


# ---------------------------------------------------- corpus curation ----

def run_corpus(spark, inp: dict, out: str) -> dict:
    """Gopher quality rules -> md5 MinHash candidate pairs (boilerplate
    lines stay in, so they add candidates) -> duplicate components (one
    survivor per component) -> per-source token budget -> proportional
    interleave -> tar shards."""
    probe = StatusProbe(spark)
    first_stage = probe.next_ids()[0]
    docs = io.load_table(spark, inp["corpus_dir"], "documents")
    flags = text.gopher_rules(
        docs, "doc_id", "text", min_words=MIN_WORDS, keep_cols=("source", "text"))
    kept = flags.filter(F.col("keep") == 1).select("doc_id", "source", "text")
    cands = dedup.minhash_candidates(kept, "doc_id", "text", hash="md5")
    pairs = cands.filter(F.col("jaccard_est") >= 0.8).select("id_a", "id_b")
    comps = dedup.dup_components(pairs)
    losers = comps.filter(F.col("id") != F.col("comp")).select(F.col("id").alias("doc_id"))
    surv = kept.join(losers, "doc_id", "left_anti")
    # the mix reads its input twice; barrier the narrow survivor rows once
    # (the same composition as the registry's corpus-mix pipeline)
    narrow = surv.select(
        "doc_id", "source", text.token_count("text").alias("__ntok")
    ).localCheckpoint(eager=True)
    mixed = curation.token_budget_mix(
        narrow, "source", "doc_id", F.col("__ntok"), budget_tokens=TOKEN_BUDGET
    )
    ranked = curation.proportional_interleave(
        mixed.select("doc_id", "source", "n_tokens"), "source", "doc_id"
    )
    samples = ranked.join(surv.select("doc_id", "text"), "doc_id").select(
        F.format_string("%06d-%d.txt", "interleave_rank", "doc_id").alias("name"),
        F.encode("text", "UTF-8").alias("payload"),
    )
    shard_dir = os.path.join(out, "shards")
    t1 = time.perf_counter()
    manifest = tar.write_tar_shards(samples, shard_dir, "name", "payload", n_shards=TAR_SHARDS).collect()
    t2 = time.perf_counter()
    written = sum(os.path.getsize(r["path"]) for r in manifest)
    # shuffle files and disk spill are written too, beside the shards
    probe.drain()
    for sid in range(first_stage, probe.next_ids()[0]):
        rec = probe.stage(sid)
        if rec is not None:
            written += rec["shuffle_write_bytes"] + rec["disk_spill_bytes"]
    return {
        "shard_dir": shard_dir,
        "manifest": [r.asDict() for r in manifest],
        "export_s": t2 - t1,
        "write_amp": written / inp["input_bytes"],
    }


#: name -> (generator, job, minimum warm runs). One warm run after the
#: cold one keeps a full measurement pass inside its time budget (see
#: NOTES.md).
WORKLOADS = {
    "gsod_etl_gbt": ("gsod", run_gsod, 1),
    "corpus_curation": ("corpus", run_corpus, 1),
}
