"""Snapshot-versioned parquet tables: MERGE/upsert, time travel, and
compaction on plain parquet — the minimal lakehouse-table surface an
incrementally-maintained corpus needs, with no table-format dependency.

Layout: ``<root>/v=N/`` parquet snapshot per version. Writers always
produce a NEW version directory (immutable snapshots → readers never see
partial writes, old versions stay queryable for reproducibility/time
travel); a marker file ``<root>/_latest`` names the committed version, and
is written only after the snapshot directory is complete — a reader
following the marker can never observe a half-written snapshot.

Scale notes: MERGE on an unpartitioned table is one full-outer-shaped
join keyed on the merge key (sort-merge at scale; the updates side is
typically ≪ target and AQE broadcasts it), and the rewrite cost is one
full-table pass — the same cost contract as Delta/Iceberg copy-on-write.

The partition-level tier (:func:`create_partitioned_snapshot`) removes
that full-pass cost: snapshot dirs are hash-bucketed on the merge key
(``__pbucket=K`` subdirs, Delta/Iceberg-style layout), and
:func:`merge_upsert` on such a table rewrites ONLY the buckets containing
touched keys. Untouched buckets carry forward by one of two modes
(``carry=`` on :func:`create_partitioned_snapshot`, recorded in
``_table.json``):

- ``"link"`` (default): hard links into the new version dir —
  byte-identical, zero data movement on POSIX filesystems; physical-copy
  fallback where links are refused.
- ``"manifest"``: the object-store tier — each version commits a
  ``_manifest.json`` mapping bucket → list of data-file paths (relative
  to the table root, possibly pointing into EARLIER versions'
  directories). An untouched bucket costs zero bytes and zero copies on
  ANY storage (S3/GCS have no hard links): the new manifest simply
  re-references the previous version's files — the metadata-only
  re-reference Iceberg/Delta snapshots do. Readers resolve versions
  through the manifest; :func:`vacuum_snapshots` reference-counts:
  files a kept version still references survive removal of the version
  directory that first wrote them (relocated by rename, then the kept
  manifests are rewritten).

Per-batch cost in both modes is
O(touched_buckets/n_buckets · table) + O(updates) instead of O(table):
the difference between an incrementally-maintained 100 TB corpus and one
that's rewritten nightly. The MERGE's touched-bucket scan prunes on the
driver in both modes: it reads exactly the touched buckets' files (from
the manifest, or the version's own bucket dirs in link mode), so footer
reads are O(touched buckets) too.
:func:`compact_snapshot` has the same shape: it rewrites only buckets
that hold more than one data file and hard-links the rest, so its cost
is O(fragmented buckets), and zero Spark jobs when nothing is
fragmented. Snapshot reads take one sorted file list in both modes.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import threading
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

#: directory-partition column of the bucketed layout (internal — stripped
#: by read_snapshot; never part of the logical schema)
_PART_COL = "__pbucket"

#: Spark lists more input paths than this with a distributed job
_LISTING_THRESHOLD = "spark.sql.sources.parallelPartitionDiscovery.threshold"
_listing_conf_lock = threading.Lock()


def snapshot_versions(root: str) -> list[int]:
    """Committed + uncommitted version numbers present on disk, sorted."""
    if not os.path.isdir(root):
        return []
    out = []
    for d in os.listdir(root):
        m = re.fullmatch(r"v=(\d+)", d)
        if m and os.path.isdir(os.path.join(root, d)):
            out.append(int(m.group(1)))
    return sorted(out)


def latest_version(root: str) -> int | None:
    """The committed latest version (from the ``_latest`` marker; falls
    back to the highest on-disk version for pre-marker layouts)."""
    marker = os.path.join(root, "_latest")
    if os.path.isfile(marker):
        with open(marker) as fh:
            return int(fh.read().strip())
    versions = snapshot_versions(root)
    return versions[-1] if versions else None


def table_meta(root: str) -> dict | None:
    """Bucketing metadata (``_table.json``: bucket_key, n_buckets) for
    tables created by :func:`create_partitioned_snapshot`; None for plain
    snapshot tables."""
    p = os.path.join(root, "_table.json")
    if os.path.isfile(p):
        with open(p) as fh:
            return json.load(fh)
    return None


def _bucket_expr(key: str, n_buckets: int):
    """Deterministic key→bucket assignment (Murmur3 ``F.hash``, pmod so
    negatives fold into [0, n))."""
    return F.pmod(F.hash(F.col(key)), F.lit(n_buckets))


def _manifest_path(root: str, version: int) -> str:
    return os.path.join(root, f"v={version}", "_manifest.json")


def _read_manifest(root: str, version: int) -> dict[str, list[str]] | None:
    """The version's committed manifest (bucket dir name → root-relative
    data-file paths), or None on link-mode / pre-manifest versions."""
    p = _manifest_path(root, version)
    if os.path.isfile(p):
        with open(p) as fh:
            return json.load(fh)
    return None


def _write_manifest(root: str, version: int, manifest: dict[str, list[str]]) -> None:
    """Stamp the manifest INTO the version dir before the ``_latest``
    flip — like commit notes, it commits atomically with the data."""
    tmp = _manifest_path(root, version) + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(manifest, fh, sort_keys=True)
    os.replace(tmp, _manifest_path(root, version))


def _self_manifest(root: str, version: int) -> dict[str, list[str]]:
    """Manifest entries for the buckets PHYSICALLY present under ``v=N``
    (fresh writes reference themselves; also the resolution fallback for
    link-mode versions, whose directory contents ARE the snapshot)."""
    vd = os.path.join(root, f"v={version}")
    man: dict[str, list[str]] = {}
    if not os.path.isdir(vd):
        return man
    for name in sorted(os.listdir(vd)):
        if not name.startswith(f"{_PART_COL}="):
            continue
        files = sorted(
            f"v={version}/{name}/{f}"
            for f in os.listdir(os.path.join(vd, name))
            if not f.startswith(("_", "."))
        )
        if files:
            man[name] = files
    return man


def _manifest_or_self(root: str, version: int) -> dict[str, list[str]]:
    man = _read_manifest(root, version)
    return man if man is not None else _self_manifest(root, version)


def _version_files(root: str, version: int) -> list[str]:
    """Root-relative data files ``v=N`` resolves to: its manifest's
    references, else the files physically under its directory."""
    man = _read_manifest(root, version)
    if man is None:
        return _self_files(root, version)
    return [rel for files in man.values() for rel in files]


def _read_files(spark: SparkSession, paths: Sequence[str]) -> DataFrame:
    """Read an explicit list of parquet data files, laid into partitions
    in the given order, with every footer unioned (``mergeSchema``).

    Each path is a file, so listing it is one status lookup; above the
    parallel-discovery threshold (32 paths by default) Spark would still
    run a listing job with one task per path (a 256-file read on a
    4-core machine: 1.41 s with that job, 0.41 s without). The listing
    happens eagerly inside ``parquet()``, so the threshold is raised for
    that call only (the lock keeps concurrent readers from restoring
    each other's value)."""
    with _listing_conf_lock:
        old = spark.conf.get(_LISTING_THRESHOLD)
        spark.conf.set(_LISTING_THRESHOLD, str(max(len(paths), int(old))))
        try:
            return spark.read.option("mergeSchema", "true").parquet(*paths)
        finally:
            spark.conf.set(_LISTING_THRESHOLD, old)


def read_snapshot(
    spark: SparkSession, root: str, version: int | None = None
) -> DataFrame:
    """Read a table snapshot — latest committed by default, or any
    historical ``version`` (time travel). Bucketed tables read their
    bucket files directly (no ``__pbucket`` partition discovery), so both
    layouts read back with the logical schema."""
    v = latest_version(root) if version is None else version
    if v is None:
        raise FileNotFoundError(f"no snapshots under {root}")
    # One sorted file list in both carry modes: manifest-mode versions
    # resolve to their referenced files (which may live in EARLIER
    # versions' directories — zero-copy carry-forward), link-mode and
    # plain versions to the files physically under ``v=N``. Spark packs
    # files into partitions by size with ties in input order, so the
    # sort makes the row → partition layout of a snapshot read (and any
    # seeded split over it) independent of directory listing order.
    rels = _version_files(root, v)
    if not rels:
        raise FileNotFoundError(
            f"snapshot v={v} under {root} has no data files "
            "(vacuumed, or all rows deleted)"
        )
    # mergeSchema: after an evolve_schema merge on a bucketed table, the
    # untouched (carried) buckets still carry the pre-evolution file
    # schema — without the union the reader could sample an old footer
    # and silently drop the new column. Footer-read cost only.
    return _read_files(spark, sorted(os.path.join(root, rel) for rel in rels))


def _write_note(root: str, version: int, note: str) -> None:
    """Stamp a commit note (e.g. an applied streaming batch id) INTO the
    version dir BEFORE the ``_latest`` flip — the note and the data commit
    atomically together, which is what makes foreachBatch appliers
    exactly-once (a crash between write and flip leaves the note with the
    uncommitted version, never with the committed one)."""
    with open(os.path.join(root, f"v={version}", "_note"), "w") as fh:
        fh.write(note)


def version_note(root: str, version: int | None = None) -> str | None:
    """The commit note of ``version`` (default: latest committed), or
    None if that version carries none."""
    v = latest_version(root) if version is None else version
    if v is None:
        return None
    p = os.path.join(root, f"v={v}", "_note")
    if os.path.isfile(p):
        with open(p) as fh:
            return fh.read()
    return None


def _write_marker(root: str, version: int) -> None:
    tmp = os.path.join(root, "_latest.tmp")
    with open(tmp, "w") as fh:
        fh.write(str(version))
    os.replace(tmp, os.path.join(root, "_latest"))  # atomic marker flip


def _commit(
    df: DataFrame,
    root: str,
    version: int,
    n_files: int | None,
    note: str | None = None,
) -> int:
    if n_files is not None:
        df = df.repartition(n_files)
    df.write.mode("errorifexists").parquet(os.path.join(root, f"v={version}"))
    if note is not None:
        _write_note(root, version, note)
    _write_marker(root, version)
    return version


def create_snapshot(df: DataFrame, root: str, n_files: int | None = None) -> int:
    """Create version 0 (or the next version) from a full DataFrame."""
    os.makedirs(root, exist_ok=True)
    versions = snapshot_versions(root)
    v = (versions[-1] + 1) if versions else 0
    return _commit(df, root, v, n_files)


def _hidden(name: str) -> bool:
    """Spark's hidden-path rule: ``.`` names and ``_`` names that are not
    ``col=value`` partition directories (``_SUCCESS``, ``_manifest.json``,
    ``_note``, ``.crc`` checksums)."""
    return name.startswith(".") or (name.startswith("_") and "=" not in name)


def _self_files(root: str, version: int) -> list[str]:
    """Root-relative data files of ``v=N`` — top-level files plus bucket
    subdir files (resolution fallback for manifest-less versions)."""
    vd = os.path.join(root, f"v={version}")
    out: list[str] = []
    if not os.path.isdir(vd):
        return out
    for name in sorted(os.listdir(vd)):
        p = os.path.join(vd, name)
        if _hidden(name):
            continue
        if os.path.isdir(p):
            out.extend(
                f"v={version}/{name}/{f}"
                for f in sorted(os.listdir(p))
                if not _hidden(f)
            )
        else:
            out.append(f"v={version}/{name}")
    return out


def append_snapshot(
    df: DataFrame, root: str, n_files: int | None = None, note: str | None = None
) -> int:
    """APPEND-ONLY commit: the new version = every file the previous
    version resolved to PLUS the delta's files — existing data is never
    rewritten, copied, or linked (a manifest re-reference, like the
    bucketed ``carry='manifest'`` tier but for row-append workloads:
    growing posting lists, event logs, corpus shards). Cost per batch is
    O(delta); on any storage including object stores.

    Contract: pure INSERT — the caller guarantees delta rows are new
    (append-only tables have no key). Readers resolve through the
    manifest, so old versions stay time-travelable and
    :func:`vacuum_snapshots` reference-counts shared files."""
    os.makedirs(root, exist_ok=True)
    versions = snapshot_versions(root)
    if not versions:
        v = 0
        _commit_files = df
        if n_files is not None:
            _commit_files = df.repartition(n_files)
        _commit_files.write.mode("errorifexists").parquet(
            os.path.join(root, f"v={v}")
        )
        _write_manifest(root, v, {"__data": _self_files(root, v)})
        if note is not None:
            _write_note(root, v, note)
        _write_marker(root, v)
        return v
    cur_v = latest_version(root)
    new_v = versions[-1] + 1
    prev_files = _version_files(root, cur_v)
    delta = df.repartition(n_files) if n_files is not None else df
    delta.write.mode("errorifexists").parquet(os.path.join(root, f"v={new_v}"))
    new_files = _self_files(root, new_v)
    _write_manifest(root, new_v, {"__data": sorted(prev_files) + new_files})
    if note is not None:
        _write_note(root, new_v, note)
    _write_marker(root, new_v)
    return new_v


def create_partitioned_snapshot(
    df: DataFrame, root: str, key: str, n_buckets: int = 16, carry: str = "link"
) -> int:
    """Create a KEY-BUCKETED snapshot table: rows land in
    ``v=N/__pbucket=hash(key) % n_buckets/`` dirs, and every later
    :func:`merge_upsert` rewrites only the buckets whose keys changed —
    the partition-level MERGE tier (see module docstring).

    ``n_buckets`` sizes the rewrite granularity: each merge pays
    O(touched_buckets · table/n_buckets). At 100 TB pick n_buckets so one
    bucket is a few GB (thousands of buckets); updates drawn from across
    the keyspace touch many buckets — that's still bounded by n_buckets
    reads of table/n_buckets each, never more than one full pass, and
    hot-key batches touch few.

    ``carry`` picks the untouched-bucket carry-forward mode (module
    docstring): ``"link"`` (hard links, POSIX) or ``"manifest"``
    (metadata-only re-reference — the object-store tier, zero bytes per
    untouched bucket on any storage)."""
    if carry not in ("link", "manifest"):
        raise ValueError(f"carry must be 'link' or 'manifest', got {carry!r}")
    os.makedirs(root, exist_ok=True)
    meta = {"bucket_key": key, "n_buckets": int(n_buckets), "carry": carry}
    tmp = os.path.join(root, "_table.json.tmp")
    with open(tmp, "w") as fh:
        json.dump(meta, fh)
    os.replace(tmp, os.path.join(root, "_table.json"))
    versions = snapshot_versions(root)
    v = (versions[-1] + 1) if versions else 0
    _write_partitioned(df, root, v, key, n_buckets)
    if carry == "manifest":
        _write_manifest(root, v, _self_manifest(root, v))
    _write_marker(root, v)
    return v


def _write_partitioned(
    df: DataFrame, root: str, version: int, key: str, n_buckets: int
) -> None:
    """Write ``df`` under ``v=N/`` split into ``__pbucket=K`` dirs; one
    shuffle keyed on the bucket id so each bucket lands as O(1) files."""
    (
        df.withColumn(_PART_COL, _bucket_expr(key, n_buckets))
        .repartition(n_buckets, F.col(_PART_COL))
        .write.mode("errorifexists")
        .partitionBy(_PART_COL)
        .parquet(os.path.join(root, f"v={version}"))
    )


def _carry_forward(
    root: str,
    prev_man: dict[str, list[str]],
    buckets: Sequence[str],
    version: int,
    link: bool,
) -> dict[str, list[str]]:
    """Move ``buckets`` of the previous version (``prev_man``) into
    ``v=version`` WITHOUT rewriting them; returns their manifest entries.
    The one place that decides how an untouched bucket reaches a new
    version. ``link=True``: hard links into the new version dir (same
    inode → byte-identical, zero data movement; physical-copy fallback
    where the filesystem refuses links), so the version dir is
    self-contained. ``link=False``: a metadata-only re-reference of the
    files where they already live — the manifest tier, zero bytes on any
    storage."""
    out: dict[str, list[str]] = {}
    for d in buckets:
        rels = prev_man[d]
        if link:
            dst_dir = os.path.join(root, f"v={version}", d)
            os.makedirs(dst_dir, exist_ok=True)
            for rel in rels:
                src = os.path.join(root, rel)
                crc = os.path.join(
                    os.path.dirname(src), f".{os.path.basename(src)}.crc"
                )
                # the file, plus its local-filesystem checksum sidecar
                for s in [src] + ([crc] if os.path.exists(crc) else []):
                    dst = os.path.join(dst_dir, os.path.basename(s))
                    try:
                        os.link(s, dst)
                    except OSError:
                        shutil.copy2(s, dst)
            rels = [f"v={version}/{d}/{os.path.basename(rel)}" for rel in rels]
        out[d] = rels
    return out


def merge_upsert(
    spark: SparkSession,
    root: str,
    updates: DataFrame,
    key: str,
    delete_col: str | None = None,
    n_files: int | None = None,
    commit_note: str | None = None,
    evolve_schema: bool = False,
) -> int:
    """MERGE INTO, copy-on-write: rows in ``updates`` replace same-key
    target rows (when matched → update), new keys insert (when not matched
    → insert), and — when ``delete_col`` names a boolean column — update
    rows flagged true DELETE their key instead. Commits and returns a new
    immutable version.

    Semantics contract (pinned in tests): exactly SQL's
    ``MERGE INTO t USING u ON t.key = u.key
    WHEN MATCHED AND u.del THEN DELETE
    WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED AND NOT u.del THEN
    INSERT *``. ``updates`` must carry the full target schema (plus the
    optional flag); one row per key.

    On a bucketed table (created via :func:`create_partitioned_snapshot`)
    this dispatches to the partition-level rewrite: only buckets whose
    keys appear in ``updates`` are re-merged; all other buckets hard-link
    forward byte-identical.

    ``evolve_schema=True`` enables additive schema evolution (the Delta
    ``mergeSchema`` behavior): columns present in ``updates`` but not in
    the target are added to the table — existing rows carry NULL — so an
    upstream producer can grow the schema without a backfill rewrite.
    Columns can only be added, never dropped or retyped; without the flag
    an updates frame with unknown columns simply has them ignored (the
    target schema wins). Note: on a bucketed table only touched buckets
    rewrite with the new column; untouched buckets keep their old files
    (parquet schema-merges NULL for the missing column on read — the same
    per-file heterogeneity every evolving lakehouse table has)."""
    meta = table_meta(root)
    if meta is not None:
        if meta["bucket_key"] != key:
            raise ValueError(
                f"table bucketed on {meta['bucket_key']!r}, merge key {key!r}"
            )
        return _merge_upsert_partitioned(
            spark, root, updates, key, meta["n_buckets"], delete_col,
            commit_note, evolve_schema, carry=meta.get("carry", "link"),
        )
    try:
        target = read_snapshot(spark, root)
    except Exception:
        target = None  # bootstrap-empty version: no files to infer from
    if evolve_schema and target is not None:
        target = _evolve(target, updates, delete_col)
    data_cols = [
        c
        for c in (target.columns if target is not None else updates.columns)
        if c != delete_col
    ]
    if delete_col is not None:
        # NULL flag means "update/insert" (MERGE's WHEN MATCHED AND u.del
        # guard is simply not taken) — without the coalesce, both filters
        # reject NULL and the row silently vanishes from the merge
        flag = F.coalesce(F.col(delete_col), F.lit(False))
        dels = updates.filter(flag).select(key)
        ups = updates.filter(~flag).select(*data_cols)
    else:
        dels = None
        ups = updates.select(*data_cols)
    if target is not None:
        kept = target.join(ups.select(key), key, "left_anti")
        if dels is not None:
            kept = kept.join(dels, key, "left_anti")
        # the key join moves the key column to the front; restore the
        # table's column order
        merged = kept.unionByName(ups).select(*data_cols)
    else:
        merged = ups  # empty target: pure insert
    v = snapshot_versions(root)[-1] + 1
    return _commit(merged, root, v, n_files, note=commit_note)


def _evolve(
    target: DataFrame, updates: DataFrame, delete_col: str | None
) -> DataFrame:
    """Additive schema evolution: append updates-only columns to the
    target as typed NULLs (never drops or retypes existing columns)."""
    have = set(target.columns)
    for f in updates.schema.fields:
        if f.name not in have and f.name != delete_col:
            target = target.withColumn(f.name, F.lit(None).cast(f.dataType))
    return target


def _merge_upsert_partitioned(
    spark: SparkSession,
    root: str,
    updates: DataFrame,
    key: str,
    n_buckets: int,
    delete_col: str | None,
    commit_note: str | None = None,
    evolve_schema: bool = False,
    carry: str = "link",
) -> int:
    """Partition-level MERGE: same row semantics as the COW path (pinned
    identical in tests), different cost — O(touched buckets), not
    O(table).

    Steps: (1) the touched-bucket set comes from the update keys (every
    update/insert/delete row's bucket is in it BY CONSTRUCTION — an
    untouched bucket cannot contain an affected key, so skipping it is
    exact, not approximate); the collect is ≤ n_buckets small ints.
    (2) Only touched buckets are read — exactly the files the previous
    version resolves to for them (its manifest, or its own bucket dirs in
    link mode): driver-side pruning, one footer per touched file — and
    merged with the updates.
    (3) The merged rows write into the new version dir (inserted keys
    re-bucket with the same hash, so they land inside the touched set);
    untouched buckets carry forward — hard links in link mode, a
    metadata-only manifest re-reference (zero bytes) in manifest mode.
    (4) Manifest/note stamp, then the marker flip commits."""
    cur_v = latest_version(root)
    new_v = snapshot_versions(root)[-1] + 1

    touched = sorted(
        r[0]
        for r in updates.select(
            _bucket_expr(key, n_buckets).alias("__b")
        )
        .distinct()
        .collect()
    )
    touched_dirs = {f"{_PART_COL}={b}" for b in touched}
    prev_man = _manifest_or_self(root, cur_v)
    # Only the touched buckets' files are read, in both carry modes
    # (driver-side pruning through the manifest, or the version's own
    # bucket dirs in link mode): footer reads and the scan stay
    # O(touched buckets). mergeSchema: after an evolve_schema merge a
    # touched bucket may hold pre-evolution files beside evolved ones, and
    # a single sampled footer would drop the evolved column. An
    # all-rows-deleted (or bootstrap-empty) version has no parquet files
    # to infer from — fall back to the updates' schema and merge against
    # an empty target.
    src_files = [
        os.path.join(root, rel)
        for d in sorted(touched_dirs)
        for rel in prev_man.get(d, [])
    ]
    try:
        src_df = _read_files(spark, src_files) if src_files else None
    except Exception:
        src_df = None
    if src_df is not None and not evolve_schema:
        # Updates naming a column the touched buckets' files lack: an
        # earlier evolve_schema MERGE may have added it in OTHER buckets,
        # so the table has it. Only then pay the table-wide footer read.
        lacking = {c for c in updates.columns if c not in src_df.columns}
        if lacking - {delete_col}:
            table_schema = _read_files(spark, [
                os.path.join(root, rel) for rels in prev_man.values() for rel in rels
            ]).schema
            for f in table_schema.fields:
                if f.name in lacking:
                    src_df = src_df.withColumn(f.name, F.lit(None).cast(f.dataType))
    if evolve_schema and src_df is not None:
        src_df = _evolve(src_df, updates, delete_col)
    data_cols = [
        c
        for c in (src_df.columns if src_df is not None else updates.columns)
        if c != delete_col
    ]
    if delete_col is not None:
        flag = F.coalesce(F.col(delete_col), F.lit(False))
        dels = updates.filter(flag).select(key)
        ups = updates.filter(~flag).select(*data_cols)
    else:
        dels = None
        ups = updates.select(*data_cols)

    if touched:
        if src_df is not None:
            target = src_df.select(*data_cols)
            kept = target.join(ups.select(key), key, "left_anti")
            if dels is not None:
                kept = kept.join(dels, key, "left_anti")
            # the key join moves the key column to the front; restore the
            # table's column order
            merged = kept.unionByName(ups).select(*data_cols)
        else:
            merged = ups  # empty target: pure insert
        _write_partitioned(merged, root, new_v, key, n_buckets)
    else:
        os.makedirs(os.path.join(root, f"v={new_v}"), exist_ok=True)

    # Untouched buckets: hard links in link mode; in manifest mode the new
    # manifest re-references whatever files the previous version resolved
    # to (which may already live several versions back).
    carried = _carry_forward(
        root, prev_man, [d for d in prev_man if d not in touched_dirs], new_v,
        link=carry != "manifest",
    )
    if carry == "manifest":
        _write_manifest(root, new_v, {**_self_manifest(root, new_v), **carried})
    if commit_note is not None:
        _write_note(root, new_v, commit_note)
    _write_marker(root, new_v)
    return new_v


def compact_snapshot(
    spark: SparkSession, root: str, n_files: int = 8
) -> int:
    """Small-file compaction: rewrite the latest snapshot into right-sized
    files as a new version — same rows, fewer tasks and footers for every
    later scan (the maintenance pass that keeps a frequently-upserted
    table scannable).

    Plain tables rewrite whole into ``n_files`` files. Bucketed tables
    compact per bucket (``n_files`` does not apply): only buckets holding
    more than one data file are read (with ``mergeSchema``) and rewritten,
    each to one file; every other bucket is already compact and
    hard-links into the new version unchanged (copy fallback), like the
    untouched buckets of a link-mode MERGE. Cost is O(fragmented
    buckets), and when nothing is fragmented the commit is driver-side
    file operations only — no footer read, zero Spark jobs — yet it
    still commits a new version. In both carry modes the new version is
    self-contained: a manifest-mode compaction references only its own
    directory, which drops every reference into older versions and makes
    them vacuumable for free."""
    meta = table_meta(root)
    v = snapshot_versions(root)[-1] + 1
    if meta is None:
        return _commit(read_snapshot(spark, root), root, v, n_files)
    prev_man = _manifest_or_self(root, latest_version(root))
    fragmented = [d for d, rels in prev_man.items() if len(rels) > 1]
    if fragmented:
        files = sorted(
            os.path.join(root, rel) for d in fragmented for rel in prev_man[d]
        )
        _write_partitioned(
            _read_files(spark, files),
            root, v, meta["bucket_key"], meta["n_buckets"],
        )
    else:
        os.makedirs(os.path.join(root, f"v={v}"))
    _carry_forward(
        root, prev_man, [d for d in prev_man if d not in fragmented], v, link=True
    )
    if meta.get("carry") == "manifest":
        _write_manifest(root, v, _self_manifest(root, v))
    _write_marker(root, v)
    return v


def merge_additive_agg(
    spark: SparkSession,
    root: str,
    delta: DataFrame,
    key: str,
    add_cols: Sequence[str],
    commit_note: str | None = None,
    combine: dict | None = None,
) -> int:
    """Incrementally maintain a grouped-aggregate snapshot table (the
    materialized-rollup pattern): ``delta`` carries one row per key with
    ADDITIVE partial aggregates — counts, integer-scaled sums, any
    exactly-associative column — and merges into the current snapshot by
    key-wise addition (new keys insert with an implicit current of 0).

    ``combine`` overrides the merge per column: a map of column name →
    ``fn(current, delta) -> Column``, where ``current`` is NULL for new
    keys. Any mergeable partial state works through this — HLL sketches
    (``F.hll_union``) for incremental distinct counts, min/max via
    ``least``/``greatest``, mergeable quantile sketches — as long as the
    combine is associative+commutative so the result stays independent of
    batching (the invariance tests cover the sketch path too).

    The additive contract is what makes incremental == full-recompute
    BIT-exact (pinned against a plain groupBy oracle in tests): integer
    addition is associative, so the result is independent of how history
    was batched — unlike double sums, whose accumulation order drifts.
    Scale your doubles to integers (cents, micros) before deltaing.

    Commits through :func:`merge_upsert`, so on a bucketed table only
    the key-buckets present in the delta rewrite — maintaining a 100 TB
    rollup costs O(batch keys), not O(table), per batch. Pass
    ``commit_note`` (e.g. a streaming batch id) to stamp the commit for
    exactly-once appliers (see :func:`version_note`)."""
    try:
        cur = read_snapshot(spark, root)
    except Exception:
        cur = None  # bootstrap-empty snapshot: no files to read yet
    if cur is None:
        combined = delta.select(key, *add_cols)
    else:
        def _default(c, d):
            return F.coalesce(c, F.lit(0)) + d

        fns = combine or {}
        combined = delta.alias("d").join(cur.alias("c"), key, "left").select(
            F.col(f"d.{key}").alias(key),
            *[
                fns.get(c, _default)(F.col(f"c.{c}"), F.col(f"d.{c}")).alias(c)
                for c in add_cols
            ],
        )
    return merge_upsert(spark, root, combined, key, commit_note=commit_note)


def vacuum_snapshots(root: str, keep_last: int = 2) -> list[int]:
    """Retention: delete all version directories except the newest
    ``keep_last`` (and always the committed latest) — the VACUUM half of
    the snapshot lifecycle, without which an actively-merged table
    accretes versions forever.

    Safe BY CONSTRUCTION in both carry modes. Link mode: carried-forward
    files are hard links, so a file shared into a kept version survives
    deletion of the old directory (the inode lives until its last link
    goes) — the filesystem does the reference counting. Manifest mode:
    explicit reference counting with a CRASH-SAFE, idempotent rescue
    order — every data file a KEPT version's manifest still references
    is first hard-linked (copy-via-tmp+rename where links are
    unsupported; no data movement on one filesystem) into the first kept
    version that references it, then all kept manifests are rewritten,
    and only THEN are the doomed directories removed. A crash at any
    point leaves every manifest resolvable: before a rewrite the old
    path still exists (the source is never unlinked early), after it the
    new path does — and re-running vacuum reuses an already-rescued
    destination instead of colliding (same-inode check for the primary
    name; the ``gc<v>-`` fallback name is unique per source file and
    written atomically, so its existence proves completeness).
    Concurrent readers mid-vacuum see whichever manifest they resolved;
    both path generations exist until the final directory removal.
    Unreferenced files die with their directory. Time travel to a
    vacuumed version subsequently raises; that's the retention trade
    every table format makes. Returns the removed version numbers."""
    if keep_last < 1:
        raise ValueError("keep_last must be >= 1")
    versions = snapshot_versions(root)
    latest = latest_version(root)
    keep = sorted(set(versions[-keep_last:]) | ({latest} if latest is not None else set()))
    removed = [v for v in versions if v not in keep]
    removed_set = set(removed)
    # Compose-root guard (ADVICE r07): index_store.append_ivf_cells builds
    # views whose _compose.json re-references EARLIER version dirs as live
    # data — they are members of the latest view, not superseded history.
    # Deleting one silently truncates the index, so refuse instead of
    # trusting a docstring. A compacted root (save_ivf_cells of the loaded
    # view — self-contained versions, no compose manifest referencing
    # doomed dirs) vacuums normally.
    for kv in keep:
        cp = os.path.join(root, f"v={kv}", "_compose.json")
        if not os.path.exists(cp):
            continue
        with open(cp) as fh:
            members = set(json.load(fh).get("includes", []))
        doomed = sorted(members & removed_set)
        if doomed:
            raise ValueError(
                f"refusing to vacuum composed root {root}: kept version "
                f"v={kv} is a composed view whose live members include "
                f"{['v=%d' % d for d in doomed]} — compact first via "
                "save_ivf_cells(load_ivf_cells(...), new_root)"
            )
    # manifest-mode GC: rescue still-referenced files out of doomed dirs
    moves: dict[str, str] = {}
    for kv in keep:
        man = _read_manifest(root, kv)
        if man is None:
            continue
        changed = False
        for bucket, rels in man.items():
            new_rels = []
            for rel in rels:
                head = rel.split("/", 1)[0]  # "v=N"
                src_v = int(head.split("=")[1])
                if src_v not in removed_set:
                    new_rels.append(rel)
                    continue
                if rel not in moves:
                    src = os.path.join(root, rel)
                    base = os.path.basename(rel)
                    # candidate order: plain name, then the gc<v>- name
                    # (unique per source file — src_v+bucket+base is the
                    # source identity, so an existing gc file IS an
                    # earlier rescue of this very file)
                    cands = (
                        f"v={kv}/{bucket}/{base}",
                        f"v={kv}/{bucket}/gc{src_v}-{base}",
                    )
                    dst_rel = None
                    for n_cand, cand in enumerate(cands):
                        dstp = os.path.join(root, cand)
                        if os.path.exists(dstp):
                            try:
                                same = os.path.samefile(src, dstp)
                            except OSError:
                                same = False
                            if same or n_cand == 1:
                                dst_rel = cand  # idempotent re-run: reuse
                                break
                            continue  # plain name taken by another file
                        os.makedirs(os.path.dirname(dstp), exist_ok=True)
                        try:
                            # link first — src stays until final rmtree
                            os.link(src, dstp)
                        except OSError:
                            # no-hardlink FS: atomic copy (tmp + rename),
                            # so a crash never leaves a partial dst
                            tmp = dstp + ".gc-tmp"
                            shutil.copy2(src, tmp)
                            os.replace(tmp, dstp)
                        dst_rel = cand
                        break
                    assert dst_rel is not None  # gc name always resolves
                    moves[rel] = dst_rel
                new_rels.append(moves[rel])
                changed = True
            man[bucket] = new_rels
        if changed:
            _write_manifest(root, kv, man)
    for v in removed:
        shutil.rmtree(os.path.join(root, f"v={v}"))
    return removed


def read_changes(
    spark: SparkSession,
    root: str,
    key: str,
    v_from: int,
    v_to: int | None = None,
) -> DataFrame:
    """Change-data-feed between two snapshot versions (Delta CDF-lite):
    one row per key whose state changed from ``v_from`` to ``v_to``
    (default: latest), with ``change_type`` ∈ insert/update/delete.
    Inserts/updates carry the NEW values, deletes the OLD — the exact
    frame a downstream consumer needs to replicate the table, and the
    natural input to re-run only affected partitions of a derived
    pipeline.

    Schema evolution: columns present only in ``v_to`` read as NULL on
    the ``v_from`` side (additive evolution contract of
    :func:`merge_upsert`); a NULL→value transition counts as an update
    (``IS DISTINCT FROM`` semantics via ``eqNullSafe``).

    Scale shape: ONE full-outer join keyed on ``key`` between the two
    snapshots — on bucketed tables both sides share the bucket layout, so
    at 100 TB this can be driven per-bucket; unchanged keys drop before
    anything downstream sees them."""
    a = read_snapshot(spark, root, v_from)
    b = read_snapshot(spark, root, v_to if v_to is not None else latest_version(root))
    cols = [c for c in b.columns if c != key]
    a2 = a.select(
        key,
        F.lit(True).alias("__in_a"),
        *[
            (F.col(c) if c in a.columns else F.lit(None)).alias(f"__a_{c}")
            for c in cols
        ],
    )
    b2 = b.select(
        key,
        F.lit(True).alias("__in_b"),
        *[F.col(c).alias(f"__b_{c}") for c in cols],
    )
    j = a2.join(b2, key, "full_outer")
    differs = None
    for c in cols:
        d = ~F.col(f"__a_{c}").eqNullSafe(F.col(f"__b_{c}"))
        differs = d if differs is None else (differs | d)
    change = (
        F.when(F.col("__in_a").isNull(), F.lit("insert"))
        .when(F.col("__in_b").isNull(), F.lit("delete"))
        .when(differs if differs is not None else F.lit(False), F.lit("update"))
    )
    out_cols = [
        F.when(F.col("__in_b").isNull(), F.col(f"__a_{c}"))
        .otherwise(F.col(f"__b_{c}"))
        .alias(c)
        for c in cols
    ]
    return (
        j.withColumn("change_type", change)
        .filter(F.col("change_type").isNotNull())
        .select(key, "change_type", *out_cols)
    )
