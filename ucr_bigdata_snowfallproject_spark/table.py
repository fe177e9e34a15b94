"""Snapshot-versioned parquet tables: MERGE/upsert, time travel, and
compaction on plain parquet — the minimal lakehouse-table surface an
incrementally-maintained corpus needs, with no table-format dependency.

Layout: ``<root>/v=N/`` parquet snapshot per version. Writers always
produce a NEW version directory (immutable snapshots → readers never see
partial writes, old versions stay queryable for reproducibility/time
travel); a marker file ``<root>/_latest`` names the committed version, and
is written only after the snapshot directory is complete — a reader
following the marker can never observe a half-written snapshot.

Storage: a local POSIX filesystem. Every operation here is ``os`` /
``shutil`` file work (listing, hard links, renames); an object-store tier
would need a filesystem abstraction this module does not have.

Invariant: every committed version directory is self-contained — its
data files are physically under ``v=N``. A new version reuses data an
older one wrote in exactly one way, :func:`_link_forward`: a hard link
(same inode → byte-identical, zero data movement; physical-copy fallback
where the filesystem refuses links). Readers therefore read one
directory's files, and :func:`vacuum_snapshots` deletes old version
directories outright — the filesystem reference-counts shared files.

Scale notes: MERGE on an unpartitioned table is one full-outer-shaped
join keyed on the merge key (sort-merge at scale; the updates side is
typically ≪ target and AQE broadcasts it), and the rewrite cost is one
full-table pass — the same cost contract as Delta/Iceberg copy-on-write.

The partition-level tier (:func:`create_partitioned_snapshot`) removes
that full-pass cost: snapshot dirs are hash-bucketed on the merge key
(``__pbucket=K`` subdirs, Delta/Iceberg-style layout), and
:func:`merge_upsert` on such a table rewrites ONLY the buckets containing
touched keys; untouched buckets hard-link forward. Per-batch cost is
O(touched_buckets/n_buckets · table) + O(updates) instead of O(table):
the difference between an incrementally-maintained 100 TB corpus and one
that's rewritten nightly. The MERGE's touched-bucket scan prunes on the
driver: it reads exactly the touched buckets' files, so footer reads are
O(touched buckets) too. :func:`compact_snapshot` has the same shape: it
rewrites only buckets that hold more than one data file and hard-links
the rest, so its cost is O(fragmented buckets), and zero Spark jobs when
nothing is fragmented. :func:`append_snapshot` writes only the delta and
hard-links the previous version's files. Snapshot reads take one sorted
file list.
"""

from __future__ import annotations

import errno
import json
import os
import re
import shutil
import threading
from collections.abc import Iterable, Sequence

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
    # One sorted file list: Spark packs files into partitions by size with
    # ties in input order, so the sort makes the row → partition layout of
    # a snapshot read (and any seeded split over it) independent of
    # directory listing order.
    rels = _self_files(root, v)
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
    ``col=value`` partition directories (``_SUCCESS``, ``_note``, ``.crc``
    checksums)."""
    return name.startswith(".") or (name.startswith("_") and "=" not in name)


def _self_files(root: str, version: int) -> list[str]:
    """Root-relative data files of ``v=N`` — top-level files plus
    ``col=value`` subdir files (bucket or cell dirs), sorted."""
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


def _bucket_files(root: str, version: int) -> dict[str, list[str]]:
    """Bucket dir name → root-relative data files of that bucket, for the
    buckets of ``v=N`` that hold any."""
    out: dict[str, list[str]] = {}
    for rel in _self_files(root, version):
        d = rel.split("/")[1]
        if d.startswith(f"{_PART_COL}="):
            out.setdefault(d, []).append(rel)
    return out


#: ``os.link`` errnos meaning "this filesystem will not link these" —
#: the only ones the copy fallback covers; anything else (a name collision
#: above all) must not turn into a silent overwrite
_NO_LINK_ERRNOS = frozenset(
    {errno.EXDEV, errno.EPERM, errno.EMLINK, errno.ENOTSUP, errno.EOPNOTSUPP}
)


def _link_forward(root: str, rels: Iterable[str], version: int) -> None:
    """Hard-link root-relative data files ``v=M/<sub>/f`` of an older
    version to ``v=version/<sub>/f`` — the one way a new version reuses
    data an older one wrote (MERGE's untouched buckets, compaction's
    compact buckets, appends). Same inode → byte-identical, zero data
    movement, and the new version dir stays self-contained. Each file's
    ``.crc`` checksum sidecar goes along. Where the filesystem refuses
    links (cross-device, no link support, link-count limit) the file is
    copied; any other error, e.g. an existing destination, raises."""
    for rel in rels:
        src = os.path.join(root, rel)
        dst = os.path.join(root, f"v={version}", rel.split("/", 1)[1])
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        pairs = [(src, dst)]
        crc = os.path.join(os.path.dirname(src), f".{os.path.basename(src)}.crc")
        if os.path.exists(crc):
            pairs.append(
                (crc, os.path.join(os.path.dirname(dst), os.path.basename(crc)))
            )
        for s, d in pairs:
            try:
                os.link(s, d)
            except OSError as e:
                if e.errno not in _NO_LINK_ERRNOS:
                    raise
                shutil.copy2(s, d)


def append_snapshot(
    df: DataFrame, root: str, n_files: int | None = None, note: str | None = None
) -> int:
    """APPEND-ONLY commit: the new version = the delta's files written
    fresh PLUS every file of the previous version hard-linked forward
    (:func:`_link_forward`) — existing data is never rewritten, for
    row-append workloads: growing posting lists, event logs, corpus
    shards. Cost per batch is O(delta) bytes plus one link per existing
    file.

    Contract: pure INSERT — the caller guarantees delta rows are new
    (append-only tables have no key). Every version is self-contained,
    so old versions stay time-travelable and :func:`vacuum_snapshots`
    may delete any of them."""
    os.makedirs(root, exist_ok=True)
    versions = snapshot_versions(root)
    v = (versions[-1] + 1) if versions else 0
    delta = df.repartition(n_files) if n_files is not None else df
    delta.write.mode("errorifexists").parquet(os.path.join(root, f"v={v}"))
    if versions:
        _link_forward(root, _self_files(root, latest_version(root)), v)
    if note is not None:
        _write_note(root, v, note)
    _write_marker(root, v)
    return v


def create_partitioned_snapshot(
    df: DataFrame, root: str, key: str, n_buckets: int = 16
) -> int:
    """Create a KEY-BUCKETED snapshot table: rows land in
    ``v=N/__pbucket=hash(key) % n_buckets/`` dirs, and every later
    :func:`merge_upsert` rewrites only the buckets whose keys changed and
    hard-links the rest forward — the partition-level MERGE tier (see
    module docstring).

    ``n_buckets`` sizes the rewrite granularity: each merge pays
    O(touched_buckets · table/n_buckets). At 100 TB pick n_buckets so one
    bucket is a few GB (thousands of buckets); updates drawn from across
    the keyspace touch many buckets — that's still bounded by n_buckets
    reads of table/n_buckets each, never more than one full pass, and
    hot-key batches touch few."""
    os.makedirs(root, exist_ok=True)
    meta = {"bucket_key": key, "n_buckets": int(n_buckets)}
    tmp = os.path.join(root, "_table.json.tmp")
    with open(tmp, "w") as fh:
        json.dump(meta, fh)
    os.replace(tmp, os.path.join(root, "_table.json"))
    versions = snapshot_versions(root)
    v = (versions[-1] + 1) if versions else 0
    _write_partitioned(df, root, v, key, n_buckets)
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
            commit_note, evolve_schema,
        )
    try:
        target = read_snapshot(spark, root)
    except FileNotFoundError:
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
) -> int:
    """Partition-level MERGE: same row semantics as the COW path (pinned
    identical in tests), different cost — O(touched buckets), not
    O(table).

    Steps: (1) the touched-bucket set comes from the update keys (every
    update/insert/delete row's bucket is in it BY CONSTRUCTION — an
    untouched bucket cannot contain an affected key, so skipping it is
    exact, not approximate); the collect is ≤ n_buckets small ints.
    (2) Only touched buckets are read — exactly the previous version's
    files in those bucket dirs: driver-side pruning, one footer per
    touched file — and merged with the updates.
    (3) The merged rows write into the new version dir (inserted keys
    re-bucket with the same hash, so they land inside the touched set);
    untouched buckets hard-link forward (:func:`_link_forward`).
    (4) Note stamp, then the marker flip commits."""
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
    prev = _bucket_files(root, cur_v)
    # Only the touched buckets' files are read (driver-side pruning):
    # footer reads and the scan stay O(touched buckets). mergeSchema:
    # after an evolve_schema merge a touched bucket may hold pre-evolution
    # files beside evolved ones, and a single sampled footer would drop
    # the evolved column. Touched buckets with no files (all rows deleted,
    # or new keys) merge against an empty target with the updates' schema.
    src_files = [
        os.path.join(root, rel)
        for d in sorted(touched_dirs)
        for rel in prev.get(d, [])
    ]
    src_df = _read_files(spark, src_files) if src_files else None
    if src_df is not None and not evolve_schema:
        # Updates naming a column the touched buckets' files lack: an
        # earlier evolve_schema MERGE may have added it in OTHER buckets,
        # so the table has it. Only then pay the table-wide footer read.
        lacking = {c for c in updates.columns if c not in src_df.columns}
        if lacking - {delete_col}:
            table_schema = _read_files(spark, [
                os.path.join(root, rel) for rels in prev.values() for rel in rels
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

    _link_forward(
        root,
        [rel for d, rels in prev.items() if d not in touched_dirs for rel in rels],
        new_v,
    )
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
    hard-links into the new version unchanged (:func:`_link_forward`),
    like the untouched buckets of a MERGE. Cost is O(fragmented buckets),
    and when nothing is fragmented the commit is driver-side file
    operations only — no footer read, zero Spark jobs — yet it still
    commits a new version, self-contained like every other."""
    meta = table_meta(root)
    v = snapshot_versions(root)[-1] + 1
    if meta is None:
        return _commit(read_snapshot(spark, root), root, v, n_files)
    prev = _bucket_files(root, latest_version(root))
    fragmented = [d for d, rels in prev.items() if len(rels) > 1]
    if fragmented:
        files = sorted(
            os.path.join(root, rel) for d in fragmented for rel in prev[d]
        )
        _write_partitioned(
            _read_files(spark, files),
            root, v, meta["bucket_key"], meta["n_buckets"],
        )
    else:
        os.makedirs(os.path.join(root, f"v={v}"))
    _link_forward(
        root,
        [rel for d, rels in prev.items() if d not in fragmented for rel in rels],
        v,
    )
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
    except FileNotFoundError:
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

    Safe BY CONSTRUCTION: every version directory is self-contained, and
    a file shared with a kept version is a hard link there (or a copy
    where links were refused), so it survives deletion of the old
    directory — the inode lives until its last link goes; the filesystem
    does the reference counting. Time travel to a vacuumed version
    subsequently raises; that's the retention trade every table format
    makes. Returns the removed version numbers."""
    if keep_last < 1:
        raise ValueError("keep_last must be >= 1")
    versions = snapshot_versions(root)
    latest = latest_version(root)
    keep = set(versions[-keep_last:]) | ({latest} if latest is not None else set())
    removed = [v for v in versions if v not in keep]
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
