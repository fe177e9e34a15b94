"""Source/sink round-trips beyond parquet (SURVEY §2.1): JSON lines,
malformed-CSV permissive handling, exactly-once streaming file sink."""

from __future__ import annotations

from pyspark.sql import functions as F

from ucr_bigdata_snowfallproject_spark.io import load_table, read_csv, read_json
from ucr_bigdata_snowfallproject_spark.streaming.events import (
    read_event_stream,
    write_stream_parquet,
)

from conftest import SF_SMOKE


def test_json_lines_roundtrip(spark, tmp_path):
    out = str(tmp_path / "orders_json")
    o = load_table(spark, SF_SMOKE, "orders")
    o.write.mode("overwrite").json(out)
    back = read_json(spark, out, schema=o.schema)
    assert back.count() == o.count()
    a = sorted(map(tuple, o.select("o_orderkey", "o_totalprice").collect()))
    b = sorted(map(tuple, back.select("o_orderkey", "o_totalprice").collect()))
    assert a == b


def test_csv_permissive_malformed_rows(spark, tmp_path):
    """PERMISSIVE mode (the engine default inherited from Spark): malformed
    rows null-fill and land in _corrupt_record instead of failing the job —
    at 100 TB one bad line must not kill a 6-hour ingest."""
    p = tmp_path / "dirty.csv"
    p.write_text("a,b\n1,2\n3,notanint\n4,5\n")
    from pyspark.sql.types import IntegerType, StringType, StructField, StructType

    schema = StructType(
        [
            StructField("a", IntegerType()),
            StructField("b", IntegerType()),
            StructField("_corrupt_record", StringType()),
        ]
    )
    df = read_csv(spark, str(p), schema=schema).cache()
    rows = {r.a: (r.b, r._corrupt_record) for r in df.collect()}
    assert rows[1] == (2, None) and rows[4] == (5, None)
    assert rows[3][0] is None and "notanint" in rows[3][1]
    df.unpersist()


def test_streaming_parquet_sink_exactly_once(spark, tmp_path):
    """write_stream_parquet: re-running with the same checkpoint emits no
    duplicates (the commit log skips already-processed files)."""
    src = str(tmp_path / "src")
    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")
    base = load_table(spark, SF_SMOKE, "events")
    base.repartition(2).write.mode("overwrite").parquet(src)

    q = write_stream_parquet(read_event_stream(spark, src), sink, ckpt)
    q.awaitTermination()
    n1 = spark.read.parquet(sink).count()
    assert n1 == base.count()

    # same source, same checkpoint → nothing new to process
    q2 = write_stream_parquet(read_event_stream(spark, src), sink, ckpt)
    q2.awaitTermination()
    assert spark.read.parquet(sink).count() == n1


def test_orc_roundtrip_with_pushdown(spark, tmp_path):
    """ORC source/sink: values survive the roundtrip and the ORC scan
    honors predicate pushdown + column pruning like parquet."""
    from ucr_bigdata_snowfallproject_spark.io import load_table, read_orc, write_orc
    from ucr_bigdata_snowfallproject_spark.plans import checks

    out = str(tmp_path / "orders_orc")
    orders = load_table(spark, SF_SMOKE, "orders")
    write_orc(orders, out)
    back = read_orc(spark, out)
    assert back.count() == orders.count()

    q = back.filter(F.col("o_totalprice") > 1000.0).select("o_orderkey", "o_totalprice")
    pushed = checks.pushed_filters(q)
    assert any("o_totalprice" in p for p in pushed), pushed
    scans = checks.read_schema_columns(q)
    assert all(set(c) <= {"o_orderkey", "o_totalprice"} for c in scans), scans


def test_zorder_write_tightens_file_stats_on_both_columns(spark, tmp_path):
    """Z-order vs single-column sort: the single sort gives tight per-file
    ranges only on its leading column (the other column's per-file range
    stays ~the full domain); the Morton layout keeps BOTH columns' average
    per-file range well under the full domain — that range is exactly what
    parquet min/max skipping prunes with."""
    import pyarrow.parquet as pq
    from ucr_bigdata_snowfallproject_spark.io import load_table, write_zordered

    li = load_table(spark, SF_SMOKE, "lineitem").select(
        "l_extendedprice", "l_quantity"
    )
    zdir, sdir = str(tmp_path / "z"), str(tmp_path / "s")
    write_zordered(li, zdir, ["l_extendedprice", "l_quantity"], n_files=8)
    (
        li.repartitionByRange(8, "l_extendedprice")
        .sortWithinPartitions("l_extendedprice")
        .write.mode("overwrite").parquet(sdir)
    )

    def avg_range_fraction(d, col):
        import glob as g
        spans, lo_all, hi_all = [], None, None
        for f in sorted(g.glob(d + "/*.parquet")):
            md = pq.ParquetFile(f).metadata
            idx = md.schema.to_arrow_schema().get_field_index(col)
            lo = min(md.row_group(i).column(idx).statistics.min for i in range(md.num_row_groups))
            hi = max(md.row_group(i).column(idx).statistics.max for i in range(md.num_row_groups))
            spans.append((lo, hi))
            lo_all = lo if lo_all is None else min(lo_all, lo)
            hi_all = hi if hi_all is None else max(hi_all, hi)
        dom = hi_all - lo_all
        return sum((h - l) / dom for l, h in spans) / len(spans)

    z_price = avg_range_fraction(zdir, "l_extendedprice")
    z_qty = avg_range_fraction(zdir, "l_quantity")
    s_price = avg_range_fraction(sdir, "l_extendedprice")
    s_qty = avg_range_fraction(sdir, "l_quantity")
    # single sort: near-perfect on price, useless on quantity
    assert s_price < 0.3 and s_qty > 0.8, (s_price, s_qty)
    # z-order: BOTH columns skippable
    assert z_price < 0.7 and z_qty < 0.7, (z_price, z_qty)
    # and the data itself round-trips
    assert spark.read.parquet(zdir).count() == li.count()


def test_snapshot_table_merge_timetravel_compact(spark, tmp_path):
    """MERGE semantics (update/insert/delete), immutable time travel, and
    compaction on the snapshot-versioned parquet table layer."""
    from ucr_bigdata_snowfallproject_spark import table as T

    root = str(tmp_path / "docs_table")
    base = load_table(spark, SF_SMOKE, "documents").select("doc_id", "lang", "source")
    v0 = T.create_snapshot(base.filter(F.col("doc_id") < 100), root)
    assert v0 == 0 and T.latest_version(root) == 0
    n0 = T.read_snapshot(spark, root).count()

    updates = spark.createDataFrame(
        [
            (1, "xx", "src0", False),     # update existing key 1
            (99990, "en", "srcNEW", False),  # insert new key
            (2, None, None, True),        # delete key 2
        ],
        "doc_id long, lang string, source string, del boolean",
    )
    v1 = T.merge_upsert(spark, root, updates, "doc_id", delete_col="del")
    assert v1 == 1 and T.latest_version(root) == 1
    cur = {r.doc_id: (r.lang, r.source) for r in T.read_snapshot(spark, root).collect()}
    assert cur[1] == ("xx", "src0")
    assert cur[99990] == ("en", "srcNEW")
    assert 2 not in cur
    assert len(cur) == n0  # one insert + one delete cancel out
    # time travel: v0 is untouched
    old = {r.doc_id: r.lang for r in T.read_snapshot(spark, root, version=0).collect()}
    assert 2 in old and old[1] != "xx"

    v2 = T.compact_snapshot(spark, root, n_files=2)
    import glob
    files = glob.glob(root + f"/v={v2}/*.parquet")
    assert len(files) <= 2
    cur2 = {r.doc_id: (r.lang, r.source) for r in T.read_snapshot(spark, root).collect()}
    assert cur2 == cur


def test_partitioned_merge_identity_with_cow(spark, tmp_path):
    """VERDICT r04 #3: partition-level MERGE (bucketed snapshot layout)
    returns row-for-row the same table as the full copy-on-write MERGE —
    update/insert/delete in one batch, including a NULL delete flag
    (= plain update, never a silent drop)."""
    from ucr_bigdata_snowfallproject_spark import table as T

    base = load_table(spark, SF_SMOKE, "documents").select(
        "doc_id", "lang", "source"
    ).filter(F.col("doc_id") < 100)
    cow_root = str(tmp_path / "cow")
    part_root = str(tmp_path / "bucketed")
    T.create_snapshot(base, cow_root)
    T.create_partitioned_snapshot(base, part_root, "doc_id", n_buckets=8)

    updates = spark.createDataFrame(
        [
            (1, "xx", "src0", False),
            (99990, "en", "srcNEW", None),  # NULL flag → insert
            (3, "yy", "src1", None),        # NULL flag → update
            (2, None, None, True),          # delete
        ],
        "doc_id long, lang string, source string, del boolean",
    )
    T.merge_upsert(spark, cow_root, updates, "doc_id", delete_col="del")
    T.merge_upsert(spark, part_root, updates, "doc_id", delete_col="del")

    def rows(root):
        return {
            (r.doc_id, r.lang, r.source)
            for r in T.read_snapshot(spark, root).collect()
        }

    got = rows(part_root)
    assert got == rows(cow_root)
    by_id = {t[0]: t for t in got}
    assert by_id[1][1] == "xx" and by_id[3][1] == "yy"
    assert 99990 in by_id and 2 not in by_id
    # both schemas read back clean (no internal __pbucket column)
    assert T.read_snapshot(spark, part_root).columns == ["doc_id", "lang", "source"]
    # key-mismatch guard
    import pytest

    with pytest.raises(ValueError, match="bucketed on"):
        T.merge_upsert(spark, part_root, updates, "lang")


def test_partitioned_merge_links_untouched_buckets(spark, tmp_path):
    """The point of the bucketed tier: a merge rewrites ONLY buckets whose
    keys changed — every other bucket's files carry into the new version
    as hard links (same inode, byte-identical), so per-batch cost is
    O(touched), not O(table)."""
    import os

    from ucr_bigdata_snowfallproject_spark import table as T

    base = load_table(spark, SF_SMOKE, "documents").select(
        "doc_id", "lang", "source"
    ).filter(F.col("doc_id") < 200)
    root = str(tmp_path / "bucketed")
    n_buckets = 8
    T.create_partitioned_snapshot(base, root, "doc_id", n_buckets=n_buckets)

    updates = spark.createDataFrame(
        [(7, "xx", "s", False), (7 + n_buckets, "yy", "s", False)],
        "doc_id long, lang string, source string, del boolean",
    )
    touched = {
        r[0]
        for r in updates.select(
            T._bucket_expr("doc_id", n_buckets).alias("b")
        ).distinct().collect()
    }
    v1 = T.merge_upsert(spark, root, updates, "doc_id", delete_col="del")

    src, dst = os.path.join(root, "v=0"), os.path.join(root, f"v={v1}")
    untouched_seen = 0
    for name in sorted(os.listdir(src)):
        if not name.startswith("__pbucket="):
            continue
        b = int(name.split("=")[1])
        if b in touched:
            continue
        untouched_seen += 1
        sfiles = sorted(os.listdir(os.path.join(src, name)))
        dfiles = sorted(os.listdir(os.path.join(dst, name)))
        assert sfiles == dfiles, name
        for f in sfiles:
            s, d = os.path.join(src, name, f), os.path.join(dst, name, f)
            assert os.path.samefile(s, d) or (
                open(s, "rb").read() == open(d, "rb").read()
            ), (name, f)
    assert untouched_seen >= n_buckets - len(touched) - 1
    # and the merged table is still correct + time-travelable
    cur = {r.doc_id: r.lang for r in T.read_snapshot(spark, root).collect()}
    assert cur[7] == "xx" and cur[7 + n_buckets] == "yy"
    old = {r.doc_id: r.lang for r in T.read_snapshot(spark, root, version=0).collect()}
    assert old[7] != "xx"
    # compaction preserves the bucketed layout
    v2 = T.compact_snapshot(spark, root)
    assert any(
        n.startswith("__pbucket=") for n in os.listdir(os.path.join(root, f"v={v2}"))
    )
    assert {r.doc_id: r.lang for r in T.read_snapshot(spark, root).collect()} == cur


def test_merge_additive_agg_hand_case(spark, tmp_path):
    """Additive rollup merge: matched keys add, new keys insert from an
    implicit zero, the commit note stamps atomically with the version."""
    from ucr_bigdata_snowfallproject_spark import table as T

    root = str(tmp_path / "totals")
    base = spark.createDataFrame(
        [("a", 2, 10), ("c", 1, 4)], "k string, n long, s long"
    )
    T.create_partitioned_snapshot(base, root, "k", n_buckets=4)
    delta = spark.createDataFrame(
        [("a", 1, 5), ("b", 3, 7)], "k string, n long, s long"
    )
    v = T.merge_additive_agg(
        spark, root, delta, "k", ["n", "s"], commit_note="batch-7"
    )
    got = {r.k: (r.n, r.s) for r in T.read_snapshot(spark, root).collect()}
    assert got == {"a": (3, 15), "b": (3, 7), "c": (1, 4)}
    assert T.version_note(root) == "batch-7" and T.version_note(root, v) == "batch-7"
    assert T.version_note(root, 0) is None


def test_vacuum_keeps_latest_readable_via_hard_links(spark, tmp_path):
    """VACUUM: old versions delete, yet the kept version stays fully
    readable — its carried-forward files are hard links, so the inodes
    survive removal of the directories that first wrote them. Before the
    vacuum every version time-travels; after it a second MERGE and a
    compaction keep composing, and the compaction's files all live under
    its own ``v=N``."""
    import os

    import pytest

    from ucr_bigdata_snowfallproject_spark import table as T

    base = load_table(spark, SF_SMOKE, "documents").select(
        "doc_id", "lang", "source"
    ).filter(F.col("doc_id") < 200)
    root = str(tmp_path / "bucketed")
    T.create_partitioned_snapshot(base, root, "doc_id", n_buckets=8)
    v0_rows = {(r.doc_id, r.lang) for r in base.collect()}
    for k, lang, dele in [(7, "xx", False), (15, "yy", False), (3, None, True)]:
        ups = spark.createDataFrame(
            [(k, lang, "s", dele)],
            "doc_id long, lang string, source string, del boolean",
        )
        T.merge_upsert(spark, root, ups, "doc_id", delete_col="del")
    want = {(r.doc_id, r.lang) for r in T.read_snapshot(spark, root).collect()}
    assert {(7, "xx"), (15, "yy")} <= want and 3 not in {d for d, _ in want}
    # time travel after MERGE: v0 reads as it was written
    assert {(r.doc_id, r.lang)
            for r in T.read_snapshot(spark, root, version=0).collect()} == v0_rows

    removed = T.vacuum_snapshots(root, keep_last=1)
    assert removed == [0, 1, 2] and T.latest_version(root) == 3
    got = {(r.doc_id, r.lang) for r in T.read_snapshot(spark, root).collect()}
    assert got == want  # every hard-linked file still alive
    assert T.vacuum_snapshots(root, keep_last=1) == []  # re-run: no-op
    with pytest.raises(Exception):
        T.read_snapshot(spark, root, version=0).collect()
    with pytest.raises(ValueError):
        T.vacuum_snapshots(root, keep_last=0)

    # a second MERGE after vacuum keeps composing
    ups2 = spark.createDataFrame(
        [(7, "zz", "s", False)], "doc_id long, lang string, source string, del boolean"
    )
    T.merge_upsert(spark, root, ups2, "doc_id", delete_col="del")
    want = (want - {(7, "xx")}) | {(7, "zz")}
    assert {(r.doc_id, r.lang) for r in T.read_snapshot(spark, root).collect()} == want

    # compaction output lives entirely under its own v=N
    vc = T.compact_snapshot(spark, root)
    files = T._self_files(root, vc)
    assert files and all(rel.startswith(f"v={vc}/") for rel in files)
    assert all(os.path.isfile(os.path.join(root, rel)) for rel in files)
    assert T.vacuum_snapshots(root, keep_last=1) == [3, 4]
    assert {(r.doc_id, r.lang) for r in T.read_snapshot(spark, root).collect()} == want


def test_append_snapshot_vacuum_keeps_every_row(spark, tmp_path):
    """Three appends, then VACUUM down to the latest: every appended row
    is still readable — each append hard-links the previous version's
    files into its own directory instead of referencing them, and only
    the delta's files are new inodes."""
    import os

    from ucr_bigdata_snowfallproject_spark import table as T

    root = str(tmp_path / "log")
    batches = [
        spark.createDataFrame([(b * 10 + i, f"b{b}") for i in range(10)],
                              "id long, tag string")
        for b in range(3)
    ]
    for b, df in enumerate(batches):
        v = T.append_snapshot(df, root, n_files=2, note=f"batch-{b}")
        assert v == b and T.version_note(root, v) == f"batch-{b}"
        if b:
            prev = T._self_files(root, v - 1)
            for rel in prev:
                assert os.path.samefile(
                    os.path.join(root, rel),
                    os.path.join(root, f"v={v}", rel.split("/", 1)[1]),
                ), rel
            assert len(T._self_files(root, v)) == len(prev) + 2
    assert T.read_snapshot(spark, root, version=1).count() == 20
    assert T.vacuum_snapshots(root, keep_last=1) == [0, 1]
    got = sorted((r.id, r.tag) for r in T.read_snapshot(spark, root).collect())
    assert got == sorted((b * 10 + i, f"b{b}") for b in range(3) for i in range(10))


def test_merge_over_unreadable_target_raises_and_commits_nothing(spark, tmp_path):
    """A MERGE whose target files cannot be read must fail, not treat the
    target as empty: on a COW table, a bucketed table and an additive
    rollup, a corrupt touched file raises, ``_latest`` stays put and no
    new version is committed (silent "empty target" fallback used to
    commit a version holding only the update rows)."""
    import glob
    import os

    import pytest

    from ucr_bigdata_snowfallproject_spark import table as T

    base = spark.createDataFrame(
        [(k, f"l{k}", 1) for k in range(100)], "doc_id long, lang string, n long"
    )
    ups = spark.createDataFrame([(5, "xx", 1)], "doc_id long, lang string, n long")
    (b5,) = _bucket_of(spark, T, [5], 4).values()

    def corrupt(pattern):
        files = glob.glob(pattern)
        assert files, pattern
        for f in files:
            with open(f, "r+b") as fh:
                fh.truncate(16)
            crc = os.path.join(os.path.dirname(f), f".{os.path.basename(f)}.crc")
            if os.path.exists(crc):
                os.remove(crc)

    cases = {
        "cow": lambda root: T.merge_upsert(spark, root, ups, "doc_id"),
        "bucketed": lambda root: T.merge_upsert(spark, root, ups, "doc_id"),
        "additive": lambda root: T.merge_additive_agg(
            spark, root, ups.select("doc_id", "n"), "doc_id", ["n"]
        ),
    }
    for layout, merge in cases.items():
        root = str(tmp_path / layout)
        if layout == "cow":
            T.create_snapshot(base, root)
            corrupt(os.path.join(root, "v=0", "*.parquet"))
        else:
            T.create_partitioned_snapshot(base, root, "doc_id", n_buckets=4)
            corrupt(os.path.join(root, "v=0", f"__pbucket={b5}", "*.parquet"))
        with pytest.raises(Exception):
            merge(root)
        assert T.latest_version(root) == 0, layout
        assert T._self_files(root, 1) == [], layout


def test_link_forward_never_overwrites(tmp_path, monkeypatch):
    """The carry-forward helper copies only where the filesystem refuses
    links (cross-device, unsupported, link-count limit); any other link
    error — a name collision above all — raises and leaves the existing
    destination's bytes unchanged."""
    import errno
    import os

    import pytest

    from ucr_bigdata_snowfallproject_spark import table as T

    root = tmp_path / "t"
    (root / "v=0" / "__pbucket=1").mkdir(parents=True)
    (root / "v=1" / "__pbucket=1").mkdir(parents=True)
    (root / "v=0" / "__pbucket=1" / "part-0.parquet").write_bytes(b"old data")
    (root / "v=0" / "__pbucket=1" / ".part-0.parquet.crc").write_bytes(b"crc")
    dst = root / "v=1" / "__pbucket=1" / "part-0.parquet"
    dst.write_bytes(b"fresh delta")
    rels = ["v=0/__pbucket=1/part-0.parquet"]

    def refuse(code):
        def link(src, dst):
            raise OSError(code, os.strerror(code), src, None, dst)
        return link

    monkeypatch.setattr(os, "link", refuse(errno.EEXIST))
    with pytest.raises(FileExistsError):
        T._link_forward(str(root), rels, 1)
    assert dst.read_bytes() == b"fresh delta"

    monkeypatch.setattr(os, "link", refuse(errno.EXDEV))
    T._link_forward(str(root), rels, 2)
    copied = root / "v=2" / "__pbucket=1"
    assert (copied / "part-0.parquet").read_bytes() == b"old data"
    assert (copied / ".part-0.parquet.crc").read_bytes() == b"crc"
    assert os.stat(copied / "part-0.parquet").st_nlink == 1


def test_xml_roundtrip(spark, tmp_path):
    """XML source/sink (built-in since Spark 4): orders round-trip through
    XML with values intact; an explicit schema skips inference."""
    from ucr_bigdata_snowfallproject_spark.io import read_xml, write_xml

    out = str(tmp_path / "orders_xml")
    o = load_table(spark, SF_SMOKE, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    ).limit(200)
    write_xml(o, out, row_tag="order", root_tag="orders")
    back = read_xml(spark, out, row_tag="order", schema=o.schema)
    a = {(r.o_orderkey, r.o_orderstatus, float(r.o_totalprice)) for r in o.collect()}
    b = {(r.o_orderkey, r.o_orderstatus, float(r.o_totalprice)) for r in back.collect()}
    assert a == b


def test_merge_schema_evolution(spark, tmp_path):
    """evolve_schema=True: an updates frame carrying a NEW column grows
    the table additively — existing rows read NULL for it (including
    rows in untouched hard-linked buckets, via mergeSchema), inserted/
    updated rows carry values, old versions time-travel unevolved."""
    from ucr_bigdata_snowfallproject_spark import table as T

    base = load_table(spark, SF_SMOKE, "documents").select(
        "doc_id", "lang"
    ).filter(F.col("doc_id") < 100)
    for layout, root in (("cow", str(tmp_path / "cow")),
                         ("bucketed", str(tmp_path / "bucketed"))):
        if layout == "cow":
            T.create_snapshot(base, root)
        else:
            T.create_partitioned_snapshot(base, root, "doc_id", n_buckets=8)
        ups = spark.createDataFrame(
            [(1, "xx", 0.9), (99990, "en", 0.5)],
            "doc_id long, lang string, quality double",
        )
        T.merge_upsert(spark, root, ups, "doc_id", evolve_schema=True)
        cur = T.read_snapshot(spark, root)
        assert "quality" in cur.columns, layout
        got = {r.doc_id: (r.lang, r.quality) for r in cur.collect()}
        assert got[1] == ("xx", 0.9) and got[99990] == ("en", 0.5), layout
        # untouched rows: NULL for the new column
        others = [v for k, v in got.items() if k not in (1, 99990)]
        assert others and all(q is None for _l, q in others), layout
        # old version unevolved
        assert "quality" not in T.read_snapshot(spark, root, version=0).columns
        # without the flag, unknown updates columns are ignored
        ups2 = spark.createDataFrame(
            [(2, "yy", 1.0, "junk")],
            "doc_id long, lang string, quality double, extra string",
        )
        T.merge_upsert(spark, root, ups2, "doc_id")
        assert "extra" not in T.read_snapshot(spark, root).columns, layout


def test_merge_sketch_combine_batching_invariant(spark, tmp_path):
    """merge_additive_agg with an HLL-union combine: the incrementally
    maintained sketch estimate is BATCHING-INVARIANT — a 4-way replay
    equals a 2-way in-query union over the same rows (union takes the
    element-wise register max, so any grouping yields the same final
    register state), and tracks true distinct counts; counts and
    sketches co-maintain in one table. NOTE (round 16): the invariant is
    merged == merged-under-any-batching, NOT merged == one-shot — a
    never-merged sketch estimates via DataSketches' order-dependent HIP
    estimator while merged sketches use the composite estimator, so
    one-shot equality holds only in small-cardinality sparse mode (it
    broke at sf0.1 when incremental_hll_distinct_replay_bounded planted
    it in-query). At this fixture's SF the sketches are sparse, so
    one-shot ALSO matches — asserted as a sparse-mode fact, not the
    contract."""
    from ucr_bigdata_snowfallproject_spark import table as T

    e = load_table(spark, SF_SMOKE, "events").select(
        "event_id", "event_type", "user_id"
    )
    rebatched = {
        r.event_type: r.n
        for r in e.groupBy("event_type").agg(
            F.hll_sketch_estimate(
                F.hll_union(
                    F.hll_sketch_agg(
                        F.when(F.col("event_id") % 2 == 0, F.col("user_id"))
                    ),
                    F.hll_sketch_agg(
                        F.when(F.col("event_id") % 2 == 1, F.col("user_id"))
                    ),
                )
            ).alias("n")
        ).collect()
    }
    oneshot = {
        r.event_type: r.n
        for r in e.groupBy("event_type").agg(
            F.hll_sketch_estimate(F.hll_sketch_agg("user_id")).alias("n")
        ).collect()
    }
    truth = {
        r.event_type: r.n
        for r in e.groupBy("event_type").agg(
            F.countDistinct("user_id").alias("n")
        ).collect()
    }

    def delta(b):
        return b.groupBy("event_type").agg(
            F.count(F.lit(1)).alias("n_events"),
            F.hll_sketch_agg("user_id").alias("users_hll"),
        )

    comb = {
        "users_hll": lambda c, d: F.when(c.isNull(), d).otherwise(F.hll_union(c, d))
    }
    root = str(tmp_path / "hll")
    T.create_partitioned_snapshot(
        delta(e.filter(F.col("event_id") % 4 == 0)), root, "event_type", n_buckets=4
    )
    for i in (1, 2, 3):
        T.merge_additive_agg(
            spark, root, delta(e.filter(F.col("event_id") % 4 == i)),
            "event_type", ["n_events", "users_hll"], combine=comb,
        )
    cur = T.read_snapshot(spark, root).select(
        "event_type", "n_events",
        F.hll_sketch_estimate("users_hll").alias("n"),
    )
    got = {r.event_type: (r.n_events, r.n) for r in cur.collect()}
    n_total = e.count()
    assert sum(v[0] for v in got.values()) == n_total  # counts still add
    for t, (_n, est) in got.items():
        assert est == rebatched[t], t                   # batching-invariant
        assert est == oneshot[t], t  # sparse-mode-only fact at this SF
        assert abs(est - truth[t]) <= max(2, 0.1 * truth[t]), t


def test_jsonl_roundtrip_sharded(spark, tmp_path):
    """JSONL sink/source round-trip through a deterministic shard layout:
    values and shard sizes survive; explicit schema read matches."""
    from ucr_bigdata_snowfallproject_spark.io import load_table, read_jsonl, write_jsonl
    from ucr_bigdata_snowfallproject_spark.operators.curation import shard_assignments

    d = load_table(spark, SF_SMOKE, "documents").select("doc_id", "lang", "n_chars")
    sharded = shard_assignments(d, "doc_id", n_shards=4)
    out = str(tmp_path / "shards")
    write_jsonl(sharded.repartition(4, "shard"), out, compression="gzip")
    back = read_jsonl(
        spark, out, schema="doc_id long, lang string, n_chars long, shard int, pos int"
    )
    assert back.count() == d.count()
    a = {r.doc_id: (r.lang, r.n_chars, r.shard, r.pos) for r in sharded.collect()}
    b = {r.doc_id: (r.lang, r.n_chars, r.shard, r.pos) for r in back.collect()}
    assert a == b


def test_read_changes_with_schema_evolution(spark, tmp_path):
    """CDF across an evolve_schema merge: the new column reads as NULL on
    the old side, NULL→value transitions classify as updates, and
    unchanged keys emit nothing."""
    from ucr_bigdata_snowfallproject_spark import table as t

    root = str(tmp_path / "tbl")
    base = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "k long, v string"
    )
    t.create_partitioned_snapshot(base, root, "k", n_buckets=2)
    upd = spark.createDataFrame(
        [(2, "b", 9), (4, "d", 7)], "k long, v string, extra long"
    )
    t.merge_upsert(spark, root, upd, "k", evolve_schema=True)
    got = {
        r.k: (r.change_type, r.v, r.extra)
        for r in t.read_changes(spark, root, "k", 0, 1).collect()
    }
    # k=1,3 unchanged (v same, extra NULL on both sides) → absent;
    # k=2 NULL→9 on extra → update; k=4 new → insert
    assert got == {2: ("update", "b", 9), 4: ("insert", "d", 7)}


def test_tar_shard_sink_roundtrip_and_determinism(spark, tmp_path):
    """write_tar_shards → read_tar_members round-trip: every member's
    payload (incl. multi-line) reassembles to the original text; writing
    the same frame twice produces byte-identical archives (zeroed mtimes
    + name-sorted members + deterministic md5 routing)."""
    import hashlib
    import os

    from pyspark.sql import functions as F

    from ucr_bigdata_snowfallproject_spark.sources.tar import (
        read_tar_members, write_tar_shards,
    )

    docs = [
        (1, "single line"),
        (2, "first line\nsecond line\nthird"),
        (3, "unicode éè text"),
        (4, ""),
        (5, "tab\there"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string").select(
        F.concat(F.col("doc_id").cast("string"), F.lit(".txt")).alias("name"),
        F.encode(F.col("text"), "UTF-8").alias("payload"),
        "text",
    )
    out1, out2 = str(tmp_path / "a"), str(tmp_path / "b")
    m1 = write_tar_shards(df, out1, "name", "payload", n_shards=3).collect()
    m2 = write_tar_shards(df, out2, "name", "payload", n_shards=3).collect()
    assert sum(r.n_members for r in m1) == len(docs)
    assert {(r.shard, r.n_members, r.n_bytes) for r in m1} == {
        (r.shard, r.n_members, r.n_bytes) for r in m2
    }

    def digest(d):
        return {
            f: hashlib.md5(open(os.path.join(d, f), "rb").read()).hexdigest()
            for f in sorted(os.listdir(d))
        }

    assert digest(out1) == digest(out2)

    back = read_tar_members(spark, out1, glob="*.tar")
    got = {
        r.member: r.lines
        for r in back.groupBy("member")
        .agg(F.collect_list("value").alias("lines"))
        .collect()
    }
    for doc_id, text in docs:
        name = f"{doc_id}.txt"
        assert "\n".join(got.get(name, [])) == text, name


def test_read_fixed_width(spark, tmp_path):
    """Fixed-width source: 1-based colspec slicing, trim, typed casts,
    empty slice -> NULL."""
    from ucr_bigdata_snowfallproject_spark.io import read_fixed_width

    raw = "\n".join(
        [
            "001ALPHA     42.5",
            "002BETA          ",
            "003          -1.0",
        ]
    )
    p = tmp_path / "fw.txt"
    p.write_text(raw)
    df = read_fixed_width(
        spark,
        str(p),
        [("id", 1, 3, "int"), ("name", 4, 10, "string"), ("val", 14, 4, "double")],
    )
    got = {r.id: (r.name, r.val) for r in df.collect()}
    assert got == {1: ("ALPHA", 42.5), 2: ("BETA", None), 3: (None, -1.0)}


def _bucket_of(spark, T, keys, n_buckets):
    """key → bucket id under the table layer's hash assignment."""
    df = spark.createDataFrame([(k,) for k in keys], "k long")
    return {
        r.k: r.b
        for r in df.select("k", T._bucket_expr("k", n_buckets).alias("b")).collect()
    }


def test_bucketed_merge_keeps_evolved_column_after_plain_merge(spark, tmp_path):
    """A plain MERGE must keep a column an evolve_schema MERGE added: into
    the evolved bucket, the touched-bucket read
    unions every footer instead of sampling a pre-evolution one (which
    dropped column ``x`` and its value); into a bucket whose files
    predate ``x``, the updates' ``x`` is kept because the table has it."""
    from ucr_bigdata_snowfallproject_spark import table as T

    n_buckets = 4
    base = spark.createDataFrame(
        [(k, f"l{k}") for k in range(40)], "doc_id long, lang string"
    )
    bucket = _bucket_of(spark, T, range(40), n_buckets)
    k1, k2 = [k for k, b in bucket.items() if b == 3][:2]
    k3 = next(k for k, b in bucket.items() if b == 0)
    schema = "doc_id long, lang string, x int"
    root = str(tmp_path / "t")
    T.create_partitioned_snapshot(base, root, "doc_id", n_buckets=n_buckets)
    T.merge_upsert(
        spark, root, spark.createDataFrame([(k1, "ev", 7)], schema),
        "doc_id", evolve_schema=True,
    )
    # updates carry the full (evolved) schema, as the MERGE contract asks
    T.merge_upsert(
        spark, root, spark.createDataFrame([(k2, "plain", None)], schema),
        "doc_id",
    )
    T.merge_upsert(
        spark, root, spark.createDataFrame([(k3, "other", 5)], schema),
        "doc_id",
    )
    cur = T.read_snapshot(spark, root)
    assert cur.columns == ["doc_id", "lang", "x"]
    got = {r.doc_id: (r.lang, r.x) for r in cur.collect()}
    assert got[k1] == ("ev", 7) and got[k2] == ("plain", None)
    assert got[k3] == ("other", 5)
    assert len(got) == 40


def test_merge_keeps_table_column_order(spark, tmp_path):
    """MERGE keeps the table's column order in every layout — the key
    join used to move the key column to the front of the rewritten
    files."""
    from ucr_bigdata_snowfallproject_spark import table as T

    base = spark.createDataFrame(
        [(f"l{k}", k, f"s{k}") for k in range(30)],
        "lang string, doc_id long, source string",
    )
    updates = spark.createDataFrame(
        [("xx", 1, "s", False), ("en", 99990, "new", False),
         (None, 2, None, True)],
        "lang string, doc_id long, source string, del boolean",
    )
    for layout in ("cow", "bucketed"):
        root = str(tmp_path / layout)
        if layout == "cow":
            T.create_snapshot(base, root)
        else:
            T.create_partitioned_snapshot(base, root, "doc_id", n_buckets=4)
        before = T.read_snapshot(spark, root).columns
        assert before == ["lang", "doc_id", "source"], layout
        T.merge_upsert(spark, root, updates, "doc_id", delete_col="del")
        cur = T.read_snapshot(spark, root)
        assert cur.columns == before, layout
        got = {r.doc_id: (r.lang, r.source) for r in cur.collect()}
        assert got[1] == ("xx", "s") and got[99990] == ("en", "new"), layout
        assert 2 not in got and len(got) == 30, layout


def test_snapshot_read_follows_sorted_file_order(spark, tmp_path):
    """A snapshot read lays files into partitions in sorted path order,
    so a seeded split over it is the same on every run. Spark packs
    files by size; with every bucket file the same size, the order among
    them is the input order — which used to be directory listing (and
    hash) order."""
    import glob
    import os
    import shutil

    from ucr_bigdata_snowfallproject_spark import table as T

    base = spark.createDataFrame(
        [(k, f"l{k}") for k in range(64)], "doc_id long, lang string"
    )
    root = str(tmp_path / "t")
    T.create_partitioned_snapshot(base, root, "doc_id", n_buckets=8)
    files = sorted(glob.glob(os.path.join(root, "v=0", "__pbucket=*", "*.parquet")))
    assert len(files) == 8
    # equal sizes: every bucket holds a byte copy of the first file
    for f in files[1:]:
        shutil.copyfile(files[0], f)
    for crc in glob.glob(os.path.join(root, "v=0", "__pbucket=*", ".*.crc")):
        os.remove(crc)
    rows = (
        T.read_snapshot(spark, root)
        .select(
            F.input_file_name().alias("f"),
            F.monotonically_increasing_id().alias("pos"),
        )
        .groupBy("f").agg(F.min("pos").alias("first"))
        .collect()
    )
    read_order = [r.f for r in sorted(rows, key=lambda r: r.first)]
    assert [p.split(":", 1)[1].lstrip("/") for p in read_order] == [
        f.lstrip("/") for f in files
    ]


def test_snapshot_read_of_many_files_runs_no_listing_job(spark, tmp_path):
    """A snapshot read of more files than Spark's parallel-discovery
    threshold (32) runs only the footer-merge job: the explicit file list
    is listed on the driver, not by a one-task-per-file listing job (a
    64-bucket directory read used to launch one), and the session's
    threshold is left as it was."""
    import glob
    import os

    from ucr_bigdata_snowfallproject_spark import table as T

    jvm_sc = spark.sparkContext._jsc.sc()
    key = "spark.sql.sources.parallelPartitionDiscovery.threshold"
    before = spark.conf.get(key)
    df = spark.range(400).selectExpr("id as doc_id", "cast(id as string) as lang")
    cow, bucketed = str(tmp_path / "cow"), str(tmp_path / "bucketed")
    T.create_snapshot(df, cow, n_files=40)
    T.create_partitioned_snapshot(df, bucketed, "doc_id", n_buckets=40)
    for root, pattern in ((cow, "*.parquet"), (bucketed, "__pbucket=*/*.parquet")):
        assert len(glob.glob(os.path.join(root, "v=0", pattern))) == 40, root
        jobs = int(jvm_sc.dagScheduler().nextJobId())
        snap = T.read_snapshot(spark, root)
        assert int(jvm_sc.dagScheduler().nextJobId()) - jobs == 1, root
        assert snap.count() == 400, root
    assert spark.conf.get(key) == before


def _fragment_bucket(spark, T, root, version, bucket, extra):
    """Make ``bucket`` of ``v=version`` hold a second data file carrying
    the rows of ``extra`` (whose keys hash to that bucket)."""
    import glob
    import os
    import shutil

    tmp = root + "_extra"
    extra.coalesce(1).write.parquet(tmp)
    (part,) = glob.glob(os.path.join(tmp, "part-*.parquet"))
    shutil.move(part, os.path.join(root, f"v={version}", f"__pbucket={bucket}",
                                   "part-extra.parquet"))
    shutil.rmtree(tmp)


def test_compact_links_already_compact_buckets(spark, tmp_path):
    """Compacting a bucketed table whose buckets are one file each
    writes no data: every file of the new version is the previous
    version's inode, no Spark job runs, every row survives. A bucket made
    to hold two files is the only one rewritten, down to one file."""
    import os

    from ucr_bigdata_snowfallproject_spark import table as T

    n_buckets = 4
    base = spark.createDataFrame(
        [(k, f"l{k}") for k in range(40)], "doc_id long, lang string"
    )
    buckets = _bucket_of(spark, T, range(40, 80), n_buckets)
    extra = spark.createDataFrame(
        [(k, f"e{k}") for k, b in buckets.items() if b == 2],
        "doc_id long, lang string",
    )
    jvm_sc = spark.sparkContext._jsc.sc()

    def next_job_id():
        return int(jvm_sc.dagScheduler().nextJobId())

    def rows(root):
        return {(r.doc_id, r.lang) for r in T.read_snapshot(spark, root).collect()}

    root = str(tmp_path / "t")
    T.create_partitioned_snapshot(base, root, "doc_id", n_buckets=n_buckets)
    v1 = T.merge_upsert(
        spark, root,
        spark.createDataFrame([(3, "xx")], "doc_id long, lang string"),
        "doc_id",
    )
    want = rows(root)
    prev = T._bucket_files(root, v1)
    assert all(len(rels) == 1 for rels in prev.values())

    # already compact: pure file operations
    jobs = next_job_id()
    v2 = T.compact_snapshot(spark, root)
    assert next_job_id() == jobs
    assert T.latest_version(root) == v2 == v1 + 1
    new = T._bucket_files(root, v2)
    assert new.keys() == prev.keys()
    for d, rels in new.items():
        assert len(rels) == 1, d
        assert os.path.samefile(
            os.path.join(root, rels[0]), os.path.join(root, prev[d][0])
        ), d
    assert rows(root) == want

    # one fragmented bucket: only it is rewritten, to one file
    _fragment_bucket(spark, T, root, v2, 2, extra)
    frag = T._bucket_files(root, v2)
    assert len(frag["__pbucket=2"]) == 2
    want |= {(r.doc_id, r.lang) for r in extra.collect()}
    v3 = T.compact_snapshot(spark, root)
    after = T._bucket_files(root, v3)
    assert after.keys() == frag.keys()
    for d, rels in after.items():
        assert len(rels) == 1 and rels[0].startswith(f"v={v3}/"), d
        linked = os.path.samefile(
            os.path.join(root, rels[0]), os.path.join(root, frag[d][0])
        )
        assert linked == (d != "__pbucket=2"), d
    assert rows(root) == want
