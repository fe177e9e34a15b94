"""Tests of the benchmark's pure-Python parts (no SparkSession):

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import hashlib
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import gen  # noqa: E402
import stats  # noqa: E402


def _span(parent, raw_wall, ovh=0.0, busy=0.0, layer="x", **incl):
    return {"layer": layer, "name": "f", "parent": parent, "raw_wall_s": raw_wall,
            "own_ovh_s": ovh, "rows_out": 0, "extra": {}, "incl": {"busy_s": busy, **incl}}


# ------------------------------------------------------------ self time ----

def test_self_time_subtracts_children_and_their_bookkeeping():
    spans = [
        _span(None, 10.0, ovh=0.5, busy=6.0, stages=5, layer="a"),
        _span(0, 4.0, ovh=1.0, busy=3.0, stages=3, layer="b"),  # child, 1 s of tracer bookkeeping
        _span(1, 1.0, ovh=0.25, busy=0.5, stages=1, layer="a"),  # grandchild
        _span(0, 2.0, ovh=0.0, busy=1.0, stages=1, layer="c"),  # second child
    ]
    stats.finish_spans(spans)
    # net wall drops the bookkeeping of every nested span
    assert spans[2]["wall_s"] == pytest.approx(1.0)
    assert spans[1]["wall_s"] == pytest.approx(4.0 - 0.25)
    assert spans[0]["wall_s"] == pytest.approx(10.0 - (1.0 + 0.25) - 0.0)
    # self = net wall minus the children's net wall
    assert spans[1]["self_s"] == pytest.approx(3.75 - 1.0)
    assert spans[0]["self_s"] == pytest.approx(8.75 - 3.75 - 2.0)
    assert spans[0]["self"]["stages"] == 5 - 3 - 1
    # driver time: wall not covered by an active stage, also as self
    assert spans[0]["incl"]["driver_s"] == pytest.approx(8.75 - 6.0)
    assert spans[0]["self"]["driver_s"] == pytest.approx((8.75 - 6.0) - (3.75 - 3.0) - (2.0 - 1.0))
    for s in spans:
        assert 0.0 <= s["self_s"] <= s["wall_s"]


def test_layer_rollup_counts_nested_same_layer_wall_once():
    spans = [_span(None, 5.0, layer="a"), _span(0, 2.0, layer="a"), _span(None, 1.0, layer="b")]
    stats.finish_spans(spans)
    roll = stats.layer_rollup(spans, ["a", "b", "idle"])
    assert roll["a"]["wall_s"] == pytest.approx(5.0)
    assert roll["a"]["self_s"] == pytest.approx(5.0)  # 3 s outer self + 2 s inner
    assert roll["a"]["calls"] == 2
    assert roll["idle"]["calls"] == 0 and roll["idle"]["wall_s"] == 0.0


def test_busy_seconds_merges_overlaps_and_clips():
    assert stats.busy_seconds([(0, 2), (1, 3), (5, 6)], 0.5, 5.5) == pytest.approx(2.5 + 0.5)
    assert stats.busy_seconds([], 0, 1) == 0.0


# ------------------------------------------------------ percentile rule ----

def test_tail_percentile_needs_ten_samples_beyond():
    assert stats.tail_percentile(list(range(19))) is None  # median has 9 beyond
    assert stats.tail_percentile(list(range(20)))[0] == 50.0
    assert stats.tail_percentile(list(range(40)))[0] == 75.0
    assert stats.tail_percentile(list(range(99)))[0] == 75.0  # p90 has 9 beyond
    p, v = stats.tail_percentile([float(x) for x in range(1, 101)])
    assert (p, v) == (90.0, 90.0)
    assert stats.tail_percentile(list(range(1000)))[0] == 99.0


def test_samples_beyond_matches_nearest_rank():
    for n in (1, 7, 20, 100, 101):
        for p in stats.TAIL_LADDER:
            values = list(range(n))
            cut = stats.percentile(values, p)
            assert stats.samples_beyond(n, p) == sum(1 for x in values if x > cut)


# --------------------------------------------------------- generators ----

def _digest(root: str) -> str:
    h = hashlib.sha256()
    for dp, dn, fn in os.walk(root):
        dn.sort()
        for f in sorted(fn):
            h.update(os.path.relpath(os.path.join(dp, f), root).encode())
            with open(os.path.join(dp, f), "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


@pytest.mark.parametrize("kind", sorted(gen.GENERATORS))
def test_generators_are_deterministic_per_seed(kind, tmp_path):
    a = gen.generate(kind, 7, str(tmp_path / "a"))
    b = gen.generate(kind, 7, str(tmp_path / "b"))
    c = gen.generate(kind, 8, str(tmp_path / "c"))
    assert _digest(str(tmp_path / "a")) == _digest(str(tmp_path / "b"))
    assert _digest(str(tmp_path / "a")) != _digest(str(tmp_path / "c"))
    sizes = {k: v for k, v in a.items() if isinstance(v, int)}
    assert sizes == {k: v for k, v in b.items() if isinstance(v, int)}


def test_corpus_plants_its_shares(tmp_path):
    import pyarrow.parquet as pq

    info = gen.generate("corpus", 3, str(tmp_path))
    docs = pq.read_table(info["documents"]).to_pydict()
    texts = docs["text"]
    assert len(texts) == gen.CORPUS_DOCS
    boiler = sum(any(b in t for b in gen._BOILERPLATE) for t in texts)
    assert abs(boiler / len(texts) - gen.CORPUS_BOILER_SHARE) < 0.08


# --------------------------------------------------- failure accounting ----

def test_fail_ratio_counts_a_planted_oracle_mismatch(tmp_path):
    import duckdb
    import pyarrow.parquet as pq

    import oracle

    inp = gen.generate("gsod", 5, str(tmp_path / "in"))
    exp = oracle.expect_gsod(inp)
    con = duckdb.connect()
    con.sql(f"""CREATE TABLE final AS
        WITH before AS (
          SELECT *, printf('%s-%05d-%04d-%02d', USAF, WBAN, YEAR, MONTH) AS station_month
          FROM ({oracle._gsod_sql(inp)}))
        SELECT * FROM before WHERE station_month NOT IN
          (SELECT station_month FROM read_parquet('{inp['revisions']}'))
        UNION ALL BY NAME
        SELECT * EXCLUDE (is_delete) FROM read_parquet('{inp['revisions']}') WHERE NOT is_delete""")
    root = tmp_path / "out" / "monthly"
    os.makedirs(root / "v=2")
    os.makedirs(tmp_path / "out" / "map")
    final = con.sql("SELECT * FROM final").arrow()
    pq.write_table(final, root / "v=2" / "part-0.parquet")
    pq.write_table(
        con.sql("SELECT LAT, LON, make_date(YEAR, MONTH, 1) AS month_start, PRCP, TEMP, LBL "
                "FROM final ORDER BY month_start, LAT, LON").arrow(),
        tmp_path / "out" / "map" / "part-0.parquet",
    )
    res = {"table_root": str(root), "live_version": 2, "map_path": str(tmp_path / "out" / "map"),
           "travel": exp["travel"], "rmse": 1.5}

    outcomes = stats.Outcomes()
    for _ in range(3):  # three correct runs
        outcomes.record(True)
        outcomes.add_mismatches(oracle.check_gsod(exp, res))
    assert outcomes.failed == 0 and outcomes.fail_ratio == 0.0

    planted = final.set_column(
        final.column_names.index("PRCP"), "PRCP",
        [[v + 1.0 if i == 0 else v for i, v in enumerate(final.column("PRCP").to_pylist())]],
    )
    pq.write_table(planted, root / "v=2" / "part-0.parquet")
    outcomes.record(True)
    found = oracle.check_gsod(exp, res)
    outcomes.add_mismatches(found)
    assert any("station-month table" in m for m in found)
    assert outcomes.attempted == 4 and outcomes.failed == 1
    assert outcomes.fail_ratio == pytest.approx(0.25)

    # a run whose model is not reproducible is a failure too
    pq.write_table(final, root / "v=2" / "part-0.parquet")
    outcomes.record(True)
    found = oracle.check_gsod(exp, {**res, "rmse": 2.5})
    outcomes.add_mismatches(found)
    assert found == ["gsod model: rmse 2.5 differs from first run 1.5"]
    assert outcomes.failed == 2
