"""Independent DuckDB recomputation of every workload's outputs.

Each ``expect_*`` builds the expected result once per input set (from the
generated files only, never from Spark output); each ``check_*`` compares
one run's committed outputs against it and returns a list of mismatch
descriptions (empty when the run is correct). Columns are compared by
name, never by position."""

from __future__ import annotations

import hashlib
import math
import os
import tarfile

import duckdb
import pyarrow.parquet as pq

MEASURES = ("TEMP", "DEWP", "WDSP", "MAX", "MIN", "PRCP")


def _canon(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return round(v, 4) + 0.0  # -0.0 and 0.0 compare equal anyway; keep repr stable
    return v


def _rows(table, cols) -> list[tuple]:
    data = table.select(list(cols)).to_pydict()
    return sorted(
        (tuple(_canon(data[c][i]) for c in cols) for i in range(table.num_rows)),
        key=repr,
    )


def _read_dir(path: str):
    files = sorted(
        os.path.join(dp, f)
        for dp, _dn, fn in os.walk(path)
        for f in fn
        if f.endswith(".parquet")
    )
    return pq.ParquetDataset(files, partitioning=None).read() if files else None


def _diff(name: str, got: list, want: list) -> list[str]:
    if got == want:
        return []
    extra = len(set(got) - set(want))
    missing = len(set(want) - set(got))
    return [f"{name}: {len(got)} rows vs {len(want)} expected ({extra} unexpected, {missing} missing)"]


# ----------------------------------------------------------- gsod ETL ----

def _gsod_sql(inp: dict) -> str:
    """The registry's ``_gsod_oracle_sql`` shape over the generated
    ground-truth parquet."""
    med = ", ".join(f"median({m}) AS {m}" for m in MEASURES)
    return rf"""
    WITH stations_scrub AS (
      SELECT USAF, CAST(WBAN AS INTEGER) AS WBAN, STATION_NAME, CTRY, STATE,
             CASE WHEN LAT IN (0.0, -999.0, -999.9) THEN NULL ELSE LAT END AS LAT,
             CASE WHEN LON IN (0.0, -999.0, -999.9) THEN NULL ELSE LON END AS LON,
             CASE WHEN ELEV_M IN (0.0, -999.0, -999.9) THEN NULL ELSE ELEV_M END AS ELEV_M,
             BEGIN, "END"
      FROM read_parquet('{inp["stations_parquet"]}')
    ), stations AS (
      SELECT USAF, WBAN, CTRY, LAT, LON, ELEV_M,
             concat_ws('<br>',
               concat_ws(', ', STATION_NAME, STATE, CTRY),
               CASE WHEN ELEV_M IS NOT NULL
                    THEN 'Elevation: ' || CAST(ELEV_M AS VARCHAR) || ' m' END) AS LBL
      FROM stations_scrub
      WHERE LAT IS NOT NULL AND LON IS NOT NULL
        AND CAST(regexp_extract("END", '^(\d{{4}})', 1) AS INTEGER) = {inp["max_year"]}
        AND CAST(regexp_extract(BEGIN, '^(\d{{4}})', 1) AS INTEGER) <= {inp["min_year"]}
    ), obs AS (
      SELECT o.USAF, CAST(o.WBAN AS INTEGER) AS WBAN,
             o.TEMP, o.DEWP, o.WDSP,
             CAST(regexp_replace(o.MAX, '\*$', '') AS DOUBLE) AS MAX,
             CAST(regexp_replace(o.MIN, '\*$', '') AS DOUBLE) AS MIN,
             CAST(substr(o.PRCP, 1, LEN(o.PRCP) - 1) AS DOUBLE) AS PRCP,
             CAST(year(strptime(o.YEARMODA, '%Y%m%d')) AS INTEGER) AS YEAR,
             CAST(month(strptime(o.YEARMODA, '%Y%m%d')) AS INTEGER) AS MONTH
      FROM read_parquet('{inp["obs_parquet"]}') o
      WHERE EXISTS (SELECT 1 FROM stations s
                    WHERE s.USAF = o.USAF AND s.WBAN = CAST(o.WBAN AS INTEGER))
    ), monthly AS (
      SELECT USAF, WBAN, YEAR, MONTH, {med}
      FROM obs GROUP BY USAF, WBAN, YEAR, MONTH
    )
    SELECT m.*, s.CTRY, s.LAT, s.LON, s.ELEV_M, s.LBL
    FROM monthly m JOIN stations s ON m.USAF = s.USAF AND m.WBAN = s.WBAN
    """


def expect_gsod(inp: dict) -> dict:
    """Monthly medians joined to stations, keyed by station-month, before
    and after the revision batch (deletes drop the key, every other batch
    row replaces or inserts it), and the map layer of the result."""
    con = duckdb.connect()
    con.sql(f"""CREATE TABLE before AS
        SELECT *, printf('%s-%05d-%04d-%02d', USAF, WBAN, YEAR, MONTH) AS station_month
        FROM ({_gsod_sql(inp)})""")
    travel = con.sql("SELECT count(*), round(sum(PRCP), 4) FROM before").fetchone()
    cols = sorted(c for c in con.sql("SELECT * FROM before LIMIT 0").columns)
    sel = ", ".join(cols)
    con.sql(f"CREATE TABLE b AS SELECT * FROM read_parquet('{inp['revisions']}')")
    con.sql(f"""CREATE TABLE final AS
        SELECT {sel} FROM before WHERE station_month NOT IN (SELECT station_month FROM b)
        UNION ALL SELECT {sel} FROM b WHERE NOT is_delete""")
    final = con.sql(f"SELECT {sel} FROM final").arrow()
    mp = con.sql(
        "SELECT LAT, LON, make_date(YEAR, MONTH, 1) AS month_start, PRCP, TEMP, LBL FROM final"
    ).arrow()
    con.close()
    return {
        "cols": cols,
        "final": _rows(final, cols),
        "travel": tuple(travel),
        "map_cols": sorted(mp.column_names),
        "map": _rows(mp, sorted(mp.column_names)),
        "rmse": None,
    }


def check_gsod(exp: dict, res: dict) -> list[str]:
    bad: list[str] = []
    live = _read_dir(os.path.join(res["table_root"], f"v={res['live_version']}"))
    if live is None or sorted(live.column_names) != exp["cols"]:
        return [f"gsod: table columns {None if live is None else sorted(live.column_names)}"]
    bad += _diff("gsod station-month table", _rows(live, exp["cols"]), exp["final"])
    if tuple(res["travel"]) != exp["travel"]:
        bad.append(f"gsod time-travel read: {tuple(res['travel'])} vs {exp['travel']}")
    mp = _read_dir(res["map_path"])
    if mp is None or sorted(mp.column_names) != exp["map_cols"]:
        return bad + ["gsod: map layer columns"]
    bad += _diff("gsod map layer", _rows(mp, exp["map_cols"]), exp["map"])
    d = mp.select(["month_start", "LAT", "LON"]).to_pydict()
    order = list(zip(d["month_start"], d["LAT"], d["LON"]))
    if order != sorted(order):
        bad.append("gsod map layer: not ordered by (month_start, LAT, LON)")
    rmse = res["rmse"]
    if not math.isfinite(rmse):
        bad.append(f"gsod model: rmse {rmse}")
    elif exp["rmse"] is None:
        exp["rmse"] = rmse
    elif rmse != exp["rmse"]:
        bad.append(f"gsod model: rmse {rmse!r} differs from first run {exp['rmse']!r}")
    return bad


# ---------------------------------------------------- corpus curation ----

def _components(pairs: list[tuple[int, int]]) -> dict[int, int]:
    """Union-find: node -> smallest id of its component."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


def expect_corpus(inp: dict, min_words: int, budget: int, n_shards: int) -> dict:
    from ucr_bigdata_snowfallproject_spark.operators.text import GOPHER_REQUIRED_WORDS
    from ucr_bigdata_snowfallproject_spark.queries.extensions import _minhash_md5_sql

    con = duckdb.connect()
    con.sql(f"CREATE VIEW raw AS SELECT * FROM read_parquet('{inp['documents']}')")
    req = " + ".join(f"CAST(list_contains(toks,'{w}') AS BIGINT)" for w in GOPHER_REQUIRED_WORDS)
    # Gopher rule battery (registry curation_gopher_rules shape)
    con.sql(rf"""
    CREATE TABLE documents AS
    WITH t AS (
      SELECT doc_id, source, text,
             list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> x <> '') AS toks,
             string_split(text, chr(10)) AS lines
      FROM raw
    ), m AS (
      SELECT doc_id, source, text,
             len(toks) AS n_words,
             length(regexp_replace(text, '\s+', '', 'g')) AS total_chars,
             length(text) - length(replace(text, '#', '')) AS hash_n,
             CAST((length(text) - length(replace(text, '...', ''))) / 3 AS BIGINT) AS ell_n,
             len(lines) AS n_lines,
             len(list_filter(lines, l -> substr(trim(l),1,1) IN ('-','*','•'))) AS bullet_n,
             len(list_filter(lines, l -> trim(l) LIKE '%...' OR trim(l) LIKE '%…')) AS ell_lines,
             len(list_filter(toks, x -> regexp_matches(x, '[a-z]'))) AS alpha_n,
             {req} AS req_n
      FROM t
    )
    SELECT doc_id, source, text FROM m
    WHERE n_words >= {min_words} AND n_words <= 100000
      AND 3*n_words <= total_chars AND total_chars <= 10*n_words
      AND 10*(hash_n + ell_n) <= n_words
      AND 10*bullet_n <= 9*n_lines
      AND 10*ell_lines <= 3*n_lines
      AND 5*alpha_n >= 4*n_words
      AND req_n >= 2
    """)
    # md5 MinHash verified pairs (registry oracle), components in Python
    pairs = con.sql(
        _minhash_md5_sql("SELECT id_a, id_b FROM est WHERE jaccard_est >= 0.8")
    ).fetchall()
    comp = _components(pairs)
    losers = [(x,) for x, c in comp.items() if x != c]
    con.sql("CREATE TABLE losers (doc_id BIGINT)")
    if losers:
        con.executemany("INSERT INTO losers VALUES (?)", losers)
    # budget mix + proportional interleave (registry corpus-mix shape)
    rows = con.sql(rf"""
    WITH survivors AS (
      SELECT * FROM documents WHERE doc_id NOT IN (SELECT doc_id FROM losers)
    ), t AS (
      SELECT doc_id, source, text,
             len(regexp_split_to_array(lower(trim(text)), '\s+')) AS n_tokens,
             ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '#mix'), 1, 8))::BIGINT AS priority
      FROM survivors
    ), c AS (
      SELECT *, SUM(n_tokens) OVER (
               PARTITION BY source ORDER BY priority, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_tokens
      FROM t
    ), kept AS (
      SELECT doc_id, source, text FROM c WHERE cum_tokens <= {budget}
    ), ranked AS (
      SELECT doc_id, source, text,
             ROW_NUMBER() OVER (
               PARTITION BY source
               ORDER BY ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '#il'), 1, 8))::BIGINT,
                        doc_id) AS i,
             COUNT(*) OVER (PARTITION BY source) AS tot
      FROM kept
    )
    SELECT printf('%06d-%d.txt',
                  ROW_NUMBER() OVER (ORDER BY (i - 0.5) / tot, source NULLS FIRST, doc_id),
                  doc_id) AS name,
           md5(text) AS payload_md5
    FROM ranked
    """).fetchall()
    con.close()
    members = {}
    for name, digest in rows:
        shard = int(hashlib.md5(f"{name}#tar".encode()).hexdigest()[:8], 16) % n_shards
        members[name] = (shard, digest)
    return {"members": members, "pairs": len(pairs), "survivors_lost": len(losers)}


def check_corpus(exp: dict, res: dict) -> list[str]:
    got = {}
    for fname in sorted(os.listdir(res["shard_dir"])):
        if not fname.endswith(".tar"):
            continue
        shard = int(fname.split("-")[1].split(".")[0])
        with tarfile.open(os.path.join(res["shard_dir"], fname)) as tf:
            for m in tf.getmembers():
                payload = tf.extractfile(m).read()
                got[m.name] = (shard, hashlib.md5(payload).hexdigest())
    want = exp["members"]
    if got == want:
        n_manifest = sum(r["n_members"] for r in res["manifest"])
        return [] if n_manifest == len(want) else [f"corpus manifest: {n_manifest} members"]
    missing = len(set(want) - set(got))
    extra = len(set(got) - set(want))
    wrong = sum(1 for k in set(got) & set(want) if got[k] != want[k])
    return [f"corpus shards: {len(got)} members vs {len(want)} expected "
            f"({missing} missing, {extra} unexpected, {wrong} with wrong shard or payload)"]
