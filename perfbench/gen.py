"""Seeded input generators for the benchmark workloads.

Every generator takes the workload seed and an output directory and writes
plain files only; the program under test receives nothing but these files.
The same seed gives byte-identical files (fixed gzip/tar mtimes, sorted
members, deterministic parquet writer), a different seed different bytes.

Shapes:

- ``gsod``: per-year ``gsod_<year>.tar`` archives of ``<usaf>-<wban>-<year>.op.gz``
  members (whitespace GSOD rows with ``*``-flagged MAX/MIN and a trailing
  PRCP quality letter), ``isd-history.csv`` with sentinel-coordinate and
  out-of-window stations, and ground-truth parquet of exactly what was
  written (``stations.parquet``, ``observations.parquet``). The tree also
  carries ``revisions.parquet``, one CDC batch against the station-month
  table the pipeline produces: revised medians (updates), provisional
  months of the next year (inserts) and retracted months (deletes), skewed
  toward the most recent year.
- ``corpus``: ``documents.parquet`` (doc_id, text, lang, source, n_chars)
  with fixed planted shares of near-duplicate clusters, boilerplate lines
  and low-quality documents.
"""

from __future__ import annotations

import gzip
import io
import os
import random
import tarfile

import pyarrow as pa
import pyarrow.parquet as pq

# ---------------------------------------------------------------- GSOD ----

GSOD_FIRST_YEAR = 2015
GSOD_YEARS = 8
GSOD_STATIONS = 100

_GSOD_HEADER = (
    "STN--- WBAN   YEARMODA    TEMP       DEWP      SLP        STP       "
    "VISIB      WDSP     MXSPD   GUST    MAX     MIN   PRCP   SNDP   FRSHTT"
)


def _write_parquet(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, compression="snappy")


def _tar_add(tar: tarfile.TarFile, name: str, payload: bytes) -> None:
    info = tarfile.TarInfo(name=name)
    info.size = len(payload)
    info.mtime = 0
    info.mode = 0o644
    tar.addfile(info, io.BytesIO(payload))


def gsod_years() -> list[int]:
    return list(range(GSOD_FIRST_YEAR, GSOD_FIRST_YEAR + GSOD_YEARS))


def _gsod_stations(rng: random.Random, years: list[int]) -> list[dict]:
    first, last = years[0], years[-1]
    rows = []
    for i in range(GSOD_STATIONS):
        # 1 in 12 stations lack usable coordinates (NULL or sentinel), 1 in
        # 12 fall outside the query window: both are dropped by cleaning
        kind = i % 12
        if kind == 0:
            lat = lon = None
        elif kind == 1:
            lat, lon = 0.0, -999.0
        else:
            lat = round(rng.uniform(-60, 70), 3)
            lon = round(rng.uniform(-180, 180), 3)
        if kind == 2:
            begin, end = f"{first + 1}0105", f"{last}1231"
        elif kind == 3:
            begin, end = "19900101", f"{last - 1}1231"
        else:
            begin, end = f"19{rng.randint(50, 99)}0101", f"{last}1231"
        rows.append(
            {
                "USAF": f"{700000 + i}",
                "WBAN": 20000 + i,
                "STATION_NAME": f"STATION {i}" if i % 5 else None,
                "CTRY": rng.choice(["US", "CA", "MX", "FR", "NO"]),
                "STATE": None if i % 3 == 0 else rng.choice(["CA", "WA", "NY", "TX"]),
                "ICAO": f"K{i:03d}",
                "LAT": lat,
                "LON": lon,
                "ELEV_M": None if i % 7 == 0 else round(rng.uniform(-10, 3000), 1),
                "BEGIN": begin,
                "END": end,
            }
        )
    return rows


def _gsod_line(usaf: str, wban: int, ymd: str, temp: float, dewp: float,
               wdsp: float, mx: str, mn: str, prcp: str) -> str:
    # filler count/auxiliary fields put the kept fields at the reference's
    # positional indices [0,1,2,3,5,13,17,18,19]
    return (
        f"{usaf} {wban} {ymd} {temp} 24 {dewp} 24 9999.9 24 999.9 24 99.9 24 "
        f"{wdsp} 24 12.3 999.9 {mx} {mn} {prcp}"
    )


#: revision batch shape: shares of the station-month table updated and
#: deleted, and how many provisional months of the next year are inserted
REVISION_UPDATE_SHARE = 0.06
REVISION_DELETE_SHARE = 0.02
REVISION_NEW_MONTHS = 2
#: share of updates and deletes drawn from the most recent year
REVISION_RECENT_SKEW = 0.7
_SENTINELS = (0.0, -999.0, -999.9)

REVISION_SCHEMA = pa.schema(
    [("USAF", pa.string()), ("WBAN", pa.int32()), ("YEAR", pa.int32()), ("MONTH", pa.int32()),
     ("TEMP", pa.float64()), ("DEWP", pa.float64()), ("WDSP", pa.float64()),
     ("MAX", pa.float64()), ("MIN", pa.float64()), ("PRCP", pa.float64()),
     ("CTRY", pa.string()), ("LAT", pa.float64()), ("LON", pa.float64()),
     ("ELEV_M", pa.float64()), ("LBL", pa.string()), ("station_month", pa.string()),
     ("is_delete", pa.bool_())]
)


def station_month_key(usaf: str, wban: int, year: int, month: int) -> str:
    return f"{usaf}-{wban:05d}-{year:04d}-{month:02d}"


def _clean_station(s: dict, years: list[int]) -> dict | None:
    """The station cleaning rules (sentinel scrub, coordinates required,
    active across the window) and its label; ``None`` when dropped."""
    lat, lon, elev = (None if v in _SENTINELS else v for v in (s["LAT"], s["LON"], s["ELEV_M"]))
    if lat is None or lon is None:
        return None
    if int(s["END"][:4]) != years[-1] or int(s["BEGIN"][:4]) > years[0]:
        return None
    place = ", ".join(v for v in (s["STATION_NAME"], s["STATE"], s["CTRY"]) if v is not None)
    lbl = place if elev is None else f"{place}<br>Elevation: {elev} m"
    return {"CTRY": s["CTRY"], "LAT": lat, "LON": lon, "ELEV_M": elev, "LBL": lbl}


def _revisions(rng: random.Random, stations: list[dict], years: list[int]) -> list[dict]:
    kept = [(s, c) for s in stations if (c := _clean_station(s, years)) is not None]
    keys = [(s, c, y, m) for s, c in kept for y in years for m in range(1, 13)]
    recent = [k for k in keys if k[2] == years[-1]]

    def pick(n: int, taken: set) -> list:
        out = []
        while len(out) < n:
            pool = recent if rng.random() < REVISION_RECENT_SKEW else keys
            k = pool[rng.randrange(len(pool))]
            key = station_month_key(k[0]["USAF"], k[0]["WBAN"], k[2], k[3])
            if key not in taken:
                taken.add(key)
                out.append(k)
        return out

    def row(s, c, y, m, delete: bool) -> dict:
        temp = round(rng.uniform(-10, 80), 4)
        return {
            "USAF": s["USAF"], "WBAN": s["WBAN"], "YEAR": y, "MONTH": m,
            "TEMP": temp, "DEWP": round(temp - rng.uniform(0, 15), 4),
            "WDSP": round(rng.uniform(0, 25), 4), "MAX": round(temp + rng.uniform(0, 12), 4),
            "MIN": round(temp - rng.uniform(0, 12), 4), "PRCP": round(rng.uniform(0, 2), 4),
            **c, "station_month": station_month_key(s["USAF"], s["WBAN"], y, m),
            "is_delete": delete,
        }

    taken: set[str] = set()
    rows = [row(*k, False) for k in pick(int(len(keys) * REVISION_UPDATE_SHARE), taken)]
    rows += [row(*k, True) for k in pick(int(len(keys) * REVISION_DELETE_SHARE), taken)]
    for s, c in kept[::2]:
        for m in range(1, REVISION_NEW_MONTHS + 1):
            rows.append(row(s, c, years[-1] + 1, m, False))
    return sorted(rows, key=lambda r: r["station_month"])


def write_gsod(seed: int, root: str) -> dict:
    """GSOD archive tree for one seed. Returns paths and sizes."""
    import datetime as dt

    rng = random.Random(seed * 7919 + 1)
    years = gsod_years()
    stations = _gsod_stations(rng, years)
    keys = [(s["USAF"], s["WBAN"]) for s in stations]
    keys.append(("999999", 99999))  # orphan key: no station row, dropped by the semi join
    tar_dir = os.path.join(root, "gsod_all_years")
    os.makedirs(tar_dir, exist_ok=True)
    obs_cols: dict[str, list] = {
        c: [] for c in ("USAF", "WBAN", "YEARMODA", "TEMP", "DEWP", "WDSP", "MAX", "MIN", "PRCP")
    }
    n_members = 0
    for year in years:
        day0 = dt.date(year, 1, 1)
        n_days = (dt.date(year + 1, 1, 1) - day0).days
        ymds = [(day0 + dt.timedelta(days=d)).strftime("%Y%m%d") for d in range(n_days)]
        with tarfile.open(os.path.join(tar_dir, f"gsod_{year}.tar"), "w",
                          format=tarfile.USTAR_FORMAT) as tar:
            for usaf, wban in keys:
                base = rng.uniform(-10, 80)
                lines = [_GSOD_HEADER]
                for ymd in ymds:
                    temp = round(base + rng.uniform(-15, 15), 1)
                    dewp = round(temp - rng.uniform(0, 15), 1)
                    wdsp = round(rng.uniform(0, 25), 1)
                    mx = f"{round(temp + rng.uniform(0, 12), 1)}" + ("*" if rng.random() < 0.2 else "")
                    mn = f"{round(temp - rng.uniform(0, 12), 1)}" + ("*" if rng.random() < 0.2 else "")
                    prcp = f"{rng.uniform(0, 2):.2f}" + rng.choice("ABCDEFGHI")
                    lines.append(_gsod_line(usaf, wban, ymd, temp, dewp, wdsp, mx, mn, prcp))
                    for c, v in zip(obs_cols, (usaf, wban, ymd, temp, dewp, wdsp, mx, mn, prcp)):
                        obs_cols[c].append(v)
                body = "\n".join(lines).encode()
                _tar_add(tar, f"./{usaf}-{wban}-{year}.op.gz", gzip.compress(body, compresslevel=1, mtime=0))
                n_members += 1
    stations_csv = os.path.join(root, "isd-history.csv")
    cols = list(stations[0])
    with open(stations_csv, "w", newline="") as fh:
        fh.write(",".join(cols) + "\n")
        for s in stations:
            fh.write(",".join("" if s[c] is None else str(s[c]) for c in cols) + "\n")
    st_schema = pa.schema(
        [("USAF", pa.string()), ("WBAN", pa.int64()), ("STATION_NAME", pa.string()),
         ("CTRY", pa.string()), ("STATE", pa.string()), ("ICAO", pa.string()),
         ("LAT", pa.float64()), ("LON", pa.float64()), ("ELEV_M", pa.float64()),
         ("BEGIN", pa.string()), ("END", pa.string())]
    )
    _write_parquet(pa.Table.from_pylist(stations, schema=st_schema),
                   os.path.join(root, "stations.parquet"))
    _write_parquet(pa.table(obs_cols), os.path.join(root, "observations.parquet"))
    revisions = os.path.join(root, "revisions.parquet")
    _write_parquet(pa.Table.from_pylist(_revisions(rng, stations, years), schema=REVISION_SCHEMA),
                   revisions)
    tar_bytes = sum(os.path.getsize(os.path.join(tar_dir, f)) for f in os.listdir(tar_dir))
    return {
        "tar_dir": tar_dir,
        "stations_csv": stations_csv,
        "stations_parquet": os.path.join(root, "stations.parquet"),
        "obs_parquet": os.path.join(root, "observations.parquet"),
        "revisions": revisions,
        "min_year": years[0],
        "max_year": years[-1],
        "archives": len(years),
        "members": n_members,
        "rows": len(obs_cols["USAF"]),
        "input_bytes": tar_bytes + os.path.getsize(stations_csv) + os.path.getsize(revisions),
    }


# -------------------------------------------------------------- corpus ----

CORPUS_DOCS = 2500
#: planted shares (fixed; the seed only changes content): near-duplicate
#: variants, documents carrying boilerplate lines, low-quality documents
CORPUS_DUP_SHARE = 0.15
CORPUS_BOILER_SHARE = 0.30
CORPUS_LOWQ_SHARE = 0.06
CORPUS_SOURCES = (("web", 0.5), ("books", 0.2), ("wiki", 0.2), ("code", 0.1))

_VOCAB_CORE = (
    "the of and to in a is that for it with as was on be by this are from at "
    "have an or which data value model system result method time user table"
).split()
_BOILERPLATE = [
    "Home | About | Contact | Privacy Policy",
    "Copyright 2024 All rights reserved.",
    "Subscribe to our newsletter for the latest updates",
    "Accept cookies to continue browsing this site",
    "Share this article on social media",
    "Skip to main content",
]


def _corpus_vocab(rng: random.Random, n: int = 2500) -> list[str]:
    letters = "abcdefghijklmnopqrstuvwxyz"
    words = set()
    while len(words) < n:
        words.add("".join(rng.choice(letters) for _ in range(rng.randint(3, 9))))
    return sorted(words)


def _corpus_body(rng: random.Random, vocab: list[str]) -> list[str]:
    lines = []
    for _ in range(rng.randint(3, 6)):
        words = [
            rng.choice(_VOCAB_CORE) if rng.random() < 0.35 else rng.choice(vocab)
            for _ in range(rng.randint(12, 24))
        ]
        lines.append(" ".join(words))
    return lines


def write_corpus(seed: int, root: str) -> dict:
    """Document corpus for one seed. Returns paths and sizes."""
    rng = random.Random(seed * 104729 + 2)
    vocab = _corpus_vocab(rng)
    n_dup = int(CORPUS_DOCS * CORPUS_DUP_SHARE)
    n_base = CORPUS_DOCS - n_dup
    bodies: list[list[str]] = []
    for i in range(n_base):
        if i % round(1 / CORPUS_LOWQ_SHARE) == 0:
            # low quality: too short for the word-count rule
            bodies.append([" ".join(rng.choice(vocab) for _ in range(rng.randint(5, 20)))])
        else:
            bodies.append(_corpus_body(rng, vocab))
    for _ in range(n_dup):
        # near-duplicate: one word of one line changed in a random base doc
        src = [list(line.split(" ")) for line in bodies[rng.randrange(n_base)]]
        line = src[rng.randrange(len(src))]
        line[rng.randrange(len(line))] = rng.choice(vocab)
        bodies.append([" ".join(ws) for ws in src])
    order = list(range(CORPUS_DOCS))
    rng.shuffle(order)
    sources = [s for s, _ in CORPUS_SOURCES]
    weights = [w for _, w in CORPUS_SOURCES]
    rows = {"doc_id": [], "text": [], "lang": [], "source": [], "n_chars": []}
    for doc_id, k in enumerate(order, start=1):
        lines = list(bodies[k])
        if rng.random() < CORPUS_BOILER_SHARE:
            lines.insert(0, rng.choice(_BOILERPLATE))
            lines.append(rng.choice(_BOILERPLATE))
        text = "\n".join(lines)
        rows["doc_id"].append(doc_id)
        rows["text"].append(text)
        rows["lang"].append("en")
        rows["source"].append(rng.choices(sources, weights)[0])
        rows["n_chars"].append(len(text))
    schema = pa.schema(
        [("doc_id", pa.int64()), ("text", pa.string()), ("lang", pa.string()),
         ("source", pa.string()), ("n_chars", pa.int64())]
    )
    path = os.path.join(root, "documents.parquet")
    _write_parquet(pa.table(rows, schema=schema), path)
    return {
        "corpus_dir": root,
        "documents": path,
        "docs": CORPUS_DOCS,
        "input_bytes": os.path.getsize(path),
    }


GENERATORS = {"gsod": write_gsod, "corpus": write_corpus}


def generate(kind: str, seed: int, root: str) -> dict:
    os.makedirs(root, exist_ok=True)
    return GENERATORS[kind](seed, root)
