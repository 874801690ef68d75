"""Seeded synthetic inputs for the benchmark.

Two kinds of input, both generated from ``--seed`` so the same seed gives
byte-identical inputs:

* ``write_tables``: the ten parquet tables the query registry reads
  (TPC-H-shaped star schema, the ``events`` stream with a nanosecond
  ``ts`` column, and the ``documents`` / ``embeddings`` corpus tables).
  Row counts follow the scale factor the same way as the project's test
  data: ``lineitem`` has 6,000,000 x sf rows, the corpus tables have a
  500-row floor.  Value ranges and shapes (5 % near-duplicate documents
  ending in `` dup``, a handful of exact duplicates, unit-norm 64-d
  embeddings) match that data, so every operator takes the same code path.
* ``make_fleet``: the ERDDAP fleet for the ``erddap_etl`` workload -- csvp
  glider-track datasets (with ~2 % invalid coordinates) and NetCDF-classic
  griddap datasets split into time divisions.
"""

from __future__ import annotations

import datetime as dt
import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
COLORS = ["blue", "red", "green", "black", "white", "small", "large", "shiny"]
NOUNS = ["anvil", "bolt", "ring", "widget", "gear", "nut", "spring", "valve"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]

_EPOCH_1995 = np.datetime64("1995-01-01", "us")
_EPOCH_2024 = np.datetime64("2024-01-01", "ns")


def _write(out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _names(prefix: str, n: int) -> list[str]:
    return [f"{prefix}#{i:09d}" for i in range(n)]


def write_tables(out_dir: str, sf: float, seed: int) -> dict[str, int]:
    """Write the ten registry tables at scale ``sf``; returns row counts."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed % 2**32, 1])
    n_cust = max(150, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1_500, int(1_500_000 * sf))
    n_li = max(6_000, int(6_000_000 * sf))
    n_ev = max(1_000, int(1_000_000 * sf))
    n_users = max(15, int(15_000 * sf))
    n_docs = max(500, int(50_000 * sf))
    n_emb = max(500, int(20_000 * sf))

    _write(out_dir, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    _write(out_dir, "customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": _names("Customer", n_cust),
        "c_nationkey": rng.integers(0, 25, n_cust, dtype=np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)],
    })
    _write(out_dir, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": _names("Supplier", n_supp),
        "s_nationkey": rng.integers(0, 25, n_supp, dtype=np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    pk = np.arange(n_part, dtype=np.int64)
    _write(out_dir, "part", {
        "p_partkey": pk,
        "p_name": [
            f"{COLORS[a]} {NOUNS[b]}"
            for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
        ],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": np.array(PART_TYPES)[rng.integers(0, 6, n_part)],
        "p_size": rng.integers(1, 51, n_part, dtype=np.int32),
        "p_retailprice": np.round(900.0 + (pk % 1000) * 0.1, 1),
    })
    span_days = 2404  # 1995-01-01 .. 2001-08-01
    o_date = _EPOCH_1995 + rng.integers(0, span_days + 1, n_ord) * np.timedelta64(1, "D")
    _write(out_dir, "orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord, dtype=np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": pa.array(o_date.astype("datetime64[us]"), pa.timestamp("us")),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)],
    })
    l_ord = rng.integers(0, n_ord, n_li, dtype=np.int64)
    ship = o_date[l_ord] + rng.integers(1, 122, n_li) * np.timedelta64(1, "D")
    _write(out_dir, "lineitem", {
        "l_orderkey": l_ord,
        "l_partkey": rng.integers(0, n_part, n_li, dtype=np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_li, dtype=np.int64),
        "l_linenumber": rng.integers(1, 8, n_li, dtype=np.int32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_li),
        "l_discount": np.round(rng.integers(0, 11, n_li) * 0.01, 2),
        "l_tax": np.round(rng.integers(0, 9, n_li) * 0.01, 2),
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": pa.array(ship.astype("datetime64[us]"), pa.timestamp("us")),
    })
    # events: ascending nanosecond timestamps over 30 days
    ts_ns = np.sort(rng.integers(0, 30 * 86_400 * 10**9, n_ev))
    _write(out_dir, "events", {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pa.array(_EPOCH_2024 + ts_ns.astype("timedelta64[ns]"), pa.timestamp("ns")),
        "user_id": rng.integers(0, n_users, n_ev, dtype=np.int64),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    texts = []
    for i in range(n_docs):
        r = rng.random()
        if i > 20 and r < 0.05:  # near-duplicate of an earlier document
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        elif i > 20 and r < 0.052:  # exact duplicate
            texts.append(texts[int(rng.integers(0, i))])
        else:
            n_words = int(rng.integers(10, 101))
            texts.append(" ".join(np.array(VOCAB)[rng.integers(0, len(VOCAB), n_words)]))
    _write(out_dir, "documents", {
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(5, n_docs, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    emb = rng.standard_normal((n_emb, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    _write(out_dir, "embeddings", {
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n_emb, dtype=np.int32),
    })
    return {"lineitem": n_li, "orders": n_ord, "events": n_ev, "documents": n_docs}


# ---------------------------------------------------------------- fleet

#: last backfilled instant; NRT cycles move "now" past it
ANCHOR = dt.datetime(2024, 3, 10, 0, 0, 0)
BACKFILL_DAYS = 10
CSVP_COLS = ["time", "latitude", "longitude", "depth", "sea_water_temperature", "trajectory"]
CSVP_DDL = (
    "time timestamp_ntz, latitude double, longitude double, depth double, "
    "sea_water_temperature double, trajectory string"
)
_CSVP_HEADER = (
    "time (UTC),latitude (degrees_north),longitude (degrees_east),depth (m),"
    "sea_water_temperature (degree_C),trajectory"
)


@dataclass
class CsvpDataset:
    dataset_id: str
    path: str
    hot: bool
    times: list[dt.datetime] = field(default_factory=list)
    n_valid: int = 0  # rows whose coordinates survive drop_invalid_coords
    n_segments: int = 0  # consecutive valid pairs per trajectory


@dataclass
class GridDataset:
    dataset_id: str
    divisions: list[tuple[str, str, str]]  # (iso_start, iso_end, nc_path)
    n_cells: int  # lattice cells over all divisions (one variable)


def _iso(t: dt.datetime) -> str:
    return t.strftime("%Y-%m-%dT%H:%M:%SZ")


def _csvp_rows(rng, times: list[dt.datetime], tracks: list[str]) -> tuple[list[str], int, int]:
    n = len(times)
    lat = np.round(25.0 + rng.random(n) * 5.0, 5)
    lon = np.round(-95.0 + rng.random(n) * 5.0, 5)
    bad = rng.random(n) < 0.02
    traj = np.array(tracks)[rng.integers(0, len(tracks), n)]
    depth = np.round(rng.random(n) * 200.0, 2)
    temp = np.round(15.0 + rng.random(n) * 15.0, 3)
    lines, valid_per_track = [], {t: 0 for t in tracks}
    for i in range(n):
        la = "NaN" if bad[i] else repr(float(lat[i]))
        lines.append(f"{_iso(times[i])},{la},{lon[i]!r},{depth[i]!r},{temp[i]!r},{traj[i]}")
        if not bad[i]:
            valid_per_track[traj[i]] += 1
    n_valid = sum(valid_per_track.values())
    n_seg = sum(max(0, v - 1) for v in valid_per_track.values())
    return lines, n_valid, n_seg


def make_fleet(
    out_dir: str, seed: int, n_csvp: int, n_grid: int, rows_per_dataset: int
) -> tuple[list[CsvpDataset], list[GridDataset]]:
    """csvp + griddap datasets; half of the csvp datasets (chosen by the
    seed) are "hot": they change upstream on every NRT cycle."""
    from erddap2agol_spark.sources.netcdf import write_netcdf_classic

    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed % 2**32, 2])
    hot = set(rng.permutation(n_csvp)[: max(1, n_csvp // 2)].tolist())
    start = ANCHOR - dt.timedelta(days=BACKFILL_DAYS)
    span_s = BACKFILL_DAYS * 86_400
    csvp = []
    for i in range(n_csvp):
        ds = CsvpDataset(f"glider_{seed % 1000:03d}_{i}", os.path.join(out_dir, f"glider_{i}.csvp"), i in hot)
        # unique whole-second times strictly inside the backfill span
        secs = np.sort(rng.choice(np.arange(1, span_s), rows_per_dataset, replace=False))
        ds.times = [start + dt.timedelta(seconds=int(s)) for s in secs]
        tracks = [f"{ds.dataset_id}_t{k}" for k in range(1 + int(rng.integers(1, 4)))]
        lines, ds.n_valid, ds.n_segments = _csvp_rows(rng, ds.times, tracks)
        with open(ds.path, "w") as f:
            f.write(_CSVP_HEADER + "\n" + "\n".join(lines) + "\n")
        csvp.append(ds)
    grids = []
    lats = np.arange(30.0, 26.0, -0.5)  # 8 rows, north-first
    lons = np.arange(-95.0, -91.0, 0.5)  # 8 columns
    for g in range(n_grid):
        gid = f"sst_grid_{seed % 1000:03d}_{g}"
        divisions, n_cells = [], 0
        for d in range(2):
            t0 = ANCHOR - dt.timedelta(days=2 - d)
            hours = np.array([6.0 * k for k in range(4)])
            sst = (20.0 + rng.random((4, len(lats), len(lons))) * 8.0).astype(np.float32)
            path = os.path.join(out_dir, f"{gid}_subset_{d}.nc")
            write_netcdf_classic(
                path,
                [("time", None), ("latitude", len(lats)), ("longitude", len(lons))],
                {
                    "time": (["time"], hours, {"units": f"hours since {_iso(t0)}", "axis": "T"}),
                    "latitude": (["latitude"], lats.astype(np.float32), {"units": "degrees_north"}),
                    "longitude": (["longitude"], lons.astype(np.float32), {"units": "degrees_east"}),
                    "sst": (["time", "latitude", "longitude"], sst, {"units": "degree_C"}),
                },
                {"title": gid},
            )
            divisions.append((_iso(t0), _iso(t0 + dt.timedelta(hours=18)), path))
            n_cells += sst.size
        grids.append(GridDataset(gid, divisions, n_cells))
    return csvp, grids


def append_nrt_rows(ds: CsvpDataset, now: dt.datetime, seed: int, cycle: int, n: int = 24) -> None:
    """New upstream observations for a hot dataset: ``n`` rows in the
    hour before ``now`` (all with valid coordinates)."""
    rng = np.random.default_rng([seed % 2**32, 3, cycle, int(ds.dataset_id.rsplit("_", 1)[1])])
    secs = np.sort(rng.choice(np.arange(0, 3600), n, replace=False))
    times = [now - dt.timedelta(seconds=3600 - int(s)) for s in secs]
    lines = [
        f"{_iso(t)},{25 + rng.random():.5f},{-95 + rng.random():.5f},1.0,20.0,{ds.dataset_id}_t0"
        for t in times
    ]
    with open(ds.path, "a") as f:
        f.write("\n".join(lines) + "\n")
    ds.times.extend(times)


def rows_in_window(ds: CsvpDataset, now: dt.datetime, days: int = 7) -> int:
    lo = now - dt.timedelta(days=days)
    return sum(1 for t in ds.times if lo <= t <= now)
