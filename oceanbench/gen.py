"""Seeded inputs for the ocean-path benchmark.

Everything the benchmark checks against comes from here, never from the
program under test:

- `OceanField`: a deterministic function of (seed, time, depth, lat, lon)
  over the SURVEY §1 grid (91 lat x 61 lon cells x 72 monthly steps).
  Every cell has a value: no land, no `NaN` (see NOTES.md, defect D2).
- ERDDAP griddap hyperslab parsing and the CSV body a server answers with
  (header row, units row, data rows).
- URL-hashed fault sets: transient 503s and dead grid points (404).
- `write_tables`: the TPC-H-style star schema the registered queries read,
  with the same schema as the project's sf testdata.

Values are carried as integer thousandths, so the text a server sends and
the double the program parses from it are both exactly `milli / 1000`.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import os
import re
from dataclasses import dataclass

import numpy as np

LAT_ANCHOR = 55.0
LON_ANCHOR = -85.0
RESOLUTION = 0.25
N_LAT = 91
N_LON = 61
N_MONTHS = 72
N_DEPTHS = 107
EPOCH_YEAR = 1955
SURFACE_DEPTH_INDEX = 106
VARIABLES = ("Temperature", "Salinity")
UNITS = {"time": "UTC", "depth": "m", "latitude": "degrees_north",
         "longitude": "degrees_east", "Temperature": "degree_C", "Salinity": "PSU"}

#: Basis points of URLs whose first attempt answers 503.
TRANSIENT_BP = 300
#: Basis points of grid points that always answer 404 (etl_backfill only).
DEAD_POINT_BP = 100


def _splitmix(z: np.ndarray) -> np.ndarray:
    """splitmix64 finaliser over uint64 arrays (wrapping arithmetic)."""
    with np.errstate(over="ignore"):
        z = z + np.uint64(0x9E3779B97F4A7C15)
        z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
        z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
        return z ^ (z >> np.uint64(31))


def _unit(seed: int, salt: int, idx: np.ndarray) -> np.ndarray:
    """Uniform [0, 1) noise keyed on (seed, salt, flat cell index)."""
    base = np.uint64((seed * 1_000_003 + salt * 7_919) & 0xFFFFFFFFFFFFFFFF)
    with np.errstate(over="ignore"):
        h = _splitmix(idx.astype(np.uint64) * np.uint64(0x2545F4914F6CDD1D) + base)
    return (h >> np.uint64(11)).astype(np.float64) / float(1 << 53)


def lat_of(y: int) -> float:
    return LAT_ANCHOR - y * RESOLUTION


def lon_of(x: int) -> float:
    return LON_ANCHOR + x * RESOLUTION


def depth_of(d: int) -> float:
    """Depth in metres of level `d`; the surface level is 0 m."""
    return 5.0 * abs(SURFACE_DEPTH_INDEX - d)


def time_text(t: int) -> str:
    return f"{EPOCH_YEAR + t // 12}-{t % 12 + 1:02d}-16T00:00:00Z"


def time_value(t: int) -> dt.datetime:
    return dt.datetime(EPOCH_YEAR + t // 12, t % 12 + 1, 16)


def milli_text(m: int) -> str:
    return f"{m // 1000}.{m % 1000:03d}"


class OceanField:
    """Temperature and salinity, in thousandths, for every (t, d, y, x).

    Temperature falls with latitude and depth and swings with the season;
    salinity varies around 35 PSU. Both stay well inside the program's
    plausibility bounds (temperature -5..35, salinity 0..45).
    """

    def __init__(self, seed: int):
        self.seed = seed

    def milli(self, t: np.ndarray, d: np.ndarray, y: np.ndarray, x: np.ndarray):
        t, d, y, x = (np.asarray(a, dtype=np.int64) for a in (t, d, y, x))
        idx = ((t * N_DEPTHS + d) * N_LAT + y) * N_LON + x
        lat = LAT_ANCHOR - y * RESOLUTION
        depth = 5.0 * np.abs(SURFACE_DEPTH_INDEX - d)
        season = np.sin(2.0 * np.pi * (t % 12) / 12.0 + 0.3 * (self.seed % 7))
        temp = (29.0 - 0.42 * (lat - 10.0) - 0.01 * np.minimum(depth, 500.0)
                + 3.0 * season + 2.0 * _unit(self.seed, 1, idx))
        sal = 34.0 + 0.02 * (lat - 10.0) + 0.5 * season + 1.5 * _unit(self.seed, 2, idx)
        return (np.rint(temp * 1000.0).astype(np.int64),
                np.rint(sal * 1000.0).astype(np.int64))


# -- ERDDAP griddap protocol --------------------------------------------

_SLAB = re.compile(r"^(\w+)((?:\[\d+(?::\d+)?\]){4})$")
_DIM = re.compile(r"\[(\d+)(?::(\d+))?\]")


@dataclass(frozen=True)
class Hyperslab:
    variables: tuple[str, ...]
    t0: int
    t1: int
    d: int
    y: int
    x: int


class BadRequest(ValueError):
    """The query is not a hyperslab this grid can answer."""


def parse_hyperslab(query: str) -> Hyperslab:
    """Parse `Var[t0:t1][d][y][x],Var2[...]` (all slabs must agree)."""
    ranges = None
    names = []
    for part in query.split(","):
        m = _SLAB.match(part)
        if not m or m.group(1) not in VARIABLES:
            raise BadRequest(f"bad slab {part!r}")
        dims = []
        for lo, hi in _DIM.findall(m.group(2)):
            dims.append((int(lo), int(hi) if hi else int(lo)))
        if ranges is not None and dims != ranges:
            raise BadRequest("slabs address different cells")
        ranges = dims
        names.append(m.group(1))
    (t0, t1), (d0, d1), (y0, y1), (x0, x1) = ranges
    if d0 != d1 or y0 != y1 or x0 != x1:
        raise BadRequest("only one depth, lat and lon cell per request")
    if not (0 <= t0 <= t1 < N_MONTHS and d0 < N_DEPTHS and y0 < N_LAT and x0 < N_LON):
        raise BadRequest("index out of range")
    return Hyperslab(tuple(names), t0, t1, d0, y0, x0)


def csv_body(field: OceanField, slab: Hyperslab) -> str:
    """The griddap CSV answer: header row, units row, one row per month."""
    cols = ("time", "depth", "latitude", "longitude", *slab.variables)
    ts = np.arange(slab.t0, slab.t1 + 1)
    temp, sal = field.milli(ts, slab.d, slab.y, slab.x)
    vals = {"Temperature": temp, "Salinity": sal}
    fixed = f"{depth_of(slab.d):.1f},{lat_of(slab.y):.2f},{lon_of(slab.x):.2f}"
    lines = [",".join(cols), ",".join(UNITS[c] for c in cols)]
    for i, t in enumerate(ts):
        measures = ",".join(milli_text(int(vals[v][i])) for v in slab.variables)
        lines.append(f"{time_text(int(t))},{fixed},{measures}")
    return "\n".join(lines) + "\n"


def _hash64(*parts: object) -> int:
    raw = "\x1f".join(str(p) for p in parts).encode()
    return int.from_bytes(hashlib.blake2b(raw, digest_size=8).digest(), "big")


def is_transient(seed: int, url: str) -> bool:
    """URLs whose first attempt answers 503 (then succeeds)."""
    return _hash64(seed, "transient", url) % 10_000 < TRANSIENT_BP


def is_dead_point(seed: int, y: int, x: int) -> bool:
    """Grid points that always answer 404 when dead points are enabled."""
    return _hash64(seed, "dead", y, x) % 10_000 < DEAD_POINT_BP


def expected_rows(field: OceanField, points, t0: int = 0, t1: int = N_MONTHS - 1,
                  d: int = SURFACE_DEPTH_INDEX):
    """Expected cleaned rows for `points` [(y, x)], as column arrays sorted
    by (latitude, longitude, time), matching the canonical clean schema."""
    pts = sorted(points, key=lambda p: (lat_of(p[0]), lon_of(p[1])))
    ts = np.arange(t0, t1 + 1)
    n = len(ts)
    ys = np.repeat([p[0] for p in pts], n).astype(np.int64)
    xs = np.repeat([p[1] for p in pts], n).astype(np.int64)
    tt = np.tile(ts, len(pts))
    temp, sal = field.milli(tt, d, ys, xs)
    times = np.array([np.datetime64(time_value(int(t)), "us") for t in ts])
    return {
        "time": np.tile(times, len(pts)),
        "depth": np.full(len(tt), depth_of(d)),
        "latitude": LAT_ANCHOR - ys * RESOLUTION,
        "longitude": LON_ANCHOR + xs * RESOLUTION,
        "temperature": temp / 1000.0,
        "salinity": sal / 1000.0,
    }


# -- TPC-H-style tables for the registered query suite -------------------

_REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
_SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
_ADJ = ("blue", "red", "hot", "cold", "new", "small", "large", "green", "old",
        "shiny", "dark", "bright", "pale")
_NOUN = ("anvil", "bolt", "gear", "plate", "ring", "rod", "widget", "nut", "spring",
         "valve", "pipe", "clamp", "hinge")
_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
_PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
_EVENT_TYPES = ("click", "error", "purchase", "signup", "view")


def table_rows(sf: float) -> dict[str, int]:
    return {
        "customer": int(150_000 * sf), "supplier": int(10_000 * sf),
        "part": int(200_000 * sf), "orders": int(1_500_000 * sf),
        "lineitem": int(6_000_000 * sf), "events": int(1_000_000 * sf),
    }


def write_tables(out_dir: str, seed: int, sf: float = 0.1) -> dict[str, int]:
    """Write region, nation, customer, supplier, part, orders, lineitem and
    events as one parquet file each (one row group, like the testdata).
    Returns the row count per table."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    n = table_rows(sf)
    day0 = np.datetime64("1995-01-01", "us")
    one_day = np.timedelta64(1, "D").astype("timedelta64[us]")

    def money(lo, hi, size):
        return np.round(rng.uniform(lo, hi, size), 2)

    def names(prefix, count):
        return [f"{prefix}#{i:09d}" for i in range(count)]

    t = {}
    t["region"] = pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                            "r_name": list(_REGIONS)})
    t["nation"] = pa.table({"n_nationkey": pa.array(range(25), pa.int32()),
                            "n_name": [f"NATION_{i}" for i in range(25)],
                            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    nc = n["customer"]
    t["customer"] = pa.table({
        "c_custkey": np.arange(nc, dtype=np.int64), "c_name": names("Customer", nc),
        "c_nationkey": rng.integers(0, 25, nc).astype(np.int32),
        "c_acctbal": money(-999.99, 9999.99, nc),
        "c_mktsegment": np.array(_SEGMENTS)[rng.integers(0, 5, nc)]})
    ns = n["supplier"]
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(ns, dtype=np.int64), "s_name": names("Supplier", ns),
        "s_nationkey": rng.integers(0, 25, ns).astype(np.int32),
        "s_acctbal": money(-999.99, 9999.99, ns)})
    npart = n["part"]
    t["part"] = pa.table({
        "p_partkey": np.arange(npart, dtype=np.int64),
        "p_name": np.char.add(np.char.add(np.array(_ADJ)[rng.integers(0, len(_ADJ), npart)], " "),
                              np.array(_NOUN)[rng.integers(0, len(_NOUN), npart)]),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, npart).astype(str)),
        "p_type": np.array(_TYPES)[rng.integers(0, 6, npart)],
        "p_size": rng.integers(1, 51, npart).astype(np.int32),
        "p_retailprice": np.round(900.0 + rng.integers(0, 1000, npart) / 10.0, 1)})
    no = n["orders"]
    t["orders"] = pa.table({
        "o_orderkey": np.arange(no, dtype=np.int64),
        "o_custkey": rng.integers(0, nc, no),
        "o_orderstatus": np.array(("F", "O", "P"))[rng.integers(0, 3, no)],
        "o_totalprice": money(1000.0, 500000.0, no),
        "o_orderdate": day0 + rng.integers(0, 2404, no) * one_day,
        "o_orderpriority": np.array(_PRIORITIES)[rng.integers(0, 5, no)]})
    nl = n["lineitem"]
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, no, nl), "l_partkey": rng.integers(0, npart, nl),
        "l_suppkey": rng.integers(0, ns, nl),
        "l_linenumber": rng.integers(1, 8, nl).astype(np.int32),
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": money(900.0, 105000.0, nl),
        "l_discount": np.round(rng.integers(0, 11, nl) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, nl) / 100.0, 2),
        "l_returnflag": np.array(("A", "N", "R"))[rng.integers(0, 3, nl)],
        "l_linestatus": np.array(("F", "O"))[rng.integers(0, 2, nl)],
        "l_shipdate": day0 + (1 + rng.integers(0, 2499, nl)) * one_day})
    ne = n["events"]
    ts0 = np.datetime64("2024-01-01", "ns")
    t["events"] = pa.table({
        "event_id": np.arange(ne, dtype=np.int64),
        "ts": np.sort(ts0 + rng.integers(0, 30 * 86_400 * 10**6, ne) * np.timedelta64(1000, "ns")),
        "user_id": rng.integers(0, 1500, ne),
        "event_type": np.array(_EVENT_TYPES)[rng.integers(0, 5, ne)],
        "value": np.round(rng.exponential(60.0, ne), 2),
        "props": np.char.add(np.char.add('{"k": ', rng.integers(0, 100, ne).astype(str)), "}")})
    os.makedirs(out_dir, exist_ok=True)
    for name, tbl in t.items():
        # events.ts stays TIMESTAMP(NANOS), as in the testdata, so the
        # catalog's nanos-as-long path is exercised.
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"),
                       row_group_size=1 << 30, version="2.6",
                       coerce_timestamps=None if name == "events" else "us")
    return {k: v.num_rows for k, v in t.items()}
