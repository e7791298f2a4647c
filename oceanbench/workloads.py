"""The three benchmark workloads. Each is a closed loop with one client and
no think time; see NOTES.md for why each was chosen.

A workload's `prepare()` is the repeatable part of its set-up (fixture,
inputs) and leaves fresh state each time it runs; `load()` (the cache
pre-fill) and the `warm_ops` run once before measuring. `before_op()` and
`check()` run outside the timer, `op()` inside it. Calls into the program
are wrapped in tracer spans named `<layer>.<call>`.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json
import os
import shutil

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from ocean_data_pipeline_spark import catalog
from ocean_data_pipeline_spark.cache.result_cache import CACHE_SCHEMA, ResultCache
from ocean_data_pipeline_spark.functions.keys import query_key
from ocean_data_pipeline_spark.plans.pipeline import run_pipeline
from ocean_data_pipeline_spark.queries import load_all
from ocean_data_pipeline_spark.sources.erddap import (
    ErddapDataset,
    ErddapSource,
    FetchPolicy,
    fetch_many,
    lat_index,
    lon_index,
)
from oceanbench import checks, gen
from oceanbench.fixture import DATASET_ID, ErddapFixture

#: No client throttle: the loopback fixture has no server budget, so a
#: throttle would only time `sleep`. Retries keep the program's count and
#: backoff factor with a 10 ms first delay.
POLICY = FetchPolicy(min_interval_s=0.0, timeout_s=30.0, max_retries=3,
                     retry_delay_s=0.01, backoff_factor=2.0)

FULL_RANGE = ("1955-01-01", "1960-12-31")


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


def month_range(start: str, end: str) -> tuple[int, int]:
    def idx(s):
        y, m, _ = (int(p) for p in s.split("-"))
        return min(gen.N_MONTHS - 1, max(0, (y - gen.EPOCH_YEAR) * 12 + m - 1))

    return idx(start), idx(end)


class Workload:
    cycle = 1  # a run measures whole cycles of this many operations
    warm_ops: tuple[int, ...] = ()  # operations run once, untimed, in set-up

    def __init__(self, spark, seed: int, work: str, threads: int):
        self.spark = spark
        self.seed = seed
        self.work = work
        self.threads = threads
        self.reps = 0
        self.fixture: ErddapFixture | None = None

    def start_fixture(self, dead_points: bool) -> ErddapDataset:
        if self.fixture is not None:
            self.fixture.stop()
        self.fixture = ErddapFixture(self.seed, self.threads, dead_points=dead_points)
        return ErddapDataset(base_url=self.fixture.start(), dataset_id=DATASET_ID)

    def fresh_dir(self, name: str) -> str:
        path = os.path.join(self.work, f"{name}{self.reps}")
        shutil.rmtree(path, ignore_errors=True)
        os.makedirs(path)
        return path

    def load(self) -> None:
        """One-off set-up after the repeated `prepare()` runs."""

    def cache_sizes(self) -> dict:
        """Entry counts and bytes on disk of the program's own caches."""
        return {}

    def before_op(self, i: int) -> None:
        pass

    def close(self) -> None:
        if self.fixture is not None:
            self.fixture.stop()


# -- etl_backfill -----------------------------------------------------------

class EtlBackfill(Workload):
    """Backfill one latitude band (7 grid rows x 61 = 427 points x 72
    months) per operation: `fetch_many`, then `run_pipeline` into a freshly
    dropped table. The 13 bands tile the grid; the seed picks the first."""

    name = "etl_backfill"
    cycle = 4
    warm_ops = (-1,)  # one grid row: the JVM and the Python workers start cold
    BAND_ROWS = 7
    TABLE = "sea_surface"

    def prepare(self) -> None:
        self.reps += 1
        self.ds = self.start_fixture(dead_points=True)
        self.field = self.fixture.field
        n_bands = gen.N_LAT // self.BAND_ROWS
        self.first_band = self.seed % n_bands
        self.bands = [self.make_band(range(b * self.BAND_ROWS, (b + 1) * self.BAND_ROWS))
                      for b in range(n_bands)]
        last_row = ((self.first_band - 1) % n_bands) * self.BAND_ROWS
        self.warm_band = self.make_band([last_row])
        self.work_dir = os.path.join(self.work, "etl")

    def make_band(self, rows):
        points = [(y, x) for y in rows for x in range(gen.N_LON)]
        alive = [p for p in points if not gen.is_dead_point(self.seed, *p)]
        requests = self.spark.createDataFrame(
            [(gen.lat_of(y), gen.lon_of(x), *FULL_RANGE) for y, x in points],
            "lat double, lon double, start_date string, end_date string")
        return points, alive, requests

    def band(self, i: int):
        if i < 0:
            return self.warm_band
        return self.bands[(self.first_band + i) % len(self.bands)]

    def before_op(self, i: int) -> None:
        self.spark.sql(f"DROP TABLE IF EXISTS {self.TABLE}")
        shutil.rmtree(self.work_dir, ignore_errors=True)

    def op(self, i: int, tracer):
        _points, _alive, requests = self.band(i)
        with tracer.span("erddap.fetch_many"):
            raw = fetch_many(requests, self.ds, POLICY)
        # D1: the documented run_pipeline(spark, fetch_many(...)) call fails
        # under ANSI, so drop the request columns first (as the tests do).
        raw = raw.drop("req_lat", "req_lon")
        with tracer.span("pipeline.run_pipeline"):
            return run_pipeline(self.spark, raw, self.work_dir, self.TABLE)

    def check(self, i: int, result) -> tuple[list[str], dict]:
        points, alive, _ = self.band(i)
        report = result.report()
        stages = report["stages"]
        n_months = gen.N_MONTHS
        problems = checks.check_equal("pipeline ok", report["ok"], True)
        # Raw rows: units row + data rows per live point, one NULL row per
        # dead point (the fetch_many failure contract).
        dead = len(points) - len(alive)
        problems += checks.check_equal(
            "extract rows", stages.get("extract", {}).get("rows"),
            len(alive) * (n_months + 1) + dead)
        got = self.spark.table(self.TABLE).toPandas() if report["ok"] else pd.DataFrame()
        problems += checks.check_table(gen.expected_rows(self.field, alive), got)
        facts = {
            "rows_out": len(got),
            "rows_in": stages.get("extract", {}).get("rows", 0),
            "clean_rows": stages.get("transform", {}).get("rows", 0),
            "bytes_written": dir_bytes(self.work_dir)
            + dir_bytes(os.path.join(self.work, "warehouse", self.TABLE)),
            "fan_out_tasks": sum(1 for f in os.listdir(os.path.join(self.work_dir, "raw.parquet"))
                                 if f.startswith("part-")),
        }
        return problems, facts


# -- interactive_session ------------------------------------------------------

T0 = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)
TTL = dt.timedelta(hours=24)
SHAPES = (FULL_RANGE, ("1958-01-01", "1958-12-31"), ("1956-06-01", "1957-05-31"),
          ("1959-01-01", "1960-12-31"))
VARS_KEY = "_".join(sorted(gen.VARIABLES))


def key_twin(lat: float, lon: float, start: str, end: str) -> str:
    """The benchmark's own twin of the documented key formula."""
    canonical = f"{lat:.6f}_{lon:.6f}_{start}_{end}_{VARS_KEY}"
    return hashlib.sha256(canonical.encode()).hexdigest()[:16]


def naive_utc(t: dt.datetime) -> dt.datetime:
    return t.astimezone(dt.timezone.utc).replace(tzinfo=None)


class InteractiveSession(Workload):
    """One dashboard user. Every 20 requests: 16 series requests at
    Zipf-popular cached cells, one re-request of an expired entry (or a
    cold cell when none has expired), one cold cell, one `nearby` (radius
    1 degree) and one `stats` call. Time advances one logical minute per
    request and is passed to the cache as `now`."""

    name = "interactive_session"
    cycle = 20
    warm_ops = (9, 4, 0)
    N_POPULAR = 40
    N_EXPIRING = 40
    ZIPF_S = 1.1

    def prepare(self) -> None:
        self.reps += 1
        self.ds = self.start_fixture(dead_points=False)
        self.field = self.fixture.field
        self.source = ErddapSource(self.spark, self.ds, POLICY)
        self.rng = np.random.default_rng(self.seed)
        cells = [(y, x) for y in range(gen.N_LAT) for x in range(gen.N_LON)]
        order = self.rng.permutation(len(cells))
        self.popular = [(cells[k], SHAPES[j % len(SHAPES)])
                        for j, k in enumerate(order[: self.N_POPULAR])]
        # The sequence of popularity ranks is one fixed Zipf draw, the same
        # for every seed: seeds change cells and values, not the request mix.
        w = 1.0 / np.arange(1, len(self.popular) + 1) ** self.ZIPF_S
        self.ranks = np.random.default_rng(0).choice(len(self.popular), 100_000, p=w / w.sum())
        self.picks = 0
        self.cold = [cells[k] for k in order[self.N_POPULAR:]]
        self.cold_next = 0
        entries = []
        for cell, shape in self.popular:
            age = dt.timedelta(minutes=int(self.rng.integers(0, 12 * 60)))
            entries.append(self.entry(cell, shape, T0 - age))
        # Cover every one of the 256 key buckets; the first N_EXPIRING of
        # these expire during the run, a few logical minutes apart.
        covered = {e["query_hash"][:2] for e in entries}
        expiring = 0
        for cell in self.cold[::-1]:
            if len(covered) == 256:
                break
            shape = SHAPES[len(entries) % len(SHAPES)]
            k = key_twin(gen.lat_of(cell[0]), gen.lon_of(cell[1]), *shape)
            if k[:2] in covered:
                continue
            covered.add(k[:2])
            if expiring < self.N_EXPIRING:
                expiring += 1
                fetched = T0 - TTL + dt.timedelta(minutes=3 * expiring)
            else:
                fetched = T0 - dt.timedelta(minutes=int(self.rng.integers(0, 12 * 60)))
            entries.append(self.entry(cell, shape, fetched))
        taken = {e["cell"] for e in entries}
        self.cold = [c for c in self.cold if c not in taken]
        self.prefill = entries
        self.model: dict[str, dict] = {}
        self.clock = 0

    def load(self) -> None:
        """Pre-fill the cache with one `put` that creates all 256 buckets."""
        self.cache = ResultCache(self.spark, self.fresh_dir("cache"))
        self.cache.put(self.spark.createDataFrame([self.row(e) for e in self.prefill],
                                                  CACHE_SCHEMA))
        self.model = {e["query_hash"]: e for e in self.prefill}

    def cache_sizes(self) -> dict:
        return {"result_cache_entries": len(self.model),
                "result_cache_bytes": dir_bytes(self.cache.path)}

    def entry(self, cell, shape, fetched: dt.datetime, series=None) -> dict:
        lat, lon = gen.lat_of(cell[0]), gen.lon_of(cell[1])
        if series is None:
            exp = self.expected(cell, shape)
            series = [[t.isoformat(), a, b] for t, a, b in zip(exp["time"].tolist(),
                                                      exp["temperature"].tolist(),
                                                      exp["salinity"].tolist())]
        data_json = json.dumps(series)
        return {"query_hash": key_twin(lat, lon, *shape), "cell": cell, "shape": shape,
                "latitude": lat, "longitude": lon, "data_json": data_json,
                "row_count": len(series), "fetched_at": fetched, "expires_at": fetched + TTL,
                "file_size_bytes": len(data_json.encode())}

    @staticmethod
    def row(e: dict) -> tuple:
        return (e["query_hash"], e["latitude"], e["longitude"], e["shape"][0], e["shape"][1],
                VARS_KEY, e["data_json"], e["row_count"], e["fetched_at"], e["expires_at"],
                e["file_size_bytes"])

    def expected(self, cell, shape) -> dict:
        t0, t1 = month_range(*shape)
        return gen.expected_rows(self.field, [cell], t0, t1)

    def now(self) -> dt.datetime:
        return T0 + dt.timedelta(minutes=self.clock)

    def plan(self, i: int) -> tuple[str, tuple | None, tuple | None]:
        """(kind, cell, shape) of request i; kinds: series, nearby, stats."""
        p = i % self.cycle
        if p in (9, 19):
            return ("nearby" if p == 9 else "stats"), self.pick_popular()[0], None
        if p == 4:
            expired = sorted((e["expires_at"], k) for k, e in self.model.items()
                             if e["expires_at"] <= self.now())
            if expired:
                e = self.model[expired[0][1]]
                return "series", e["cell"], e["shape"]
        if p in (4, 14):
            cell = self.cold[self.cold_next % len(self.cold)]
            self.cold_next += 1
            return "series", cell, SHAPES[self.cold_next % len(SHAPES)]
        return ("series", *self.pick_popular())

    def pick_popular(self):
        self.picks += 1
        return self.popular[int(self.ranks[self.picks - 1])]

    def jitter(self, cell) -> tuple[float, float]:
        """A click inside the cell, never on a half-cell boundary (D3)."""
        dy, dx = self.rng.uniform(-0.1, 0.1, 2)
        return gen.lat_of(cell[0]) + float(dy), gen.lon_of(cell[1]) + float(dx)

    def op(self, i: int, tracer):
        self.clock += 1
        now = self.now()
        now_col = F.lit(now)
        kind, cell, shape = self.plan(i)
        lat, lon = self.jitter(cell)
        out = {"kind": kind, "cell": cell, "shape": shape, "now": now, "lat": lat, "lon": lon}
        if kind == "nearby":
            with tracer.span("cache.nearby"):
                out["rows"] = [(r["query_hash"], r["l1_distance"])
                               for r in self.cache.nearby(lat, lon, 1.0, now_col).collect()]
            return out
        if kind == "stats":
            with tracer.span("cache.stats"):
                out["stats"] = self.cache.stats(now_col).collect()[0].asDict()
            return out
        # series: key on the cell the fetch addresses (meta["actual"]), as
        # the reference does, snapped by the source's own index functions.
        snapped = (lat_index(lat, self.ds.grid), lon_index(lon, self.ds.grid))
        out["snapped"] = snapped
        alat = self.ds.grid.lat_anchor - snapped[0] * self.ds.grid.resolution
        alon = self.ds.grid.lon_anchor + snapped[1] * self.ds.grid.resolution
        with tracer.span("keys.query_key"):
            key = self.spark.range(1).select(
                query_key(F.lit(alat), F.lit(alon), F.lit(shape[0]), F.lit(shape[1]),
                          list(gen.VARIABLES)).alias("k")).first()["k"]
        out["key"] = key
        with tracer.span("cache.get"):
            hit = self.cache.get(key, now_col).collect()
        out["hit_rows"] = [r.asDict() for r in hit]
        if hit:
            out["series"] = [tuple(v) for v in json.loads(hit[0]["data_json"])]
            return out
        with tracer.span("erddap.fetch"):
            cleaned, meta = self.source.fetch(lat, lon, *shape)
        out["meta"] = meta
        with tracer.span("cleaning.collect"):
            series = [(r["time"], r["temperature"], r["salinity"]) for r in cleaned.collect()]
        out["series"] = series
        e = self.entry(cell, shape, now, [[t.isoformat(), a, b] for t, a, b in series])
        e["query_hash"] = key
        out["entry"] = e
        with tracer.span("cache.put"):
            self.cache.put(self.spark.createDataFrame([self.row(e)], CACHE_SCHEMA))
        return out

    def check(self, i: int, out) -> tuple[list[str], dict]:
        now = out["now"]
        live = {k: e for k, e in self.model.items() if e["expires_at"] > now}
        facts = {}
        if out["kind"] == "nearby":
            lat, lon = out["lat"], out["lon"]
            want = sorted((abs(e["latitude"] - lat) + abs(e["longitude"] - lon), k)
                          for k, e in live.items()
                          if abs(e["latitude"] - lat) < 1.0 and abs(e["longitude"] - lon) < 1.0)
            got = [(d, k) for k, d in out["rows"]]
            facts["rows_out"] = len(got)
            return checks.check_equal("nearby", got, want), facts
        if out["kind"] == "stats":
            fetched = [naive_utc(e["fetched_at"]) for e in self.model.values()]
            want = {"total_entries": len(self.model), "active_entries": len(live),
                    "expired_entries": len(self.model) - len(live),
                    "total_bytes": sum(e["file_size_bytes"] for e in self.model.values()),
                    "oldest_fetch": min(fetched), "newest_fetch": max(fetched)}
            facts["rows_out"] = 1
            return checks.check_equal("stats", out["stats"], want), facts
        key, cell, shape = out["key"], out["cell"], out["shape"]
        problems = checks.check_equal("snapped cell", out["snapped"], cell)
        problems += checks.check_equal(
            "query_key", key, key_twin(gen.lat_of(cell[0]), gen.lon_of(cell[1]), *shape))
        hit = bool(out["hit_rows"])
        facts["hit"] = hit
        problems += checks.check_equal("cache hit", hit, key in live)
        exp = self.expected(cell, shape)
        if hit:
            problems += checks.check_equal("hit entries", len(out["hit_rows"]), 1)
            series = [(np.datetime64(t), a, b) for t, a, b in out["series"]]
            problems += checks.check_series(exp, series)
            facts["rows_out"] = len(series)
            return problems, facts
        meta = out["meta"]["actual"]
        problems += checks.check_equal("fetched cell", (meta["lat_index"], meta["lon_index"]), cell)
        problems += checks.check_series(exp, out["series"])
        facts["rows_in"] = len(exp["time"]) + 1  # data rows and the units row
        facts["rows_out"] = len(out["series"])
        versions = [d for d in os.listdir(self.cache.path) if d.startswith("v_")]
        facts["put_bytes"] = dir_bytes(os.path.join(self.cache.path, max(versions)))
        self.model[key] = out["entry"]
        return problems, facts


# -- query_suite ----------------------------------------------------------------

SUITE = ("monthly_climatology", "climatology_anomalies", "haversine_nearby",
         "grid_hotspot_clusters", "grid_snap", "cache_key_hash", "cache_upsert_keep_latest",
         "cache_ttl_stats", "q1_pricing", "rfm_segmentation", "revenue_by_nation",
         "monthly_series", "stream_tumbling_counts")


class QuerySuite(Workload):
    """Registered queries round robin over seeded sf0.1 tables; one
    operation is `fn(spark, sf)` then `collect()`. A run measures whole
    pairs of rounds, so every query is measured at least twice per run."""

    name = "query_suite"
    cycle = 2 * len(SUITE)
    warm_ops = tuple(range(len(SUITE)))
    SF = 0.1

    def prepare(self) -> None:
        self.reps += 1
        self.sf_dir = self.fresh_dir("sf")
        self.table_rows = gen.write_tables(self.sf_dir, self.seed, self.SF)
        self.registry = load_all()
        self.oracle: dict[str, pd.DataFrame] = {}

    def op(self, i: int, tracer):
        name = SUITE[i % len(SUITE)]
        fn = self.registry[name].fn
        with tracer.span("queries.build"):
            df = fn(self.spark, self.sf_dir)
        with tracer.span("queries.action"):
            rows = df.collect()
        return name, df.columns, rows

    def check(self, i: int, out) -> tuple[list[str], dict]:
        name, columns, rows = out
        if name not in self.oracle:
            import duckdb

            con = duckdb.connect()
            for t in self.table_rows:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                            f"read_parquet('{os.path.join(self.sf_dir, t + '.parquet')}')")
            self.oracle[name] = con.execute(self.registry[name].oracle).df()
            con.close()
        got = pd.DataFrame([tuple(r) for r in rows], columns=columns)
        problems = [f"{name}: {p}" for p in checks.compare_frames(got, self.oracle[name])]
        return problems, {"query": name, "rows_out": len(rows)}

    def cache_sizes(self) -> dict:
        return {"scan_cache_entries": len(catalog._SCAN_CACHE),
                "scan_cache_table_bytes": dir_bytes(self.sf_dir)}


WORKLOADS = {w.name: w for w in (EtlBackfill, InteractiveSession, QuerySuite)}
