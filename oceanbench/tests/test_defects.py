"""Known program defects on the ETL path, pinned as strict xfails.

Each test asserts the reference behaviour. While the defect stands it
reports as xfailed; once it is fixed the test passes and, being strict,
fails the run, so the pin is removed and the benchmark widened in the
same change (see oceanbench/NOTES.md).
"""

from __future__ import annotations

import pytest
from pyspark.errors import NumberFormatException

from oceanbench import gen
from oceanbench.fixture import DATASET_ID


@pytest.mark.xfail(strict=True, raises=NumberFormatException,
                   reason="D1: drop_units_row filters on req_lat, a double, "
                   "and the cast of 'UTC' raises under ANSI")
def test_d1_run_pipeline_accepts_fetch_many_output(spark, fixture_server, tmp_path):
    from ocean_data_pipeline_spark.plans.pipeline import run_pipeline
    from ocean_data_pipeline_spark.sources.erddap import ErddapDataset, FetchPolicy, fetch_many

    _f, base = fixture_server(seed=5)
    ds = ErddapDataset(base_url=base, dataset_id=DATASET_ID)
    requests = spark.createDataFrame(
        [(gen.lat_of(y), gen.lon_of(3), "1955-01-01", "1955-12-31") for y in (1, 2)],
        "lat double, lon double, start_date string, end_date string")
    raw = fetch_many(requests, ds, FetchPolicy(min_interval_s=0.0, retry_delay_s=0.01),
                     parallelism=2)
    result = run_pipeline(spark, raw, str(tmp_path / "work"), "d1_table")  # raises today
    assert result.ok
    assert result.report()["stages"]["load"]["rows"] == 2 * 12


@pytest.mark.xfail(strict=True, raises=AssertionError,
                   reason="D2: try_cast keeps ERDDAP 'NaN' as NaN, so land "
                   "rows survive cleaning and validate_clean fails in_range")
def test_d2_land_cells_are_dropped_not_loaded(spark, tmp_path):
    from ocean_data_pipeline_spark.plans.pipeline import run_pipeline

    header = ["time", "depth", "latitude", "longitude", "Temperature", "Salinity"]
    rows = [tuple(gen.UNITS[c] for c in header)]
    for t in range(12):
        rows.append((gen.time_text(t), "0.0", "40.00", "-70.00", "12.500", "35.100"))
        rows.append((gen.time_text(t), "0.0", "40.25", "-70.00", "NaN", "NaN"))  # land
    raw = spark.createDataFrame(rows, header)
    result = run_pipeline(spark, raw, str(tmp_path / "work"), "d2_table")
    # Reference: to_numeric(errors="coerce") then dropna drops the land rows.
    assert result.ok
    assert result.report()["stages"]["load"]["rows"] == 12


@pytest.mark.xfail(strict=True, raises=AssertionError,
                   reason="D3: driver-side round() ties to even, column-side "
                   "F.round ties half up")
def test_d3_half_cell_ties_snap_the_same_on_both_paths(spark):
    from pyspark.sql import functions as F

    from ocean_data_pipeline_spark.functions.grid import lat_to_index, lon_to_index
    from ocean_data_pipeline_spark.sources.erddap import lat_index, lon_index

    lat, lon = 54.875, -84.875
    row = spark.range(1).select(lat_to_index(F.lit(lat)).alias("y"),
                                lon_to_index(F.lit(lon)).alias("x")).first()
    assert (lat_index(lat), lon_index(lon)) == (row["y"], row["x"])
