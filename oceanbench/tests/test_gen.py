"""Generator and fixture: hyperslab parsing, seeded determinism, faults."""

from __future__ import annotations

import time
import urllib.error
import urllib.request

import numpy as np
import pytest

from oceanbench import gen
from oceanbench.fixture import DATASET_ID


def slab_url(base, t0, t1, d, y, x, variables=gen.VARIABLES):
    q = ",".join(f"{v}[{t0}:{t1}][{d}][{y}][{x}]" for v in variables)
    return f"{base}/griddap/{DATASET_ID}.csv?{q}"


def test_parse_hyperslab_two_variables():
    s = gen.parse_hyperslab("Temperature[0:71][106][3][5],Salinity[0:71][106][3][5]")
    assert s == gen.Hyperslab(("Temperature", "Salinity"), 0, 71, 106, 3, 5)


def test_parse_hyperslab_single_index_time():
    s = gen.parse_hyperslab("Salinity[7][106][90][60]")
    assert (s.variables, s.t0, s.t1, s.y, s.x) == (("Salinity",), 7, 7, 90, 60)


@pytest.mark.parametrize("query", [
    "Temperature[0:71][106][3]",                                  # three dims
    "Oxygen[0:71][106][3][5]",                                    # unknown variable
    "Temperature[0:72][106][3][5]",                               # month out of range
    "Temperature[0:71][106][91][5]",                              # lat out of range
    "Temperature[0:71][106][3:4][5]",                             # more than one cell
    "Temperature[5:4][106][3][5]",                                # reversed range
    "Temperature[0:71][106][3][5],Salinity[0:70][106][3][5]",     # slabs disagree
])
def test_parse_hyperslab_rejects(query):
    with pytest.raises(gen.BadRequest):
        gen.parse_hyperslab(query)


def test_csv_body_shape():
    slab = gen.parse_hyperslab("Temperature[0:2][106][0][0],Salinity[0:2][106][0][0]")
    lines = gen.csv_body(gen.OceanField(1), slab).splitlines()
    assert lines[0] == "time,depth,latitude,longitude,Temperature,Salinity"
    assert lines[1] == "UTC,m,degrees_north,degrees_east,degree_C,PSU"
    assert len(lines) == 2 + 3
    assert lines[2].startswith("1955-01-16T00:00:00Z,0.0,55.00,-85.00,")


def test_values_byte_identical_for_a_seed():
    slab = gen.parse_hyperslab("Temperature[0:71][106][40][30],Salinity[0:71][106][40][30]")
    a = gen.csv_body(gen.OceanField(11), slab)
    assert a == gen.csv_body(gen.OceanField(11), slab)
    assert a != gen.csv_body(gen.OceanField(12), slab)


def test_tables_byte_identical_for_a_seed(tmp_path):
    gen.write_tables(str(tmp_path / "a"), 5, sf=0.001)
    gen.write_tables(str(tmp_path / "b"), 5, sf=0.001)
    for t in ("lineitem", "orders", "events"):
        assert (tmp_path / "a" / f"{t}.parquet").read_bytes() == \
            (tmp_path / "b" / f"{t}.parquet").read_bytes()


def test_field_within_plausibility_bounds_everywhere():
    t, y, x = np.meshgrid(np.arange(gen.N_MONTHS), np.arange(gen.N_LAT), np.arange(gen.N_LON))
    temp, sal = gen.OceanField(2).milli(t.ravel(), gen.SURFACE_DEPTH_INDEX, y.ravel(), x.ravel())
    assert temp.min() > 0 and temp.max() < 35_000  # text form assumes non-negative
    assert sal.min() > 0 and sal.max() < 45_000


def test_expected_rows_match_csv_text():
    field = gen.OceanField(4)
    exp = gen.expected_rows(field, [(10, 20)], 3, 5)
    slab = gen.parse_hyperslab("Temperature[3:5][106][10][20],Salinity[3:5][106][10][20]")
    rows = [ln.split(",") for ln in gen.csv_body(field, slab).splitlines()[2:]]
    assert [float(r[4]) for r in rows] == exp["temperature"].tolist()
    assert [float(r[5]) for r in rows] == exp["salinity"].tolist()
    assert [float(r[2]) for r in rows] == exp["latitude"].tolist()


def test_fault_sets_deterministic_and_sized():
    urls = [f"/griddap/x.csv?Temperature[0:71][106][{y}][{x}]"
            for y in range(91) for x in range(61)]
    a = [u for u in urls if gen.is_transient(9, u)]
    assert a == [u for u in urls if gen.is_transient(9, u)]
    assert a != [u for u in urls if gen.is_transient(10, u)]
    assert 0.015 < len(a) / len(urls) < 0.045
    dead = [(y, x) for y in range(91) for x in range(61) if gen.is_dead_point(9, y, x)]
    assert dead == [(y, x) for y in range(91) for x in range(61) if gen.is_dead_point(9, y, x)]
    assert 0.004 < len(dead) / len(urls) < 0.02


def _get(url):
    try:
        with urllib.request.urlopen(url, timeout=10) as r:
            return r.status, r.read().decode()
    except urllib.error.HTTPError as e:
        return e.code, ""


def test_fixture_transient_then_ok(fixture_server):
    f, base = fixture_server(seed=3)
    url = next(u for y in range(91) for x in range(61)
               for u in [slab_url(base, 0, 71, 106, y, x)]
               if gen.is_transient(3, u[len(base):]))
    assert _get(url)[0] == 503
    status, body = _get(url)
    assert status == 200 and body.count("\n") == 2 + 72
    deadline = time.monotonic() + 5  # a request is logged just after its reply
    while len(f.log) < 2 and time.monotonic() < deadline:
        time.sleep(0.01)
    assert [r.status for r in f.log] == [503, 200]


def test_fixture_dead_points_only_when_enabled(fixture_server):
    y, x = next((y, x) for y in range(91) for x in range(61) if gen.is_dead_point(3, y, x))
    _f, base = fixture_server(seed=3, dead_points=True)
    for _ in range(2):
        assert _get(slab_url(base, 0, 0, 106, y, x))[0] == 404
    _f, base = fixture_server(seed=3, dead_points=False)
    statuses = {_get(slab_url(base, 0, 0, 106, y, x))[0] for _ in range(2)}
    assert 200 in statuses and 404 not in statuses


def test_fixture_rejects_bad_slab(fixture_server):
    _f, base = fixture_server()
    assert _get(f"{base}/griddap/{DATASET_ID}.csv?Temperature[0:99][106][0][0]")[0] == 400
    assert _get(f"{base}/griddap/other.csv?Temperature[0:1][106][0][0]")[0] == 404
