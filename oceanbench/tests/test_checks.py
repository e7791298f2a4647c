"""Every check has teeth: a deliberately corrupted output is flagged."""

from __future__ import annotations

import numpy as np
import pandas as pd

from oceanbench import checks, gen

FIELD = gen.OceanField(21)
BAND = [(y, x) for y in range(7, 9) for x in range(0, 61, 10)]


def loaded(points=BAND) -> pd.DataFrame:
    """What a correct load of `points` reads back as, in scrambled order."""
    exp = gen.expected_rows(FIELD, points)
    df = pd.DataFrame({c: exp[c] for c in checks.CLEAN_COLUMNS})
    return df.sample(frac=1.0, random_state=0).reset_index(drop=True)


def test_correct_table_passes():
    assert checks.check_table(gen.expected_rows(FIELD, BAND), loaded()) == []


def test_one_value_changed_is_flagged():
    got = loaded()
    got.loc[17, "salinity"] = np.nextafter(got.loc[17, "salinity"], 99.0)
    assert any("salinity" in p for p in checks.check_table(gen.expected_rows(FIELD, BAND), got))


def test_one_row_dropped_is_flagged():
    got = loaded().drop(index=3)
    assert checks.check_table(gen.expected_rows(FIELD, BAND), got)


def test_stale_table_is_flagged():
    """The previous band's rows left in place (same size, other cells)."""
    previous = [(y - 2, x) for y, x in BAND]
    assert checks.check_table(gen.expected_rows(FIELD, BAND), loaded(previous))


def test_time_shift_is_flagged():
    got = loaded()
    got["time"] = got["time"] + np.timedelta64(1, "D")
    assert any("time" in p for p in checks.check_table(gen.expected_rows(FIELD, BAND), got))


def series_rows(exp):
    return list(zip(exp["time"].tolist(), exp["temperature"].tolist(), exp["salinity"].tolist()))


def test_series_checks():
    exp = gen.expected_rows(FIELD, [(30, 40)], 0, 11)
    good = series_rows(exp)
    assert checks.check_series(exp, good) == []
    changed = list(good)
    changed[4] = (changed[4][0], changed[4][1] + 0.001, changed[4][2])
    assert checks.check_series(exp, changed)
    assert checks.check_series(exp, good[:-1])
    stale = series_rows(gen.expected_rows(FIELD, [(30, 40)], 12, 23))
    assert checks.check_series(exp, stale)


def oracle_frame():
    return pd.DataFrame({"k": [1, 2, 3], "v": [0.1, 0.2, 0.30000000000000004],
                         "d": pd.to_datetime(["2024-01-01", "2024-01-02", "2024-01-03"])})


def test_compare_frames_order_insensitive_and_exact():
    o = oracle_frame()
    assert checks.compare_frames(o.iloc[::-1].reset_index(drop=True), o) == []
    changed = o.copy()
    changed.loc[2, "v"] = 0.3
    assert checks.compare_frames(changed, o)
    assert checks.compare_frames(o.drop(index=1), o)
    assert checks.compare_frames(o.rename(columns={"v": "w"}), o)


def test_compare_frames_decimal_objects_against_float():
    from decimal import Decimal

    o = pd.DataFrame({"s": [1.25, 2.5]})
    assert checks.compare_frames(pd.DataFrame({"s": [Decimal("2.50"), Decimal("1.25")]}), o) == []
    assert checks.compare_frames(pd.DataFrame({"s": [Decimal("2.51"), Decimal("1.25")]}), o)


def test_check_equal_reports_both_sides():
    assert checks.check_equal("stats", {"a": 1}, {"a": 1}) == []
    assert "expected" in checks.check_equal("stats", {"a": 1}, {"a": 2})[0]
