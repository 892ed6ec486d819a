"""tools/gate.py's measurement protocol: the result hash, the floor and
the slope helper. Stand-in queries and a stand-in clock; no Spark."""

from __future__ import annotations

import itertools
import math

from tools import gate


def test_table_hash_ignores_row_and_column_order():
    rows = [(1, "a", 2.5), (2, "b", None)]
    h = gate.table_hash(rows, ["id", "s", "x"])
    assert gate.table_hash(list(reversed(rows)), ["id", "s", "x"]) == h
    swapped = [(x, i, s) for i, s, x in rows]
    assert gate.table_hash(swapped, ["x", "id", "s"]) == h
    assert gate.table_hash([(1, "a", 2.5)], ["id", "s", "x"]) != h


def test_norm_value_normalises_engine_differences():
    assert gate.norm_value(None) == "NULL"
    assert gate.norm_value(True) == "1" and gate.norm_value(False) == "0"
    assert gate.norm_value(math.nan) == "NaN"
    # equal to 9 digits -> one spelling
    assert gate.norm_value(0.1 + 0.2) == gate.norm_value(0.3)
    assert gate.norm_value(1.0000000001) == gate.norm_value(1.0)
    assert gate.norm_value(1.00000001) != gate.norm_value(1.0)
    assert gate.table_hash([(True, 0.1 + 0.2)], ["b", "x"]) == gate.table_hash(
        [(1, 0.3)], ["b", "x"]
    )


def test_floor_warms_once_and_reports_min_and_rows(monkeypatch):
    # every timed run reads the clock twice; run k lasts durations[k]
    durations = [5.0, 2.0, 3.0]
    ticks = itertools.accumulate(
        itertools.chain.from_iterable((0.0, d) for d in durations)
    )
    monkeypatch.setattr(gate, "clock", lambda: next(ticks))
    calls = []

    class Frame:
        def count(self):
            return 7

    def fn(spark, sf_dir):
        calls.append((spark, sf_dir))
        return Frame()

    best, rows = gate.floor(fn, "spark", "/sf", runs=3, warm=True)
    assert len(calls) == 4  # one warm run + three timed
    assert set(calls) == {("spark", "/sf")}
    assert best == 2.0
    assert rows == 7


def test_floor_without_warm_runs_exactly_runs_times(monkeypatch):
    ticks = itertools.count()
    monkeypatch.setattr(gate, "clock", lambda: next(ticks))
    calls = []

    class Frame:
        def count(self):
            return 0

    def fn(spark, sf_dir):
        calls.append(1)
        return Frame()

    gate.floor(fn, None, "/sf", runs=2, warm=False)
    assert len(calls) == 2


def test_slope_is_one_for_linear_points():
    pts = [(10, 0.5), (100, 5.0), (1000, 50.0)]
    got = gate.slopes(pts)
    assert [(a, b) for a, b, _ in got] == [(10, 100), (100, 1000)]
    assert all(math.isclose(s, 1.0) for _, _, s in got)
    assert math.isclose(gate.slopes([(10, 3.0), (100, 3.0)])[0][2], 0.0)
