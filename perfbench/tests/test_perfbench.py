"""Unit tests of the benchmark's own helpers (no Spark session needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

from decimal import Decimal
from pathlib import Path

import pytest

from perfbench import stats
from perfbench.oracle import Result, compare, load_check_oracle
from perfbench.run import per_layer_values
from perfbench.tracing import Span, Tracer, self_time, self_time_by_layer

ROOT = Path(__file__).resolve().parents[2]


def test_percentile_interpolates():
    xs = [4.0, 1.0, 3.0, 2.0]
    assert stats.percentile(xs, 0) == 1.0
    assert stats.percentile(xs, 100) == 4.0
    assert stats.median(xs) == 2.5
    assert stats.percentile(xs, 75) == pytest.approx(3.25)
    assert stats.median([7.0]) == 7.0
    with pytest.raises(ValueError):
        stats.percentile([], 50)
    with pytest.raises(ValueError):
        stats.percentile(xs, 101)


@pytest.mark.parametrize("n, want", [
    (0, None), (19, None), (20, 50.0), (39, 50.0), (40, 75.0), (99, 75.0),
    (100, 90.0), (200, 95.0), (1000, 99.0), (9999, 99.0), (10000, 99.9),
])
def test_tail_percentile_keeps_ten_samples_beyond(n, want):
    assert stats.tail_percentile(n) == want
    if want is not None:
        assert round(n * (100 - want), 6) >= 1000


def _span(i, parent, layer, start, end):
    return Span(i, parent, "run", layer, f"s{i}", start, end)


def test_self_time_subtracts_union_of_children():
    parent = _span(0, None, "bench", 0.0, 10.0)
    kids = [_span(1, 0, "a", 1.0, 3.0), _span(2, 0, "a", 2.0, 4.0),  # overlap
            _span(3, 0, "b", 8.0, 12.0)]  # runs past the parent's end
    assert self_time(parent, kids) == pytest.approx(10.0 - 3.0 - 2.0)
    assert self_time(parent, []) == pytest.approx(10.0)


def test_self_time_by_layer_sums_each_layer():
    spans = [_span(0, None, "bench", 0.0, 10.0),
             _span(1, 0, "queries", 0.0, 4.0),
             _span(2, 0, "spark", 4.0, 9.0),
             _span(3, 2, "queries", 5.0, 6.0)]
    got = self_time_by_layer(spans)
    assert got == pytest.approx({"bench": 1.0, "queries": 5.0, "spark": 4.0})


def test_tracer_nests_and_disabled_records_nothing():
    t = Tracer("r1")
    with t.span("bench", "outer"):
        with t.span("spark", "inner"):
            pass
    outer, inner = t.spans
    assert (outer.parent_id, inner.parent_id) == (None, outer.span_id)
    assert inner.run_id == "r1" and outer.start <= inner.start <= inner.end <= outer.end
    off = Tracer("r2", enabled=False)
    with off.span("bench", "x"):
        pass
    assert off.spans == []


@pytest.fixture(scope="module")
def rows_canon():
    return load_check_oracle(ROOT).rows_canon


def _res(cols, types, rows):
    return Result(cols, dict(zip(cols, types)), rows)


def test_compare_accepts_reordered_rows_and_decimal_vs_float(rows_canon):
    got = _res(["k", "v"], ["int", "float"], [(2, 0.30000000000000004), (1, 1.5)])
    want = _res(["v", "k"], ["float", "int"], [(Decimal("1.5"), 1), (0.3, 2)])
    want.type_classes = {"k": "int", "v": "float"}
    assert compare(got, want, rows_canon) == []


def test_compare_reports_each_kind_of_mismatch(rows_canon):
    base = _res(["k", "v"], ["int", "float"], [(1, 1.0), (2, 2.0)])
    assert "columns" in compare(_res(["k", "w"], ["int", "float"], base.rows), base, rows_canon)[0]
    assert "type classes" in compare(_res(["k", "v"], ["int", "int"], base.rows), base, rows_canon)[0]
    assert "row count" in compare(_res(["k", "v"], ["int", "float"], base.rows[:1]), base, rows_canon)[0]
    got = _res(["k", "v"], ["int", "float"], [(1, 1.0), (2, 2.5)])
    assert "values differ" in compare(got, base, rows_canon)[0]


def test_per_layer_values_zero_only_for_layers_not_called():
    wanted = [{"name": n} for n in ("queries.build_s", "load.load_dataset_s", "self.load_s")]
    got = per_layer_values("corpus", {"queries.build_s": 1.5}, wanted)
    assert got == {"queries.build_s": 1.5, "load.load_dataset_s": 0.0, "self.load_s": 0.0}
    with pytest.raises(RuntimeError, match="missing \\['queries.build_s'\\]"):
        per_layer_values("corpus", {}, wanted)
    with pytest.raises(RuntimeError, match="not called \\['load.load_dataset_s'\\]"):
        per_layer_values("corpus", {"queries.build_s": 1.5, "load.load_dataset_s": 2.0}, wanted)
