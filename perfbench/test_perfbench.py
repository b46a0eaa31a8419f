"""Tests of the benchmark's own code; no Spark session is started.

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import run  # noqa: E402
import spans  # noqa: E402


def test_generators_are_deterministic_per_seed():
    a, ta = gen.ohlcv_bars(7, 2, 360)
    b, tb = gen.ohlcv_bars(7, 2, 360)
    c, _ = gen.ohlcv_bars(8, 2, 360)
    assert a.equals(b) and ta == tb
    assert not a.equals(c)

    h1, b1, l1 = gen.lake_batches(7, 2, 120, 10, 3)
    h2, b2, l2 = gen.lake_batches(7, 2, 120, 10, 3)
    h3, _, _ = gen.lake_batches(8, 2, 120, 10, 3)
    assert h1.equals(h2) and all(x.equals(y) for x, y in zip(b1, b2)) and l1 == l2
    assert not h1.equals(h3)


def test_planted_counts_match_the_table():
    table, truth = gen.ohlcv_bars(3, 2, 360)
    df = table.to_pandas()
    for sym, want in truth.items():
        part = df[df.symbol == sym]
        assert len(part) == want["rows"]
        assert part.duplicated(["timestamp"]).sum() == gen.PER_KIND
        assert part[["open", "high", "low", "close", "volume"]].isna().sum().sum() == gen.PER_KIND


def test_late_corrections_rewrite_existing_keys():
    history, batches, late = gen.lake_batches(5, 3, 120, 10, 2)
    seen = set(zip(history.column("timestamp").to_pylist(), history.column("symbol").to_pylist()))
    for batch, n_late in zip(batches, late):
        keys = list(zip(batch.column("timestamp").to_pylist(), batch.column("symbol").to_pylist()))
        assert sum(k in seen for k in keys) == n_late
        seen.update(keys)


def test_self_time_subtracts_the_union_of_children():
    s = [
        spans.Span(0, "op", None, 0.0, 10.0),
        spans.Span(1, "a", 0, 1.0, 4.0),
        spans.Span(2, "b", 0, 3.0, 6.0),  # overlaps a: union is 1..6
        spans.Span(3, "c", 1, 2.0, 3.0),
        spans.Span(4, "d", 0, 8.0, 9.0),
    ]
    got = spans.self_times(s)
    assert got == {0: 10.0 - 6.0, 1: 3.0 - 1.0, 2: 3.0, 3: 1.0, 4: 1.0}
    assert spans.covered([(0, 1), (2, 3), (2.5, 4)]) == 3.0
    assert spans.covered([]) == 0.0


def test_tracer_records_nesting_and_restores():
    clock = iter(range(100)).__next__
    tr = spans.Tracer(clock=clock)

    class M:
        @staticmethod
        def inner():
            return 1

        @staticmethod
        def outer():
            return M.inner() + 1

    plain = M.outer
    tr.install(M, "inner", "inner")
    tr.install(M, "outer", "outer")
    assert M.outer() == 2
    outer, inner = tr.spans
    assert (outer.name, outer.parent, inner.name, inner.parent) == ("outer", None, "inner", 0)
    assert outer.start < inner.start < inner.end < outer.end
    tr.uninstall()
    assert M.outer is plain


def test_metric_names_match_benchmark_json():
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    assert {w["name"] for w in spec["workloads"]} == set(run.WORKLOADS)
