"""Tests for the benchmark's pure-Python parts.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import math

import numpy as np
import pytest

from perfbench import checks, sparkstats, stats
from perfbench.spans import Tracer


def test_percentile_interpolates_and_counts_samples():
    assert stats.percentile([3, 1, 2], 50) == (2.0, 3)
    assert stats.percentile([1, 2, 3, 4], 90) == (pytest.approx(3.7), 4)
    assert stats.percentile([5.0], 90) == (5.0, 1)
    with pytest.raises(ValueError):
        stats.percentile([], 50)
    with pytest.raises(ValueError):
        stats.percentile([1.0], 101)


def test_geomean():
    assert stats.geomean([1, 4, 16]) == pytest.approx(4.0)
    assert stats.geomean([2.5]) == pytest.approx(2.5)
    with pytest.raises(ValueError):
        stats.geomean([1.0, 0.0])
    with pytest.raises(ValueError):
        stats.geomean([])


def test_quartile_spread_matches_statistics_quantiles():
    vals = [10, 11, 12, 13, 14, 15, 16, 17, 18, 19]
    q1, q2, q3 = 11.75, 14.5, 17.25  # the default "exclusive" method
    assert stats.quartile_spread(vals) == pytest.approx((q3 - q1) / q2)


def test_lag_counts_from_scheduled_arrival_and_reports_missing():
    due = {"chunk=0000": 10.0, "chunk=0001": 10.5, "chunk=0002": 11.0}
    done = {"chunk=0000": 10.8, "chunk=0001": 11.9}
    lags, missing = stats.arrival_lags(due, done)
    # a stall delays the later file: its lag runs from when it was due,
    # not from when the generator got around to it
    assert lags == pytest.approx([0.8, 1.4])
    assert missing == ["chunk=0002"]


def test_error_rate_accounting():
    assert stats.error_rate(43, 0) == 0.0
    assert stats.error_rate(40, 2) == pytest.approx(0.05)
    with pytest.raises(ValueError):
        stats.error_rate(0, 0)
    with pytest.raises(ValueError):
        stats.error_rate(3, 4)


def test_span_self_time_subtracts_covered_child_time():
    spans = [
        {"id": 0, "name": "plans.q1", "parent": None, "start": 0.0, "end": 10.0},
        {"id": 1, "name": "plans.build", "parent": 0, "start": 1.0, "end": 3.0},
        {"id": 2, "name": "plans.collect", "parent": 0, "start": 3.0, "end": 9.0},
        # overlapping children (a callback thread) are counted once
        {"id": 3, "name": "streaming.sink_write", "parent": 2, "start": 4.0, "end": 6.0},
        {"id": 4, "name": "streaming.sink_write", "parent": 2, "start": 5.0, "end": 7.0},
    ]
    own = stats.span_self_times(spans)
    assert own == pytest.approx({0: 2.0, 1: 2.0, 2: 3.0, 3: 2.0, 4: 2.0})
    assert stats.layer_self_times(spans) == pytest.approx({"plans": 7.0, "streaming": 4.0})


def test_covered_seconds_clips_and_merges():
    assert stats.covered_seconds([(0, 2), (1, 3), (5, 6)], 1, 5.5) == pytest.approx(2.5)
    assert stats.covered_seconds([], 0, 1) == 0.0


def test_tracer_records_parents_and_is_inert_when_off():
    tr = Tracer(True, "run-1")
    with tr.span("operators.fixpoint.bsp.live_vars"):
        with tr.span("plans.collect"):
            pass
    outer, inner = tr.finished()
    assert inner["parent"] == outer["id"] and outer["parent"] is None
    assert {outer["run"], inner["run"]} == {"run-1"}
    assert tr.total("plans.collect") >= 0.0
    off = Tracer(False, "run-2")
    with off.span("plans.collect"):
        pass
    assert off.finished() == []


def test_parse_formatted_sql_metrics():
    assert sparkstats.parse_metric_value("114.5 KiB", "size") == pytest.approx(114.5 * 1024)
    assert sparkstats.parse_metric_value("6,000", "sum") == 6000.0
    assert sparkstats.parse_metric_value("40 ms", "time") == pytest.approx(0.04)
    multi = "total (min, med, max (stageId: taskId))\n3.2 s (0.5 s, 0.8 s, 1.1 s (stage 3.0: task 7))"
    assert sparkstats.parse_metric_value(multi, "time") == pytest.approx(3.2)
    text = "HashMap(12 -> 6,000, 13 -> total (min, med, max (stageId: taskId))\n1.0 s (0.1 s, 0.2 s, 0.5 s (stage 1.0: task 2)))"
    parts = sparkstats._split_metric_map(text)
    assert parts["12"] == "6,000"
    assert sparkstats.parse_metric_value(parts["13"], "time") == pytest.approx(1.0)


def test_featurize_matches_per_row_numpy():
    rng = np.random.default_rng(0)
    lens = rng.integers(0, 40, 50)
    lens[[0, -1]] = 0
    row_off = np.zeros(len(lens) + 1, dtype=np.int64)
    np.cumsum(lens, out=row_off[1:])
    flat = rng.integers(0, 30, int(lens.sum())).astype(np.int32)
    top, ck = checks.featurize(flat, row_off)
    for i in range(len(lens)):
        a = flat[row_off[i] : row_off[i + 1]].astype(np.int64)
        assert top[i] == (np.bincount(a).argmax() if a.size else -1)
        assert ck[i] == int((a * np.arange(1, a.size + 1)).sum() % (1 << 40))
    assert not math.isnan(float(ck.sum()))


def test_rounding_tie_is_accepted_only_at_a_half_unit():
    cols = ["k", "revenue"]
    got = [(1, 10.57), (2, 3.0)]
    want = [(2, 3.0), (1, 10.56)]
    # the reference's unrounded sum sits on the half cent, within float error
    assert checks.rounding_ties(cols, got, cols, want, [3.0, 10.565000000000001]) == [(10.57, 10.56)]
    # a unrounded value away from the half cent: a real difference
    assert checks.rounding_ties(cols, got, cols, want, [3.0, 10.561]) is None
    # two cents apart is never a tie
    assert checks.rounding_ties(cols, [(1, 10.58), (2, 3.0)], cols, want, [10.57]) is None
    # a difference outside a float column is never a tie
    assert checks.rounding_ties(cols, [(1, 10.56), (3, 3.0)], cols, want, [10.565]) is None
    assert checks.rounding_ties(cols, got[:1], cols, want, [10.565]) is None


def test_unrounded_values_strips_round_calls():
    import duckdb

    con = duckdb.connect()
    sql = "SELECT round(sum(x), 2) AS s, ROUND (avg(x), 1) AS a FROM (VALUES (1.005::DOUBLE), (2.0)) t(x)"
    assert checks.unrounded_values(con, sql) == pytest.approx([1.5025, 3.005])
    assert checks.unrounded_values(con, "SELECT nope FROM nowhere") == []
