"""Unit tests for the benchmark's summary math.

Run with ``python3 -m pytest perfbench/tests -q`` from the repo root.
"""

import os
import statistics
import sys
import time

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from run import cpu_seconds, pass_metrics  # noqa: E402
from stats import fail_ratio, percentile, quartile_spread  # noqa: E402


def test_percentile_endpoints_and_median():
    xs = [5.0, 1.0, 3.0, 2.0, 4.0]
    assert percentile(xs, 0) == 1.0
    assert percentile(xs, 100) == 5.0
    assert percentile(xs, 50) == statistics.median(xs)


def test_percentile_interpolates_like_numpy():
    xs = [1.0, 2.0, 3.0, 4.0]
    # numpy.percentile([1, 2, 3, 4], 75) == 3.25
    assert percentile(xs, 75) == pytest.approx(3.25)
    assert percentile(xs, 50) == pytest.approx(2.5)
    assert percentile([7.0], 75) == 7.0


def test_percentile_rejects_bad_input():
    with pytest.raises(ValueError):
        percentile([], 50)
    with pytest.raises(ValueError):
        percentile([1.0], 101)


def test_quartile_spread_matches_statistics_quantiles():
    xs = [10.0, 11.0, 9.0, 10.5, 12.0, 9.5, 10.2, 10.1, 9.9, 11.5]
    q1, med, q3 = statistics.quantiles(xs, n=4)
    assert quartile_spread(xs) == pytest.approx((q3 - q1) / med)


def test_quartile_spread_constant_and_single():
    assert quartile_spread([3.0, 3.0, 3.0, 3.0]) == 0.0
    assert quartile_spread([4.2]) == 0.0
    with pytest.raises(ValueError):
        quartile_spread([])


def test_quartile_spread_scale_free():
    xs = [1.0, 2.0, 3.0, 4.0, 5.0]
    assert quartile_spread(xs) == pytest.approx(quartile_spread([x * 1000 for x in xs]))


def test_fail_ratio():
    assert fail_ratio(0, 10) == 0.0
    assert fail_ratio(1, 4) == 0.25
    assert fail_ratio(3, 3) == 1.0
    with pytest.raises(ValueError):
        fail_ratio(0, 0)
    with pytest.raises(ValueError):
        fail_ratio(5, 4)


def test_cpu_seconds_counts_busy_time():
    c0 = cpu_seconds()
    t0 = time.process_time()
    while time.process_time() - t0 < 0.2:
        pass
    assert cpu_seconds() - c0 >= 0.15


def _elt_pass(cpus, walls, landed):
    ops = [{"cpu": c, "latency": w} for c, w in zip(cpus, walls)]
    return {"ops": ops, "cpu": sum(cpus), "wall": sum(walls), "landed_rows": landed,
            "output_bytes": 50, "csv_bytes": 100}


def test_pass_metrics_cpu_and_wall():
    passes = [_elt_pass([1.0, 3.0], [0.5, 1.5], 40), _elt_pass([2.0, 4.0], [1.0, 2.0], 60)]
    m = pass_metrics(passes, "elt")
    assert m["pass_cpu_s"] == 5.0  # median of 4 and 6
    assert m["op_cpu_p50_s"] == 2.5
    assert m["op_cpu_p75_s"] == pytest.approx(3.25)
    assert m["rows_per_cpu_s"] == 10.0  # 40/4 and 60/6
    assert m["wall.pass_s"] == 2.5
    assert m["wall.rows_per_s"] == 20.0
    assert m["write_amp"] == 0.5
