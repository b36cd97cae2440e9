import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import stats  # noqa: E402


def test_small_samples_report_only_the_median():
    assert stats.tail([3.0, 1.0, 2.0]) == {"n": 3, "p50": 2.0}
    assert stats.tail(list(range(99))) == {"n": 99, "p50": 49}


def test_highest_percentile_with_ten_samples_beyond():
    xs = [float(i) for i in range(1, 101)]      # 1..100
    assert stats.tail(xs) == {"n": 100, "p50": 50.5, "p90": 90.0}
    xs = [float(i) for i in range(1, 1001)]
    assert stats.tail(xs)["p99"] == 990.0
    assert "p99.9" not in stats.tail(xs)
    xs = [float(i) for i in range(1, 10001)]
    assert stats.tail(xs)["p99.9"] == 9990.0    # exactly 10 beyond


def test_empty():
    assert stats.tail([]) == {"n": 0, "p50": None}
