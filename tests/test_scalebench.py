"""Unit pins for scalebench's pure parts: the warm-up and best-of
discipline (`_measure`), level derivation from the affinity set, and
the summary arithmetic.  No Spark: runs are faked tuples."""

from __future__ import annotations

import pytest

import scalebench


def _runner(walls):
    """run_once fake: pops the next wall time and returns (wall, tag)
    so best-tuple identity is checkable."""
    seq = list(walls)
    calls = []

    def run_once():
        calls.append(seq.pop(0))
        return calls[-1], f"run{len(calls)}"

    run_once.calls = calls
    return run_once


def test_sequential_best_includes_warmup():
    """Warm-up runs sample the same job, so a faster warm-up run may be
    the reported best; warm-up stops at the first two consecutive runs
    within 10%."""
    # warm: 5.0 then 5.2 (within 10% -> converged after 2); measure
    # runs are all slower than the best warm-up
    run_once = _runner([5.0, 5.2, 6.0, 6.1, 6.2])
    best, warms = scalebench._measure(run_once, max_warm=4, measure_runs=3)
    assert warms == 2
    assert best == (5.0, "run1")
    assert len(run_once.calls) == 5


def test_sequential_warmup_bounded():
    """Non-converging warm-up stops at max_warm."""
    run_once = _runner([10.0, 8.0, 6.0, 4.5, 4.4, 4.6])
    best, warms = scalebench._measure(run_once, max_warm=3, measure_runs=3)
    assert warms == 3
    assert best[0] == 4.4
    assert len(run_once.calls) == 6


@pytest.mark.parametrize("cores, expected", [
    (set(range(4)), (1, 4)),
    (set(range(8)), (2, 8)),
    ({1, 3, 5, 7, 9}, (1, 4)),   # N is a quarter; 4N stays 4 * N
])
def test_levels_from_affinity(cores, expected):
    assert scalebench.levels(cores) == expected


@pytest.mark.parametrize("cores", [set(), {0}, {0, 1, 2}])
def test_levels_need_four_cores(cores):
    with pytest.raises(SystemExit, match="at least 4 cores"):
        scalebench.levels(cores)


@pytest.mark.parametrize("best, rates, per_cpu, wall_eff, work_eff, ok", [
    # perfect scaling: 4x the docs/s, the same CPU per doc
    ({1: [(10.0, 1000, 10.0)] * 3, 4: [(2.5, 1000, 10.0)] * 3},
     (100.0, 400.0), (100.0, 100.0), 1.0, 1.0, True),
    # exactly at the target: 3.2x the docs/s passes
    ({1: [(10.0, 1000, 10.0)], 4: [(3.125, 1000, 10.0)]},
     (100.0, 320.0), (100.0, 100.0), 0.8, 1.0, True),
    # medians, not means or bests: the outlier runs do not count;
    # 4N spends 25% more CPU per doc -> work efficiency 0.8
    ({1: [(10.0, 1000, 10.0), (5.0, 1000, 2.0), (20.0, 1000, 40.0)],
      4: [(5.0, 1000, 12.5), (1.0, 1000, 1.0), (50.0, 1000, 99.0)]},
     (100.0, 200.0), (100.0, 80.0), 0.5, 0.8, False),
    # the flag compares the unrounded efficiency: 0.7996 is reported
    # as 0.8 but does not pass
    ({1: [(1.0, 1000, 1.0)], 4: [(1.0, 3198.4, 1.0)]},
     (1000.0, 3198.4), (1000.0, 3198.4), 0.8, 3.198, False),
])
def test_summarize(best, rates, per_cpu, wall_eff, work_eff, ok):
    s = scalebench.summarize(1, best)
    assert [s["levels"][k]["docs_per_s"] for k in (1, 4)] == list(rates)
    assert [s["levels"][k]["docs_per_cpu_s"] for k in (1, 4)] == \
        list(per_cpu)
    assert s["wall_efficiency"] == wall_eff
    assert s["work_efficiency"] == work_eff
    assert s["target"] == 0.8
    assert s["pass"] is ok

