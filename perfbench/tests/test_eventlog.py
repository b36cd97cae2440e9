"""The event-log parser against a small checked-in uncompressed log.

``data/eventlog_small.jsonl`` is cut from a real traced run: one job
with the extraction (mapInArrow) stage 32 and one job with a plain
stage 23 submitted inside the timed window, and one earlier job with
an extraction stage 15 outside it.  Only the fields the parser reads
are kept."""

import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import eventlog  # noqa: E402

LOG = os.path.join(HERE, "data", "eventlog_small.jsonl")
WINDOW = (1792201289809.7952, 1792201295561.8665)


def _task_run_ms(stage: int) -> list[int]:
    return [e["Task Metrics"]["Executor Run Time"]
            for e in eventlog.read(LOG)
            if e["Event"] == "SparkListenerTaskEnd" and e["Stage ID"] == stage]


def test_scopes_to_window_and_extraction_stage():
    got = eventlog.summarize(eventlog.read(LOG), [WINDOW])
    # run time of the in-window extraction stage = its tasks' run times
    assert got["pipeline.run_s"] == pytest.approx(sum(_task_run_ms(32)) / 1e3)
    assert got["pipeline.python_run_s"] == pytest.approx(6.498)
    assert got["pipeline.python_init_s"] == pytest.approx(20.595)
    assert got["pipeline.bytes_to_python"] == 27377016
    assert got["pipeline.bytes_from_python"] == 12568624
    assert got["pipeline.jvm_cpu_s"] == pytest.approx(1.237085043)
    assert got["pipeline.spill_bytes"] == 0
    # GC sums every in-window stage (60 ms, all in stage 32); the
    # out-of-window stage 15's 140 ms is not counted
    assert got["pipeline.gc_s"] == pytest.approx(0.060)
    assert got["shuffle.read_bytes"] == 17132051
    runs = sorted(_task_run_ms(32))
    median = (runs[3] + runs[4]) / 2
    assert got["partitioning.task_skew"] == pytest.approx(runs[-1] / median)


def test_no_window_means_no_stage():
    got = eventlog.summarize(eventlog.read(LOG), [(0.0, 1.0)])
    assert got["pipeline.run_s"] == 0
    assert got["partitioning.task_skew"] == 0


def test_figures_are_per_op():
    one = eventlog.summarize(eventlog.read(LOG), [WINDOW])
    two = eventlog.summarize(eventlog.read(LOG), [WINDOW, (0.0, 1.0)])
    assert two["pipeline.run_s"] == pytest.approx(one["pipeline.run_s"] / 2)


def test_reads_a_rolling_log_directory(tmp_path):
    lines = open(LOG).read().splitlines()
    d = tmp_path / "eventlog_v2_local-1"
    d.mkdir()
    # as text events_10 sorts before events_2; in a rolling log it
    # follows it
    (d / "events_10_local-1").write_text("\n".join(lines[5:]) + "\n")
    (d / "events_2_local-1").write_text("\n".join(lines[:5]) + "\n")
    (d / "appstatus_local-1").write_text("")
    assert eventlog.read(str(d)) == [json.loads(x) for x in lines]
