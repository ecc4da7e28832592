"""The event-log fold on a small recorded Spark 4.1 log: a parallel
file-listing job plus a short job, and one micro-batch job of an
``applyInPandasWithState`` query with Python-worker metrics."""

import os

import pytest

import eventlog

LOG = os.path.join(os.path.dirname(__file__), "data", "small_eventlog.json")


def fold(*windows):
    ws = [eventlog.Window(s, e) for s, e in windows]
    return eventlog.fold(eventlog.read_events(LOG), ws)


def test_listing_and_short_job_window():
    (w,) = fold((1792224691800, 1792224693600))
    assert (w.jobs, w.stages, w.tasks) == (2, 2, 35)
    assert (w.listing_jobs, w.listing_tasks) == (1, 34)
    assert w.run_ms == 738 and w.cpu_ns == 109_894_023
    assert w.py_run_ms == 0 and w.shuffle_write_bytes == 0
    # 1800 ms window, jobs busy 1044 ms + 497 ms with a gap between them
    assert w.driver_gap_ms() == pytest.approx(259)


def test_python_worker_and_shuffle_metrics():
    (w,) = fold((1792224082400, 1792224086000))
    assert (w.jobs, w.stages, w.tasks) == (1, 2, 12)
    assert w.listing_jobs == 0
    assert w.run_ms == 12_687
    assert w.shuffle_write_bytes == 25_796
    assert w.py_boot_ms == 3_570 + 5_392  # start + initialize
    assert w.py_run_ms == 9_648
    assert (w.py_bytes_sent, w.py_bytes_recv) == (0, 375_176)
    assert w.driver_gap_ms() == pytest.approx(3600 - 3416)


def test_events_outside_every_window_are_ignored():
    early, late = fold((0, 1000), (1792224693600, 1792224699999))
    for w in (early, late):
        assert (w.jobs, w.tasks, w.run_ms) == (0, 0, 0)
        assert w.driver_gap_ms() == w.end_ms - w.start_ms
