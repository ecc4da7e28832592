"""tools/attribute.py: the record builder on the recorded event log of
``perfbench/tests``, its sanity bound, a small end-to-end run, and a pin
that the timed region forces results through the ``noop`` sink."""

from __future__ import annotations

import ast
import json
import os
import subprocess
import sys
from pathlib import Path

import pytest

from tests.conftest import SF_DIR_SMALL

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT / "tools"))

import attribute  # noqa: E402
import eventlog  # noqa: E402  (perfbench/, put on the path by attribute)

LOG = ROOT / "perfbench" / "tests" / "data" / "small_eventlog.json"


def _fold(start_ms, end_ms):
    (w,) = eventlog.fold(eventlog.read_events(str(LOG)), [eventlog.Window(start_ms, end_ms)])
    return w


def test_record_of_listing_window():
    w = _fold(1792224691800, 1792224693600)
    rec = attribute.record("q", w, 1.0, 0.8, cores=4)
    assert (rec["jobs"], rec["stages"], rec["tasks"]) == (2, 2, 35)
    assert rec["driver_gap_s"] == pytest.approx(0.259)
    assert rec["exec_run_s"] == pytest.approx(0.738)
    assert (rec["fn_s"], rec["noop_s"]) == (1.0, 0.8)


def test_record_keeps_python_times_beside_executor_run_time():
    """Python boot + run (8,962 + 9,648 ms) exceeds the window's 12,687 ms
    of executor run time: the two overlap, so neither is added into the
    other."""
    w = _fold(1792224082400, 1792224086000)
    rec = attribute.record("q", w, 0.1, 3.5, cores=4)
    assert rec["exec_run_s"] == pytest.approx(12.687)
    assert "py_boot_ms" not in rec and rec["py_run_ms"] == 9_648
    assert rec["py_bytes_from_worker"] == 375_176
    assert rec["shuffle_write_bytes"] == 25_796
    assert rec["dominant"] == "python"


def test_run_time_above_cores_times_wall_raises():
    w = eventlog.Window(0, 1000, run_ms=4001)
    with pytest.raises(ValueError, match="exceeds 4 cores"):
        attribute.record("q", w, 0.5, 0.5, cores=4)
    assert attribute.record("q", w, 0.5, 0.5, cores=5)["exec_run_s"] == 4.001


def test_timed_region_forces_noop_and_never_counts():
    tree = ast.parse(Path(attribute.__file__).read_text())
    calls = [n for n in ast.walk(tree) if isinstance(n, ast.Call)
             and isinstance(n.func, ast.Attribute)]
    assert not [c for c in calls if c.func.attr == "count"]
    timed = next(n for n in tree.body if isinstance(n, ast.FunctionDef) and n.name == "time_query")
    formats = [ast.literal_eval(c.args[0]) for c in ast.walk(timed)
               if isinstance(c, ast.Call) and isinstance(c.func, ast.Attribute)
               and c.func.attr == "format" and c.args]
    assert formats == ["noop"]


def test_attribute_runs_end_to_end_and_leaves_no_scratch_dirs(tmp_path):
    env = {**os.environ, "TMPDIR": str(tmp_path), "SPARK_DRIVER_MEMORY": "1g"}
    done = subprocess.run(
        [sys.executable, str(ROOT / "tools" / "attribute.py"), "--sf-dir", SF_DIR_SMALL,
         "--only", "ref_kafka_pipeline,streaming_tumbling_hour"],
        env=env, capture_output=True, text=True, timeout=600,
    )
    assert done.returncode == 0, done.stderr[-3000:]
    recs = [json.loads(line) for line in done.stdout.splitlines() if line.startswith("{")]
    assert [r["query"] for r in recs] == ["ref_kafka_pipeline", "streaming_tumbling_hour"]
    assert all(r["jobs"] >= 1 for r in recs)
    assert [e for e in os.listdir(tmp_path) if e.startswith("dfs_")] == []
