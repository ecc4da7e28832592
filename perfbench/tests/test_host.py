"""The /proc readings: the process tree, its summed memory and the
engine temp-dir count."""

import os
import signal
import subprocess
import sys
import time

import host


def test_tree_memory_includes_children():
    me = os.getpid()
    alone = host.tree_memory_bytes(me)
    child = subprocess.Popen(
        [sys.executable, "-c",
         "b = bytearray(96 * 2**20); print('ready', flush=True); import time; time.sleep(30)"],
        stdout=subprocess.PIPE,
    )
    try:
        assert child.stdout.readline().strip() == b"ready"
        assert child.pid in host.tree_pids(me)
        with host.PeakMemory(interval=0.05) as mem:
            time.sleep(0.2)
        assert mem.peak >= alone + 64 * 2**20
        with host.PeakMemory(interval=0.05, exclude={child.pid}) as mem:
            time.sleep(0.2)
        assert child.pid not in host.tree_pids(me, {child.pid})
        assert mem.peak < alone + 64 * 2**20
    finally:
        child.kill()
        child.wait(timeout=10)
    assert child.pid not in host.tree_pids(me)


def test_engine_temp_dirs_counts_only_engine_prefixes(tmp_path):
    for name in ("dfs_ckpt_a", "dfs_stream_pq_b", "spark-123", "blockmgr-1"):
        (tmp_path / name).mkdir()
    (tmp_path / "dfs_file").write_text("")
    assert host.engine_temp_dirs(str(tmp_path)) == 2
    assert host.engine_temp_dirs(str(tmp_path / "missing")) == 0


def test_proc_state_follows_stop_and_continue():
    child = subprocess.Popen([sys.executable, "-c", "import time; time.sleep(30)"])
    try:
        os.kill(child.pid, signal.SIGSTOP)
        deadline = time.time() + 10
        while host.proc_state(child.pid) != "T" and time.time() < deadline:
            time.sleep(0.01)
        assert host.proc_state(child.pid) == "T"
        os.kill(child.pid, signal.SIGCONT)
        while host.proc_state(child.pid) == "T" and time.time() < deadline:
            time.sleep(0.01)
        assert host.proc_state(child.pid) in ("S", "R")
    finally:
        child.kill()
        child.wait(timeout=10)
    assert host.proc_state(child.pid) is None
