"""Host-side measurements read from ``/proc`` (no psutil): the resident
memory of the benchmark's whole process tree, hypervisor steal, and the
temp dirs the engine leaves behind."""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")


def steal_seconds() -> float:
    """Cumulative CPU time the hypervisor stole from this VM, all CPUs."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / _TICK if len(fields) > 8 else 0.0


def proc_state(pid: int) -> str | None:
    """The state letter of ``pid`` (``T`` once stopped by a signal), or
    None when it has exited."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            stat = f.read()
    except OSError:
        return None
    return stat[stat.rindex(")") + 2]


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue  # exited while we listed
        # comm may hold spaces and parens; ppid is the 2nd field after it
        ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def tree_pids(root: int, exclude=frozenset()) -> list[int]:
    """``root`` and its descendants, less the subtrees of ``exclude``."""
    kids = _children()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        if pid in exclude:
            continue
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def _pss_bytes(pid: int) -> int:
    """Proportional set size: resident pages, each shared page divided
    among the processes that map it."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass  # exited while we listed
    return 0


def tree_memory_bytes(root: int, exclude=frozenset()) -> int:
    return sum(_pss_bytes(pid) for pid in tree_pids(root, exclude))


class PeakMemory:
    """Peak resident memory of ``root``'s process tree: the Python
    driver, the JVM it launched and the Python workers the JVM forks.
    The subtrees of the pids in ``exclude`` (a set the caller may add to
    while sampling runs) are left out. A daemon thread sums the tree's
    memory every ``interval`` seconds; ``peak`` is the largest sum seen.

    Each process counts its proportional set size (PSS), not its RSS:
    a forked Python worker shares most of its pages with the daemon it
    came from, and the JVM briefly forks a copy of itself whenever it
    runs a shell command, so summed RSS counts the same pages twice and
    jumped by the JVM's whole size at such a moment."""

    def __init__(self, root: int | None = None, interval: float = 0.2, exclude=frozenset()):
        self.root = root or os.getpid()
        self.exclude = exclude
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="peak-memory", daemon=True)

    def _run(self) -> None:
        while True:
            self.sample()
            if self._stop.wait(self.interval):
                return

    def sample(self) -> None:
        self.peak = max(self.peak, tree_memory_bytes(self.root, self.exclude))

    def __enter__(self) -> "PeakMemory":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.sample()


def engine_temp_dirs(tmpdir: str) -> int:
    """Directories the engine created under ``tmpdir`` and did not
    remove (its ``tempfile.mkdtemp`` sites all use a ``dfs_`` prefix)."""
    try:
        return sum(
            1 for e in os.scandir(tmpdir) if e.is_dir() and e.name.startswith("dfs_")
        )
    except FileNotFoundError:
        return 0
