"""Host state per run, and the peak summed RSS of the engine's processes.

Everything is read from ``/proc``; a file the kernel does not offer is
reported as ``None`` rather than failing the run.
"""

from __future__ import annotations

import os
import threading

def _read(path: str) -> str | None:
    try:
        with open(path, encoding="ascii") as fh:
            return fh.read()
    except OSError:
        return None


def _cpu_jiffies() -> tuple[int, int] | None:
    """(steal, total) jiffies over all CPUs since boot."""
    stat = _read("/proc/stat")
    if not stat:
        return None
    fields = [int(x) for x in stat.splitlines()[0].split()[1:]]
    return (fields[7] if len(fields) > 7 else 0), sum(fields)


def snapshot() -> dict:
    """Load, CPU pressure and steal counters at one instant."""
    pressure = _read("/proc/pressure/cpu")
    return {
        "loadavg": os.getloadavg(),
        "cpu_pressure": pressure.strip().splitlines() if pressure else None,
        "cpu_jiffies": _cpu_jiffies(),
    }


def mem_total_bytes() -> int:
    return os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")


def steal_share(start: dict, end: dict) -> float | None:
    """Share of CPU time stolen by the hypervisor between two snapshots."""
    if not start["cpu_jiffies"] or not end["cpu_jiffies"]:
        return None
    steal = end["cpu_jiffies"][0] - start["cpu_jiffies"][0]
    total = end["cpu_jiffies"][1] - start["cpu_jiffies"][1]
    return steal / total if total else 0.0


def _children() -> dict[int, list[int]]:
    tree: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        stat = _read(f"/proc/{name}/stat")
        if not stat:
            continue
        # the command name may hold spaces; fields resume after its ')'
        ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
        tree.setdefault(ppid, []).append(int(name))
    return tree


def _tree(root: int) -> list[int]:
    """``root`` and all its descendants: the driver, the JVM it launched,
    and the Python workers the JVM forked."""
    children = _children()
    pids, todo = [], [root]
    while todo:
        pid = todo.pop()
        pids.append(pid)
        todo.extend(children.get(pid, []))
    return pids


def _pss_bytes(pid: int) -> int:
    """The process's proportional set size now: its resident pages, each
    shared page divided among the processes that map it, so a forked
    worker's copy-on-write pages count once over the tree. Falls back to
    ``VmRSS`` on kernels without ``smaps_rollup``; 0 once it has exited."""
    rollup = _read(f"/proc/{pid}/smaps_rollup")
    key = "Pss:"
    if rollup is None:
        rollup, key = _read(f"/proc/{pid}/status") or "", "VmRSS:"
    for line in rollup.splitlines():
        if line.startswith(key):
            return int(line.split()[1]) * 1024
    return 0


class RssSampler:
    """Polls the process tree on a daemon thread until ``stop``.
    ``peak_bytes`` is the largest sum, over one poll, of the proportional
    set sizes of the processes alive at that poll: the memory the engine
    held at once. A peak that rises and falls between two polls is
    missed."""

    INTERVAL_S = 1.0

    def __init__(self, root: int):
        self.root = root
        self.peak_bytes = 0
        # the processes of the poll that set the peak, pid -> (comm, bytes)
        self.at_peak: dict[int, tuple[str, int]] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def poll(self) -> None:
        sizes = {pid: _pss_bytes(pid) for pid in _tree(self.root)}
        total = sum(sizes.values())
        if total > self.peak_bytes:
            self.peak_bytes = total
            self.at_peak = {
                pid: ((_read(f"/proc/{pid}/comm") or "?").strip(), b)
                for pid, b in sizes.items()
            }

    def _run(self) -> None:
        while not self._stop.is_set():
            self.poll()
            self._stop.wait(self.INTERVAL_S)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
