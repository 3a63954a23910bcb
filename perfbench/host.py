"""Host readings from ``/proc``: process-tree memory and CPU noise.

psutil is not installed, so the resident memory of the benchmark's
process tree (the Python driver, the JVM it launches and the JVM's
Python workers) is summed from ``/proc/<pid>/smaps_rollup`` by a
sampling thread.  It sums PSS (proportional set size), not RSS: the
Python workers are forked from one daemon and share most of their
pages, which RSS would count once per worker.
"""

from __future__ import annotations

import hashlib
import os
import threading
import time


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may contain spaces; fields resume after ')'
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def tree_pids(root: int) -> list[int]:
    kids = _children_map()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def pss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:  # the process ended between listing and reading
        pass
    return 0


class MemSampler:
    """Peak summed PSS of this process and all its descendants."""

    def __init__(self, interval_s: float = 0.25):
        self.interval_s = interval_s
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def sample(self) -> None:
        total = sum(pss_kb(p) for p in tree_pids(os.getpid()))
        self.peak_kb = max(self.peak_kb, total)

    def _run(self) -> None:
        while not self._stop.wait(self.interval_s):
            self.sample()

    def start(self) -> "MemSampler":
        self.sample()
        self._thread.start()
        return self

    def stop(self) -> float:
        self._stop.set()
        self._thread.join()
        self.sample()
        return self.peak_kb / 1024.0


def cpu_steal_ticks() -> dict[str, int]:
    """Aggregate ``cpu`` line of /proc/stat (USER_HZ ticks)."""
    with open("/proc/stat") as f:
        fields = f.readline().split()[1:]
    names = ["user", "nice", "system", "idle", "iowait", "irq", "softirq",
             "steal"]
    return {n: int(v) for n, v in zip(names, fields)}


def canary_ms(rounds: int = 3) -> float:
    """Fixed CPU work (sha256 over 8 MiB), best of ``rounds``: a slow
    reading means the host, not the program, was slow."""
    buf = b"\x5a" * (1 << 20)
    best = float("inf")
    for _ in range(rounds):
        t = time.perf_counter()
        h = hashlib.sha256()
        for _ in range(8):
            h.update(buf)
        h.hexdigest()
        best = min(best, (time.perf_counter() - t) * 1000.0)
    return best


class NoiseRecord:
    """Steal delta and canary before and after a run: not metrics, a
    record that makes a polluted window identifiable."""

    def __init__(self):
        self.before = {"canary_ms": canary_ms(), "cpu": cpu_steal_ticks(),
                       "time": time.time()}

    def finish(self) -> dict:
        after = {"canary_ms": canary_ms(), "cpu": cpu_steal_ticks(),
                 "time": time.time()}
        delta = {k: after["cpu"][k] - self.before["cpu"][k]
                 for k in after["cpu"]}
        busy = sum(delta.values()) or 1
        return {
            "canary_ms_before": round(self.before["canary_ms"], 3),
            "canary_ms_after": round(after["canary_ms"], 3),
            "steal_ticks": delta["steal"],
            "steal_pct": round(100.0 * delta["steal"] / busy, 3),
            "wall_s": round(after["time"] - self.before["time"], 3),
        }
