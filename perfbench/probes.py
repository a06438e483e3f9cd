"""Process-level probes used by every workload: peak RSS of the process
tree, the run context, in-memory spans and small statistics helpers."""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import threading
import time
from contextlib import contextmanager
from typing import Dict, List, Optional

_PAGE = os.sysconf("SC_PAGE_SIZE")


def _children() -> Dict[int, List[int]]:
    kids: Dict[int, List[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:  # the process ended between listdir and open
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def descendants(root: int) -> List[int]:
    """Pids of every live descendant of ``root`` (not ``root`` itself)."""
    kids, out, todo = _children(), [], [root]
    while todo:
        for child in kids.get(todo.pop(), []):
            out.append(child)
            todo.append(child)
    return out


def alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def tree_rss_bytes(root: int) -> Dict[tuple, int]:
    """RSS of ``root`` and of each live descendant, keyed by (pid, start
    time) so that a reused pid is a new key."""
    sizes = {}
    for pid in [root] + descendants(root):
        try:
            with open(f"/proc/{pid}/stat") as fh:
                start = fh.read().rsplit(")", 1)[1].split()[19]
            with open(f"/proc/{pid}/statm") as fh:
                sizes[(pid, start)] = int(fh.read().split()[1]) * _PAGE
        except (OSError, IndexError):
            pass
    return sizes


class PeakRss:
    """Samples the summed RSS of this process and its descendants (the
    gateway JVM and its Python workers) every ``interval`` seconds, and the
    largest single process (the JVM).

    A process counts from the second sample that sees it.  The JVM starts
    hundreds of short helpers (Hadoop's ``chmod`` and ``readlink`` on a
    local file system) through ``jspawnhelper``; until it execs, such a
    child shares the JVM's address space and reports the JVM's whole RSS,
    so a sample that catches one would count the JVM twice."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak_bytes = 0
        self.peak_largest_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        seen: set = set()
        while True:
            sizes = tree_rss_bytes(me)
            settled = [rss for key, rss in sizes.items() if key in seen]
            if settled:
                self.peak_bytes = max(self.peak_bytes, sum(settled))
                self.peak_largest_bytes = max(self.peak_largest_bytes, max(settled))
            seen = set(sizes)
            if self._stop.wait(self.interval):
                return

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()


class StealWindow:
    """Hypervisor steal share of all CPU ticks between enter and exit."""

    def __enter__(self) -> "StealWindow":
        from bench import _cpu_steal_pct

        self._read = _cpu_steal_pct
        self._s0, self._t0 = _cpu_steal_pct()
        return self

    def __exit__(self, *exc) -> None:
        s1, t1 = self._read()
        self.pct = 100.0 * (s1 - self._s0) / max(1, t1 - self._t0)


def git_commit(root: str) -> Optional[str]:
    """HEAD of ``root`` when it is the top of a git work tree, else None (a
    parent directory's repository is not this checkout's commit)."""
    try:
        top, head = subprocess.run(
            ["git", "-C", root, "rev-parse", "--show-toplevel", "HEAD"],
            capture_output=True,
            text=True,
            timeout=10,
            check=True,
        ).stdout.split()
    except (OSError, subprocess.SubprocessError, ValueError):
        return None
    return head if os.path.realpath(top) == os.path.realpath(root) else None


def run_context(root: str, cores: int) -> dict:
    import pandas
    import pyarrow
    import pyspark

    from bench import _speed_canary_ms

    return {
        "nproc": len(os.sched_getaffinity(0)),
        "spark_cores": cores,
        "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "pandas": pandas.__version__,
        "git_commit": git_commit(root),
        "spark_driver_mem": os.environ.get("SPARK_DRIVER_MEM"),
        "speed_canary_ms": _speed_canary_ms(),
    }


class Tracer:
    """Spans around calls into the program's layers, kept in memory and
    written once at the end.  Disabled, ``span`` records nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: List[dict] = []
        self._open: List[int] = []

    @contextmanager
    def span(self, name: str, op: str):
        if not self.enabled:
            yield
            return
        rec = {
            "name": name,
            "op": op,
            "parent": self._open[-1] if self._open else None,
            "start": time.perf_counter(),
        }
        self.spans.append(rec)
        self._open.append(len(self.spans) - 1)
        try:
            yield
        finally:
            self._open.pop()
            rec["end"] = time.perf_counter()

    def self_times(self) -> Dict[str, float]:
        """Total self time per span name: duration minus the time covered
        by its child spans."""
        child_time = [0.0] * len(self.spans)
        for rec in self.spans:
            if rec["parent"] is not None:
                child_time[rec["parent"]] += rec["end"] - rec["start"]
        out: Dict[str, float] = {}
        for i, rec in enumerate(self.spans):
            own = rec["end"] - rec["start"] - child_time[i]
            out[rec["name"]] = out.get(rec["name"], 0.0) + own
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.spans, fh)


def summary(values) -> dict:
    """Median, the highest percentile with at least ten samples beyond it
    (the maximum when there are fewer than ten) and the sample count."""
    ordered = sorted(values)
    n = len(ordered)
    high = {"p": "max", "value": ordered[-1]}
    for pct in (99, 90):
        if n * (100 - pct) / 100 >= 10:
            high = {"p": pct, "value": ordered[int(n * pct / 100)]}
            break
    return {"median": statistics.median(ordered), "high": high, "n": n}
