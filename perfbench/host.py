"""Host record, CPU steal and process-tree RSS, read from /proc."""

from __future__ import annotations

import os
import platform
import threading
import time


def cpu_stat():
    """-> (steal jiffies, total jiffies) from the aggregate cpu line."""
    with open("/proc/stat") as f:
        parts = f.readline().split()
    return int(parts[8]), sum(map(int, parts[1:11]))


def steal_pct(before, after) -> float:
    ds, dt = after[0] - before[0], after[1] - before[1]
    return 100.0 * ds / max(1, dt)


def _cpu_model() -> str:
    try:
        with open("/proc/cpuinfo") as f:
            for line in f:
                if line.startswith("model name"):
                    return line.split(":", 1)[1].strip()
    except OSError:
        pass
    return platform.processor() or "unknown"


def _commit(root: str):
    """-> (commit, source). Reads .git directly; the benchmark may run in
    an export that is not a git checkout."""
    head = os.path.join(root, ".git", "HEAD")
    if not os.path.exists(head):
        return None, "not recorded: the checkout is not a git repository"
    with open(head) as f:
        ref = f.read().strip()
    if not ref.startswith("ref: "):
        return ref, "measured: .git/HEAD"
    name = ref[5:]
    loose = os.path.join(root, ".git", name)
    if os.path.exists(loose):
        with open(loose) as f:
            return f.read().strip(), "measured: .git/" + name
    packed = os.path.join(root, ".git", "packed-refs")
    if os.path.exists(packed):
        with open(packed) as f:
            for line in f:
                if line.strip().endswith(" " + name):
                    return line.split()[0], "measured: .git/packed-refs"
    return None, "not recorded: unresolved ref " + name


def host_record(root: str, seed: int, cores: int) -> dict:
    import numpy
    import pandas
    import pyarrow
    import pyspark

    commit, commit_src = _commit(root)
    return {
        "nproc": cores,
        "cpu_model": _cpu_model(),
        "python": platform.python_version(),
        "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "numpy": numpy.__version__,
        "pandas": pandas.__version__,
        "seed": seed,
        "commit": commit,
        "commit_source": commit_src,
    }


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(pid))
    return kids


def descendants(pid: int) -> list[int]:
    kids, out, todo = _children(), [], [pid]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def tree_rss_bytes(pid: int) -> int:
    page = os.sysconf("SC_PAGE_SIZE")
    total = 0
    for p in [pid] + descendants(pid):
        try:
            with open(f"/proc/{p}/statm") as f:
                total += int(f.read().split()[1]) * page
        except (OSError, IndexError, ValueError):
            pass
    return total


class RssSampler:
    """Samples the RSS of this process and all its descendants (driver,
    JVM, Python workers) every ``interval`` seconds on a thread; ``peak``
    is the largest sum seen since the last ``reset``."""

    def __init__(self, interval: float = 0.1):
        self.interval = interval
        self.peak = 0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self):
        me = os.getpid()
        while not self._stop.is_set():
            rss = tree_rss_bytes(me)
            with self._lock:
                self.peak = max(self.peak, rss)
            self._stop.wait(self.interval)

    def reset(self):
        with self._lock:
            self.peak = 0

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)


def wait_gone(pids, timeout: float = 20.0) -> list[int]:
    """Wait until none of ``pids`` is alive; -> the ones still alive."""
    deadline = time.monotonic() + timeout
    alive = list(pids)
    while alive and time.monotonic() < deadline:
        alive = [p for p in alive if os.path.exists(f"/proc/{p}") and not _zombie(p)]
        if alive:
            time.sleep(0.1)
    return alive


def _zombie(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] == "Z"
    except OSError:
        return False
