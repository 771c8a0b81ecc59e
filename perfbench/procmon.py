"""Outside-the-program process observation from ``/proc`` (psutil is not
installed): peak summed RSS of a process tree, the moment the first PySpark
worker appears, hypervisor steal and single-thread copy bandwidth."""

from __future__ import annotations

import os
import signal
import subprocess
import threading
import time

import numpy as np

PAGE = os.sysconf("SC_PAGE_SIZE")
TICKS = os.sysconf("SC_CLK_TCK")
WORKER_MARK = "pyspark.daemon"
# A process younger than this is not counted toward RSS: the JVM forks
# short-lived helpers whose RSS, before they exec, repeats all of the
# JVM's pages and would double the tree's reading for one sample.
MIN_AGE_S = 1.0


def _procs() -> dict[int, tuple[int, float]]:
    """pid -> (ppid, start time in seconds since boot) for every process."""
    out: dict[int, tuple[int, float]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name (field 2) may hold spaces; fields resume after ')'
        rest = stat.rsplit(")", 1)[1].split()
        out[int(name)] = (int(rest[1]), int(rest[19]) / TICKS)
    return out


def _tree(root: int, procs: dict[int, tuple[int, float]]) -> list[int]:
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _) in procs.items():
        kids.setdefault(ppid, []).append(pid)
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def _uptime() -> float:
    with open("/proc/uptime") as f:
        return float(f.read().split()[0])


def _rss(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * PAGE
    except (OSError, IndexError, ValueError):
        return 0


def _cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read().replace(b"\0", b" ").decode("utf-8", "replace")
    except OSError:
        return ""


class TreeSampler:
    """Samples a process tree every ``interval`` seconds on a thread:
    peak summed RSS, and the time (relative to ``t0``) at which a PySpark
    worker process first appeared in the tree."""

    def __init__(self, pid: int, t0: float, interval: float = 0.05):
        self.pid, self.t0, self.interval = pid, t0, interval
        self.peak_rss = 0
        self.first_worker_s: float | None = None
        self._seen: set[int] = set()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            now = time.perf_counter()
            procs = _procs()
            pids = _tree(self.pid, procs)
            oldest = _uptime() - MIN_AGE_S
            self.peak_rss = max(
                self.peak_rss,
                sum(_rss(p) for p in pids if procs.get(p, (0, 0.0))[1] <= oldest),
            )
            if self.first_worker_s is None:
                for p in pids:
                    if p not in self._seen:
                        self._seen.add(p)
                        if WORKER_MARK in _cmdline(p):
                            self.first_worker_s = now - self.t0
                            break
            self._stop.wait(self.interval)

    def __enter__(self) -> "TreeSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()


def run_watched(cmd: list[str], env: dict, cwd: str, timeout: float, log_path: str) -> dict:
    """Run ``cmd`` to completion under a :class:`TreeSampler`.

    Returns wall seconds, exit code (``None`` on timeout, after the whole
    process group is killed and reaped), peak tree RSS in bytes, the
    launch-to-first-worker seconds and the last stdout line."""
    with open(log_path, "w") as log:
        t0 = time.perf_counter()
        proc = subprocess.Popen(
            cmd, env=env, cwd=cwd, stdout=subprocess.PIPE, stderr=log,
            text=True, start_new_session=True,
        )
        with TreeSampler(proc.pid, t0) as s:
            try:
                out, _ = proc.communicate(timeout=timeout)
                code = proc.returncode
            except subprocess.TimeoutExpired:
                os.killpg(proc.pid, signal.SIGKILL)
                out, _ = proc.communicate()
                code = None
        wall = time.perf_counter() - t0
    _reap_group(proc.pid)
    lines = [ln for ln in (out or "").splitlines() if ln.strip()]
    return {
        "wall_s": wall,
        "code": code,
        "peak_rss": s.peak_rss,
        "first_worker_s": s.first_worker_s,
        "last_line": lines[-1] if lines else "",
    }


def _group_alive(pgid: int) -> bool:
    try:
        os.killpg(pgid, 0)
    except ProcessLookupError:
        return False
    return True


def _reap_group(pgid: int, grace_s: float = 10.0) -> None:
    """Wait for every process of the launch's group (the JVM and its
    Python workers outlive the launched process by a moment) to end;
    kill what is left after ``grace_s``."""
    deadline = time.monotonic() + grace_s
    while _group_alive(pgid) and time.monotonic() < deadline:
        time.sleep(0.05)
    if _group_alive(pgid):
        try:
            os.killpg(pgid, signal.SIGKILL)
        except ProcessLookupError:
            return
        deadline = time.monotonic() + grace_s
        while _group_alive(pgid) and time.monotonic() < deadline:
            time.sleep(0.05)


def cpu_times() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_pct(before: list[int], after: list[int]) -> float:
    """Hypervisor steal share of all CPU time between two readings."""
    d = [y - x for x, y in zip(before, after)]
    total = sum(d)
    return 100.0 * d[7] / total if total and len(d) > 7 else 0.0


def copy_bandwidth_gbs(mb: int = 64) -> float:
    """Best-of-3 single-thread copy bandwidth in GB/s (read + write)."""
    buf = np.ones(mb * 1024 * 1024, dtype=np.uint8)
    best = 0.0
    for _ in range(3):
        t0 = time.perf_counter()
        buf.copy()
        best = max(best, 2 * buf.nbytes / (time.perf_counter() - t0) / 1e9)
    return best
