"""Metric math and the /proc memory sampler."""

from __future__ import annotations

import os
import statistics
import threading


def end_to_end(session_s: float, shard_s: list[float], rows: int,
               latencies: list[float]) -> dict[str, float]:
    """The end-to-end metrics of one run.

    ``setup_s``: session start + the input's materialization, taken as
    shards x the median shard time (the shards are the repeated set-ups).
    ``clips_per_s``: rows x operations / summed latency of the closed loop."""
    if not shard_s or not latencies:
        raise ValueError("need at least one shard and one operation")
    return {"setup_s": session_s + len(shard_s) * statistics.median(shard_s),
            "clips_per_s": rows * len(latencies) / sum(latencies)}


def fail_ratio(failed: int, attempted: int) -> float:
    """Operations that raised or failed the oracle over operations attempted."""
    if attempted < 1:
        raise ValueError("no operation attempted")
    if not 0 <= failed <= attempted:
        raise ValueError(f"failed={failed} outside [0, attempted={attempted}]")
    return failed / attempted


def children(pid: int) -> list[int]:
    out = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            try:
                with open(f"/proc/{pid}/task/{tid}/children") as f:
                    out.extend(int(c) for c in f.read().split())
            except OSError:
                pass
    except OSError:
        pass
    return out


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except (OSError, IndexError, ValueError):
        return 0  # process ended between listing and reading


def process_tree(root: int) -> list[int]:
    """``root`` and all its live descendants."""
    out, stack = [], [root]
    while stack:
        pid = stack.pop()
        if pid not in out:
            out.append(pid)
            stack.extend(children(pid))
    return out


def tree_rss_bytes(root: int) -> int:
    """Summed resident set size of ``root`` and all its descendants."""
    return sum(_rss_bytes(pid) for pid in process_tree(root))


class PeakRss:
    """Background sampler of the peak summed RSS of the driver JVM and its
    Python workers (the JVM's process tree; psutil is not required)."""

    def __init__(self, interval_s: float = 0.1):
        self.interval_s = interval_s
        self.peak_bytes = 0
        self._roots: list[int] = []
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="peak-rss", daemon=True)

    def start(self, roots: list[int]) -> None:
        self._roots = list(roots)
        self._thread.start()

    def _run(self) -> None:
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(self.interval_s)

    def sample(self) -> None:
        now = sum(tree_rss_bytes(r) for r in self._roots)
        self.peak_bytes = max(self.peak_bytes, now)

    def stop(self) -> float:
        """Stop sampling; return the peak in MiB."""
        self._stop.set()
        if self._thread.is_alive():
            self._thread.join(timeout=5)
        self.sample()
        return self.peak_bytes / (1 << 20)


def java_children(pid: int) -> list[int]:
    """Direct children of ``pid`` whose command line names a java binary."""
    out = []
    for c in children(pid):
        try:
            with open(f"/proc/{c}/cmdline", "rb") as f:
                argv0 = f.read().split(b"\0", 1)[0]
        except OSError:
            continue
        if os.path.basename(argv0) == b"java":
            out.append(c)
    return out
