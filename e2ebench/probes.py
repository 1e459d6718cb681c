"""Measurements taken beside the workload: host noise, process-tree
memory, and the library's kernels timed on local data outside Spark."""

from __future__ import annotations

import os
import threading
import time

import numpy as np


def loadavg_1m() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def steal_ticks() -> int:
    """Cumulative CPU steal ticks of the host, from ``/proc/stat``."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) if len(fields) > 8 else 0


def _tree(root_pid: int, field) -> dict[int, float]:
    """``field(pid, stat fields after the command name)`` for ``root_pid``
    and each of its live descendants."""
    parent: dict[int, int] = {}
    value: dict[int, float] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read().rsplit(")", 1)[1].split()
            parent[int(name)] = int(stat[1])
            value[int(name)] = field(int(name), stat)
        except (OSError, IndexError, ValueError):
            continue
    children: dict[int, list[int]] = {}
    for pid, ppid in parent.items():
        children.setdefault(ppid, []).append(pid)
    out, stack = {}, [root_pid]
    while stack:
        pid = stack.pop()
        out[pid] = value.get(pid, 0.0)
        stack.extend(children.get(pid, ()))
    return out


def descendants(root_pid: int) -> list[int]:
    """Live descendants of ``root_pid`` (the JVM and its Python workers)."""
    return [pid for pid in _tree(root_pid, lambda pid, st: 0.0) if pid != root_pid]


def tree_cpu_s(root_pid: int) -> float:
    """CPU seconds (user + system, with reaped children) of ``root_pid``
    and its live descendants. Time the host steals is not in it."""
    tick = os.sysconf("SC_CLK_TCK")
    return sum(_tree(root_pid, lambda pid, st: sum(int(x) for x in st[11:15]) / tick).values())


def tree_rss_kb(root_pid: int) -> int:
    """Resident KB of ``root_pid`` and all its live descendants (the
    benchmark process, the Spark JVM and the Python workers)."""
    page_kb = os.sysconf("SC_PAGE_SIZE") // 1024

    def rss(pid, _):
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * page_kb

    return int(sum(_tree(root_pid, rss).values()))


class RssSampler:
    """Peak tree RSS, sampled every ``interval`` seconds on a thread."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self):
        pid = os.getpid()
        while not self._stop.is_set():
            self.peak_kb = max(self.peak_kb, tree_rss_kb(pid))
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)


def _best_rate(fn, units: float, repeats: int = 5) -> float:
    """Units per second of ``fn``: the median of ``repeats`` timed calls."""
    times = []
    for _ in range(repeats):
        t = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t)
    times.sort()
    return units / times[len(times) // 2]


def kernel_rates(contents: list[str], blocks: list[tuple[bytes, bytes]], seed: int) -> dict:
    """``tokenize_py`` MB/s over ``contents``; ``encode_blocks_bulk``
    postings/s on fixed seeded arrays; ``decode_block`` postings/s over
    ``blocks`` read from the built index. Inputs are fixed per seed."""
    from go_dcp_elasticsearch_spark.functions.codec import decode_block, encode_blocks_bulk
    from go_dcp_elasticsearch_spark.functions.tokenizer import tokenize_py

    mb = sum(len(c.encode()) for c in contents) / 1e6
    rng = np.random.default_rng(seed)
    lists = []
    for _ in range(64):
        n = int(rng.integers(200, 4000))
        ids = np.sort(rng.choice(200_000, size=n, replace=False)).astype(np.int64)
        lists.append((ids, rng.integers(1, 9, n), rng.integers(30, 400, n)))
    n_enc = sum(len(x[0]) for x in lists)
    n_dec = sum(len(decode_block(i, t)[0]) for i, t in blocks)
    return {
        "tokenizer.mb_per_s": _best_rate(lambda: [tokenize_py(c) for c in contents], mb),
        "codec.encode_postings_per_s": _best_rate(
            lambda: [encode_blocks_bulk(i, t, d) for i, t, d in lists], n_enc),
        "codec.decode_postings_per_s": _best_rate(
            lambda: [decode_block(i, t) for i, t in blocks], n_dec),
    }
