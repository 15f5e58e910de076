"""Process-tree CPU and memory, and host steal, read from ``/proc``.

The tree is this process and every descendant: the Spark JVM, the
pyspark daemon and its Python workers.  CPU per process is
utime + stime + cutime + cstime, so a descendant that exited and was
reaped by a tree member stays counted through its parent.
"""
from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat(pid: str):
    """(ppid, cpu ticks, rss pages, is_jvm) of one process, or None if it
    is gone."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            raw = f.read()
    except OSError:
        return None
    # the command name may hold spaces; fields resume after its ')'
    end = raw.rfind(b")")
    fields = raw[end + 2:].split()
    return (int(fields[1]), sum(int(x) for x in fields[11:15]), int(fields[21]),
            raw[raw.find(b"(") + 1:end] == b"java")


def tree_sample() -> tuple:
    """(cpu seconds, python rss bytes, jvm rss bytes) summed over this
    process and its descendants."""
    stats = {}
    children: dict = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(name)
            if st is not None:
                stats[int(name)] = st
                children.setdefault(st[0], []).append(int(name))
    cpu = 0
    rss = [0, 0]
    todo = [os.getpid()]
    while todo:
        pid = todo.pop()
        st = stats.get(pid)
        if st is None:
            continue
        cpu += st[1]
        rss[st[3]] += st[2]
        todo.extend(children.get(pid, ()))
    return cpu / _TICK, rss[0] * _PAGE, rss[1] * _PAGE


def host_jiffies() -> tuple:
    """(steal, total) jiffies of the host's aggregate ``cpu`` line."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal [guest guest_nice]:
    # guest time is already inside user/nice
    return vals[7], sum(vals[:8])


class RssPeak:
    """Samples the tree's summed RSS in a background thread while active:
    the peak of the Python processes (this process and the pyspark workers,
    where the annotation caches live) and, apart, of the JVM, whose heap
    grows on the garbage collector's schedule."""

    def __init__(self, interval_s: float = 0.1):
        self.interval_s = interval_s
        self.peak_python = self.peak_jvm = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _sample(self) -> None:
        _, py, jvm = tree_sample()
        self.peak_python = max(self.peak_python, py)
        self.peak_jvm = max(self.peak_jvm, jvm)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "RssPeak":
        self._stop.clear()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self._sample()


# --- host speed probe -------------------------------------------------------
# Burstable hosts swing between speed states for minutes at a time (on a
# 4-vCPU Xeon VM the same pass measured 2-2.7x slower under sustained load,
# CPU time included, with no steal reported).  The probe is a fixed single-threaded pure-Python job of the
# kind the annotation kernel does (regex tokenizing, string lowering, dict
# counting over a 100k-word vocabulary), independent of the program; its
# time, reported beside the results, tells which state a run saw.
_PROBE_DATA = None


def _probe_data():
    global _PROBE_DATA
    if _PROBE_DATA is None:
        import random
        import re

        rng = random.Random(7)
        words = ["".join(rng.choice("abcçdefgğhıijklmnoöprsştuüvyz")
                         for _ in range(rng.randint(2, 12))) for _ in range(100_000)]
        text = " ".join(rng.choice(words) + rng.choice(["", ",", ".", "'da", "'nın"])
                        for _ in range(20_000))
        _PROBE_DATA = (words, text, re.compile(r"\w+(?:'\w+)?|[^\w\s]"))
    return _PROBE_DATA


def host_probe_s(repeats: int = 5) -> float:
    """Median time of the fixed probe job on this thread."""
    import time

    words, text, tok = _probe_data()
    times = []
    for _ in range(repeats):
        t = time.perf_counter()
        counts: dict = {}
        for w in tok.findall(text):
            k = w.lower()
            counts[k] = counts.get(k, 0) + 1
        sum(counts.get(w, 0) for w in words)
        times.append(time.perf_counter() - t)
    return sorted(times)[repeats // 2]
