"""Process-tree CPU and memory from ``/proc`` (Linux).

Covers this process and every descendant: the Spark JVM, its Python daemon
and the daemon's forked workers.  CPU includes ``cutime``/``cstime``, so
the CPU of workers that have already exited and been reaped by their
parent is still counted.
"""

from __future__ import annotations

import os
import threading

CLK_TCK = os.sysconf("SC_CLK_TCK")
PAGE = os.sysconf("SC_PAGE_SIZE")
SAMPLE_S = 0.05


def parse_stat(text: str) -> dict:
    """Fields of one ``/proc/<pid>/stat`` line.

    ``comm`` may hold spaces and parentheses, so the fixed fields are read
    after the last ``)``.
    """
    lpar, rpar = text.index("("), text.rindex(")")
    rest = text[rpar + 2:].split()
    # rest[0] is field 3 (state); field k of proc(5) is rest[k - 3]
    return {
        "pid": int(text[:lpar]),
        "comm": text[lpar + 1:rpar],
        "state": rest[0],
        "ppid": int(rest[1]),
        "utime": int(rest[11]),
        "stime": int(rest[12]),
        "cutime": int(rest[13]),
        "cstime": int(rest[14]),
        "rss_pages": int(rest[21]),
    }


def read_all() -> dict[int, dict]:
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                st = parse_stat(f.read())
        except (FileNotFoundError, ProcessLookupError):
            continue  # exited between listdir and open
        out[st["pid"]] = st
    return out


def subtree(stats: dict[int, dict], root: int) -> list[dict]:
    """``root`` and all its live descendants."""
    children: dict[int, list[int]] = {}
    for st in stats.values():
        children.setdefault(st["ppid"], []).append(st["pid"])
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        if pid in stats:
            out.append(stats[pid])
        todo.extend(children.get(pid, ()))
    return out


def cpu_s(tree: list[dict]) -> float:
    """CPU seconds used by the processes in ``tree`` and by their reaped
    children.  A live process never appears in another's ``cutime``, so
    nothing is counted twice."""
    ticks = sum(st["utime"] + st["stime"] + st["cutime"] + st["cstime"]
                for st in tree)
    return ticks / CLK_TCK


def rss_mb(tree: list[dict]) -> float:
    return sum(st["rss_pages"] for st in tree) * PAGE / 2**20


def by_comm(tree: list[dict]) -> dict[str, tuple[int, float]]:
    """``{command name: (processes, RSS MB)}``."""
    out: dict[str, tuple[int, float]] = {}
    for st in tree:
        n, mb = out.get(st["comm"], (0, 0.0))
        out[st["comm"]] = (n + 1, mb + st["rss_pages"] * PAGE / 2**20)
    return out


class TreeSampler:
    """Samples the RSS of this process tree every ``SAMPLE_S`` seconds on a
    thread and keeps the peak.

    A process counts from its second sample on: a child forked by the JVM
    shares the JVM's pages until it execs, and counting that instant would
    add the whole JVM a second time.  ``cpu_s()`` reads the tree's CPU on
    demand; the peak covers the time between ``reset_peak()`` and the last
    sample.
    """

    def __init__(self):
        self.root = os.getpid()
        self.peak_mb = 0.0
        self.peak_by_comm: dict[str, tuple[int, float]] = {}
        self._seen: set[int] = set()
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True,
                                        name="proc-tree-sampler")

    def __enter__(self) -> "TreeSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    def _run(self) -> None:
        while not self._stop.wait(SAMPLE_S):
            self.sample()

    def sample(self) -> float:
        with self._lock:
            tree = subtree(read_all(), self.root)
            seen, self._seen = self._seen, {st["pid"] for st in tree}
            tree = [st for st in tree if st["pid"] in seen]
            mb = rss_mb(tree)
            if mb > self.peak_mb:
                self.peak_mb = mb
                self.peak_by_comm = by_comm(tree)
        return mb

    def reset_peak(self) -> None:
        with self._lock:
            self.peak_mb = 0.0
            self.peak_by_comm = {}
        self.sample()

    def cpu_s(self) -> float:
        return cpu_s(subtree(read_all(), self.root))
