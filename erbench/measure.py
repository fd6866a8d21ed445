"""Measurement helpers: contingency-count F1, process memory from /proc,
and a shutdown that waits for every process a Spark session started."""

from __future__ import annotations

import os
import threading
import time
from collections import Counter

_PAGE = os.sysconf("SC_PAGE_SIZE")


def comb2(n: int) -> int:
    return n * (n - 1) // 2


def contingency_f1(cells: Counter) -> float:
    """Mention-pair F1 from ``{(truth_label, cluster): n_mentions}``.

    TP = sum C(n_ij, 2) over cells, predicted pairs = sum C(n_i, 2) over
    clusters, true pairs = sum C(n_j, 2) over labels, and
    F1 = 2 TP / (predicted + true).  No pair is enumerated, so this
    scales with the number of (label, cluster) cells, not mentions."""
    by_cluster, by_label = Counter(), Counter()
    for (label, cluster), n in cells.items():
        by_cluster[cluster] += n
        by_label[label] += n
    tp = sum(comb2(n) for n in cells.values())
    denom = sum(comb2(n) for n in by_cluster.values()) + sum(
        comb2(n) for n in by_label.values()
    )
    return 1.0 if denom == 0 else 2 * tp / denom


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:  # the process exited while we listed /proc
            continue
        # comm may hold spaces or parens; fields resume after the last ')'
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def descendants(pid: int) -> list[int]:
    kids, out, todo = _children_map(), [], [pid]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as fh:
            return int(fh.read().split()[1]) * _PAGE
    except OSError:
        return 0


class PeakRss:
    """Samples the summed RSS of this process and all its descendants
    (the Spark JVM and its Python workers) on a background thread."""

    def __init__(self, interval_s: float = 0.25):
        self.interval_s = interval_s
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> None:
        me = os.getpid()
        total = sum(_rss_bytes(p) for p in [me, *descendants(me)])
        self.peak_bytes = max(self.peak_bytes, total)

    def _run(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
        self._sample()

    @property
    def peak_mb(self) -> float:
        return self.peak_bytes / (1024 * 1024)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def stop_spark(spark, timeout_s: float = 60.0) -> None:
    """Stop the session and wait until its JVM and every Python worker
    the JVM forked have exited."""
    from pyspark import SparkContext

    procs = descendants(os.getpid())
    gateway = SparkContext._gateway
    jvm = gateway.proc
    spark.stop()
    gateway.shutdown()  # no more commands to the JVM, even at exit
    jvm.stdin.close()  # the gateway JVM exits on stdin EOF
    jvm.wait(timeout=timeout_s)
    deadline = time.monotonic() + timeout_s
    while any(_alive(p) for p in procs):
        if time.monotonic() > deadline:
            raise RuntimeError("Spark processes outlived the session")
        time.sleep(0.1)
