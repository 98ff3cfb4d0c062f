"""Measurement helpers: spans, executed-plan metrics, process-tree RSS and
host stamps.  Everything is read from outside the program: spans wrap calls
into the package's public functions, plan metrics come from the executed
``QueryExecution`` Spark keeps for a forced plan, RSS from ``/proc``."""

from __future__ import annotations

import os
import threading
import time
from contextlib import contextmanager


class Spans:
    """In-memory span recorder: (id, name, start, end, parent); written out
    only when the benchmark ends."""

    def __init__(self):
        self.records: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        rec = {"id": len(self.records), "name": name,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter(), "end": None}
        self.records.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def duration(self, name: str) -> float:
        """Duration of the last finished span called ``name``."""
        for rec in reversed(self.records):
            if rec["name"] == name and rec["end"] is not None:
                return rec["end"] - rec["start"]
        raise KeyError(name)


# ------------------------------------------------------------ plan metrics

def _iter(scala_iterable):
    it = scala_iterable.iterator()
    while it.hasNext():
        yield it.next()


def _children(node):
    kids = list(_iter(node.children()))
    kind = node.getClass().getSimpleName()
    if kind == "AdaptiveSparkPlanExec":
        kids.append(node.executedPlan())
    elif kind.endswith("QueryStageExec"):
        kids.append(node.plan())
    elif kind == "InMemoryTableScanExec":
        kids.append(node.relation().cachedPlan())
    return kids


def plan_nodes(plan) -> list[tuple[str, dict]]:
    """(nodeName, {metric: value}) for every node of an executed physical
    plan, descending through AQE query stages and cached relations."""
    out = []
    stack = [plan]
    while stack:
        node = stack.pop()
        metrics = {kv._1(): kv._2().value() for kv in _iter(node.metrics())}
        out.append((node.nodeName().strip(), metrics))
        stack.extend(reversed(_children(node)))
    return out


def force(df):
    """Execute ``df``'s full plan without a sink; returns (rows, executed
    plan nodes).  Runs on the DataFrame's own QueryExecution so its SQL
    metrics are filled (``write.noop`` would build a fresh one)."""
    qe = df._jdf.queryExecution()
    rows = qe.toRdd().count()
    return rows, plan_nodes(qe.executedPlan())


def summarize_plan(nodes) -> dict:
    """Counts and sums over one executed plan."""
    def total(name_pred, metric):
        return sum(m.get(metric, 0) for n, m in nodes if name_pred(n))

    def is_arrow(n):
        return n == "MapInArrow"

    def is_exchange(n):  # shuffle exchanges; broadcasts are not counted
        return n.startswith("Exchange")
    return {
        "scan_nodes": sum(1 for n, _ in nodes if n.startswith("Scan ")),
        "arrow_nodes": sum(1 for n, _ in nodes if is_arrow(n)),
        "arrow_sent_b": total(is_arrow, "pythonDataSent"),
        "arrow_recv_b": total(is_arrow, "pythonDataReceived"),
        "py_boot_ms": total(is_arrow, "pythonBootTime"),
        "py_init_ms": total(is_arrow, "pythonInitTime"),
        "py_total_ms": total(is_arrow, "pythonTotalTime"),
        "exchange_nodes": sum(1 for n, _ in nodes if is_exchange(n)),
        "shuffle_b": total(is_exchange, "dataSize"),
    }


# --------------------------------------------------------------------- RSS

def _tree_pids(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(name))
    out, stack = [], [root]
    while stack:
        pid = stack.pop()
        out.append(pid)
        stack.extend(children.get(pid, ()))
    return out


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def tree_rss_mb(root: int | None = None) -> dict[str, float]:
    """Summed RSS in MB of the driver (``root``), the JVM and the Python
    workers under it, and their ``total``.  Other descendants are short-lived
    helpers the JVM forks (their RSS briefly reads as a copy of the JVM's),
    so they are not counted."""
    root = root or os.getpid()
    out = {"driver": _rss_kb(root) / 1024.0, "java": 0.0, "python": 0.0,
           "n_python": 0}
    for pid in _tree_pids(root):
        comm = _comm(pid)
        if pid != root and comm.startswith("python"):
            out["python"] += _rss_kb(pid) / 1024.0
            out["n_python"] += 1
        elif comm == "java":
            out["java"] += _rss_kb(pid) / 1024.0
    out["total"] = out["driver"] + out["java"] + out["python"]
    return out


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return ""


class RssSampler:
    """Samples the summed RSS of this process tree (JVM and Python workers
    included) every ``interval`` seconds while active; keeps the peaks."""

    def __init__(self, interval: float = 0.25):
        self.interval = interval
        self.peak: dict[str, float] = {}
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _run(self):
        root = os.getpid()
        while not self._stop.is_set():
            for k, v in tree_rss_mb(root).items():
                self.peak[k] = max(self.peak.get(k, 0.0), v)
            self._stop.wait(self.interval)

    def __enter__(self):
        self._stop.clear()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)


# -------------------------------------------------------------- host state

def _cpu_jiffies() -> tuple[int, int]:
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return (vals[7] if len(vals) > 7 else 0), sum(vals)


def memcopy_gbps(mb: int = 64) -> float:
    import numpy as np
    a = np.ones(mb * (1 << 20) // 8)
    b = np.empty_like(a)
    best = float("inf")
    for _ in range(3):
        t0 = time.perf_counter()
        np.copyto(b, a)
        best = min(best, time.perf_counter() - t0)
    return a.nbytes / best / 1e9


def host_state() -> dict:
    steal, total = _cpu_jiffies()
    return {"loadavg": list(os.getloadavg()), "steal_jiffies": steal,
            "total_jiffies": total, "memcopy_gbps": round(memcopy_gbps(), 3),
            "nproc": os.cpu_count()}
