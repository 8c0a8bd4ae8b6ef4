"""Measurement helpers: spans, Spark plan metrics and process-tree RSS.

Everything here observes the engine from outside, through its public
functions and Spark's own SQLMetrics; nothing is patched into the
engine.
"""

from __future__ import annotations

import json
import os
import statistics
import threading
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass


# ---------------------------------------------------------------- spans

@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    op: str | None


class Tracer:
    """Spans kept in memory; :meth:`dump` writes them to JSON.

    A span's self time is its duration minus its children's (children
    of one span run one after another, so their durations add)."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, op: str | None = None):
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        s = Span(sid, name, time.perf_counter(), 0.0, parent, op)
        self.spans.append(s)
        self._stack.append(sid)
        try:
            yield s
        finally:
            self._stack.pop()
            s.end = time.perf_counter()

    def self_time(self, s: Span) -> float:
        kids = sum(c.end - c.start for c in self.spans if c.parent == s.id)
        return (s.end - s.start) - kids

    def dump(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        spans = [dict(asdict(s), self_s=self.self_time(s)) for s in self.spans]
        with open(path, "w") as fh:
            json.dump({**extra, "spans": spans}, fh, indent=1)


# ---------------------------------------------------- Spark plan metrics

@dataclass
class Node:
    name: str
    metrics: dict[str, float]      # times in seconds, sizes in bytes
    partition_bytes: list[int]     # shuffle stages only (from mapStats)
    parent: int | None             # index of the parent node in the list


def _metric_value(m) -> float:
    kind = m.metricType()
    v = float(m.value())
    if kind == "nsTiming":
        return v / 1e9
    if kind == "timing":
        return v / 1e3
    return v


# nodes whose SQLMetrics the per-layer metrics read; the others are
# walked through without reading theirs, which keeps tracing cheap
_READ = ("Exchange", "Filter", "Aggregate", "Python", "Arrow", "Pandas")


def plan_nodes(spark, jdf) -> list[Node]:
    """The physical nodes of the action's final adaptive plan, with the
    SQLMetrics of joins, filters, exchanges and Python evaluators.  Call
    after an action that ran ``jdf``'s own QueryExecution (``collect``
    and ``toPandas`` do; ``count`` plans a new one)."""
    conv = spark._jvm.scala.jdk.javaapi.CollectionConverters
    out: list[Node] = []
    stack = [(jdf.queryExecution().executedPlan(), None)]
    while stack:
        n, parent = stack.pop()
        cls = n.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            stack.append((n.executedPlan(), parent))
            continue
        if cls == "ReusedExchangeExec":
            continue          # its metrics belong to the exchange it reuses
        if cls.endswith("QueryStageExec"):
            if cls == "ShuffleQueryStageExec":
                stats = n.mapStats()
                if stats.isDefined():
                    part = [int(b) for b in stats.get().bytesByPartitionId()]
                    out.append(Node("ShuffleStage", {}, part, parent))
            stack.append((n.plan(), parent))
            continue
        name = str(n.nodeName())
        metrics = {}
        if name.endswith("Join") or any(k in name for k in _READ):
            metrics = {str(k): _metric_value(v)
                       for k, v in conv.asJava(n.metrics()).items()}
        out.append(Node(name, metrics, [], parent))
        me = len(out) - 1
        for seq in (n.children(), n.subqueries()):
            for i in range(seq.size()):
                stack.append((seq.apply(i), me))
    return out


def python_totals(nodes: list[Node]) -> dict[str, float]:
    """Summed Arrow-crossing metrics over every Python-evaluating node."""
    tot = {"bytes_sent": 0.0, "bytes_received": 0.0, "init_s": 0.0}
    for n in nodes:
        m = n.metrics
        if "pythonDataSent" not in m:
            continue
        tot["bytes_sent"] += m.get("pythonDataSent", 0.0)
        tot["bytes_received"] += m.get("pythonDataReceived", 0.0)
        tot["init_s"] += m.get("pythonInitTime", 0.0)
    return tot


def exchange_totals(nodes: list[Node]) -> dict[str, float]:
    """Shuffle bytes and records over every Exchange; skew is the worst
    max ÷ median partition size (bytes, from the stage's map output
    statistics, which hold no per-partition record counts)."""
    tot = {"shuffle_bytes": 0.0, "records": 0.0, "skew": 0.0}
    for n in nodes:
        if n.name == "Exchange":
            tot["shuffle_bytes"] += n.metrics.get("shuffleBytesWritten", 0.0)
            tot["records"] += n.metrics.get("shuffleRecordsWritten", 0.0)
        if n.partition_bytes:
            nz = [b for b in n.partition_bytes if b > 0]
            if nz:
                tot["skew"] = max(tot["skew"], max(nz) / statistics.median(nz))
    return tot


def _depth(nodes: list[Node], i: int) -> int:
    d = 0
    while nodes[i].parent is not None:
        i, d = nodes[i].parent, d + 1
    return d


def _rows(n: Node) -> float:
    return n.metrics.get("numOutputRows", 0.0)


def join_rows(nodes: list[Node]) -> tuple[float, float, float]:
    """For the join nearest the plan's root: (rows in from its streamed,
    not broadcast, side; rows out; rows out of the nearest Filter above
    it).  A refine predicate either stays a Filter above the join (PIP's
    ray cast) or is folded into the join condition (radius, bbox), so
    the refine's candidates and kept rows are read from whichever
    applies.  Zeros when the plan has no join."""
    joins = [i for i, n in enumerate(nodes) if n.name.endswith("Join")]
    if not joins:
        return 0.0, 0.0, 0.0
    j = min(joins, key=lambda i: _depth(nodes, i))
    rows_in = 0.0
    level = [i for i, n in enumerate(nodes) if n.parent == j]
    while level and not rows_in:
        hit = [i for i in level if nodes[i].name != "BroadcastExchange"
               and "numOutputRows" in nodes[i].metrics]
        if hit:
            rows_in = _rows(nodes[hit[0]])
        level = [k for k, n in enumerate(nodes)
                 if n.parent in level and nodes[n.parent].name != "BroadcastExchange"]
    filtered, i = 0.0, nodes[j].parent
    while i is not None and not filtered:
        if nodes[i].name == "Filter":
            filtered = _rows(nodes[i])
        i = nodes[i].parent
    return rows_in, _rows(nodes[j]), filtered


# ------------------------------------------------------ process-tree RSS

def _tree(root: int) -> list[int]:
    """``root`` and all its descendants, from /proc."""
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                st = fh.read()
        except OSError:
            continue
        kids.setdefault(int(st[st.rfind(")") + 2:].split()[1]), []).append(int(d))
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def _status(pid: int) -> tuple[str, int, int] | None:
    """(name, VmRSS bytes, VmHWM bytes) of a live process."""
    try:
        with open(f"/proc/{pid}/status") as fh:
            f = dict(line.split(":", 1) for line in fh if ":" in line)
        return (f["Name"].strip(), int(f["VmRSS"].split()[0]) * 1024,
                int(f["VmHWM"].split()[0]) * 1024)
    except (OSError, KeyError, ValueError):
        return None


class RssSampler:
    """Samples this process tree's memory on a background thread.

    ``peak`` is the largest summed VmRSS seen; ``hwm`` sums each
    process's own high-water mark (VmHWM, kept by the kernel, so a
    spike between two samples still counts), per process name."""

    def __init__(self, interval_s: float = 0.25) -> None:
        self.interval_s = interval_s
        self.peak = 0
        self._hwm: dict[int, tuple[str, int]] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> None:
        total = 0
        for pid in _tree(os.getpid()):
            st = _status(pid)
            if st is None:
                continue
            name, rss, hwm = st
            total += rss
            self._hwm[pid] = (name, max(hwm, self._hwm.get(pid, ("", 0))[1]))
        self.peak = max(self.peak, total)

    def _run(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.interval_s)

    def hwm(self, prefix: str = "") -> tuple[int, int]:
        """(processes, summed VmHWM bytes) of the processes whose name
        starts with ``prefix``."""
        hits = [b for name, b in self._hwm.values() if name.startswith(prefix)]
        return len(hits), sum(hits)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
