"""Measurement helpers: the timed action, spans, plan metrics, host load.

Everything here observes the engine from outside: it calls the public
DataFrame / session surface and reads what the Spark JVM exposes (the
``QueryExecution`` phase tracker, SQL metrics of the final physical
plan, the status tracker).  The one exception is the traced run, which
wraps ``operators.sql_join.spatial_sql`` to record a span around each
call into the SQL join planner.
"""

from __future__ import annotations

import os
import resource
import time
from collections import defaultdict


def timed_action(df):
    """Execute the DataFrame's own physical plan and return its rows.

    ``collect`` runs ``Dataset.collectToPython`` on ``df``'s own
    ``QueryExecution``, so the optimized plan that runs is exactly
    ``df._jdf.queryExecution().optimizedPlan()``; ``count()`` would plan a
    new query whose optimizer prunes every column the row count does not
    need (a tokenizer, an aggregate, a final sort).  The rows come back
    because every operation's output is checked against its expected
    result.
    """
    return df.collect()


# -- spans --------------------------------------------------------------------

class Tracer:
    """In-memory spans of one run.  Each operation gets one root span; its
    children are the calls into layers, and all spans of one operation
    share its id.  Nothing is written until the run ends."""

    def __init__(self):
        self.spans = []          # [op_id, layer, start_s, end_s, parent]
        self._stack = []
        self.op_id = None

    def is_open(self):
        return bool(self._stack)

    def begin(self, layer, op_id=None):
        if op_id is not None:
            self.op_id = op_id
        parent = self._stack[-1] if self._stack else None
        self.spans.append([self.op_id, layer, time.time(), None, parent])
        self._stack.append(len(self.spans) - 1)

    def end(self):
        self.spans[self._stack.pop()][3] = time.time()

    def place(self, layer, start, end):
        """Add a closed span measured by another clock (the JVM's phase
        tracker, millisecond resolution) under the deepest span of the
        current operation that contains its midpoint, clamped to it."""
        mid = (start + end) / 2
        parent = None
        for i in range(len(self.spans) - 1, -1, -1):
            s = self.spans[i]
            if s[0] != self.op_id:
                break
            if s[2] <= mid <= s[3] and (parent is None or
                                        self._depth(i) > self._depth(parent)):
                parent = i
        if parent is None:
            return
        p = self.spans[parent]
        start, end = max(start, p[2]), min(end, p[3])
        # trim off the parent's other children: a phase the tracker sums
        # over several calls can straddle them, and overlapping siblings
        # would count the same time twice
        for s in self.spans[parent + 1:]:
            if s[4] == parent:
                if s[3] <= mid:
                    start = max(start, s[3])
                else:
                    end = min(end, s[2])
        self.spans.append([self.op_id, layer, start, max(start, end), parent])

    def _depth(self, i):
        d = 0
        while self.spans[i][4] is not None:
            i, d = self.spans[i][4], d + 1
        return d

    def op_spans(self, op_id):
        return [s for s in self.spans if s[0] == op_id]

    def self_times(self, op_id):
        """{layer: seconds} for one operation: each span's duration minus
        the part its direct children cover."""
        idx = [i for i, s in enumerate(self.spans) if s[0] == op_id]
        cover = defaultdict(float)
        for i in idx:
            s = self.spans[i]
            if s[4] is not None:
                cover[s[4]] += s[3] - s[2]
        out = defaultdict(float)
        for i in idx:
            s = self.spans[i]
            out[s[1]] += (s[3] - s[2]) - cover[i]
        return dict(out)


def wrap_sql_join(tracer):
    """Record a ``sql_join`` span around every ``spatial_sql`` call made
    while an operation is open (``session.sql`` and the registry look the
    function up at call time, so rebinding the module attributes is
    enough)."""
    from sedona_iceberg_extension_spark import operators
    from sedona_iceberg_extension_spark.operators import sql_join

    inner = sql_join.spatial_sql

    def spatial_sql(*args, **kwargs):
        if not tracer.is_open():
            return inner(*args, **kwargs)
        tracer.begin("sql_join")
        try:
            return inner(*args, **kwargs)
        finally:
            tracer.end()

    sql_join.spatial_sql = spatial_sql
    if getattr(operators, "spatial_sql", None) is inner:
        operators.spatial_sql = spatial_sql


# -- Catalyst phases ------------------------------------------------------------

def catalyst_phases(df):
    """{phase: (start_s, end_s)} from the DataFrame's QueryExecution
    tracker, read after the action on that same DataFrame."""
    phases = df._jdf.queryExecution().tracker().phases()
    out = {}
    for name in ("analysis", "optimization", "planning"):
        opt = phases.get(name)
        if opt.isDefined():
            p = opt.get()
            start = p.startTimeMs() / 1000.0
            out[name] = (start, start + p.durationMs() / 1000.0)
    return out


# -- SQL metrics of the executed plan ----------------------------------------------

_JOIN_NODES = ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin",
               "BroadcastNestedLoopJoin", "CartesianProduct")
# nodes that pass rows through without a row count of their own
_PASS_THROUGH = ("WholeStageCodegen", "InputAdapter", "Project",
                 "ColumnarToRow", "AQEShuffleRead", "Sort")


def _children(node):
    name = node.nodeName()
    if name == "AdaptiveSparkPlan":
        return [node.executedPlan()]
    if name.endswith("QueryStage"):
        return [node.plan()]
    kids = node.children()
    return [kids.apply(i) for i in range(kids.size())]


def _metric(node, key):
    opt = node.metrics().get(key)
    return int(opt.get().value()) if opt.isDefined() else 0


def _source(node):
    """The first node below ``node`` that is not a pass-through."""
    while True:
        kids = _children(node)
        if (not any(node.nodeName().startswith(w) for w in _PASS_THROUGH)
                or len(kids) != 1):
            return node
        node = kids[0]


def _rows_out(node):
    """Rows a node hands to its parent, looking through pass-through
    nodes; an exchange counts the records it wrote."""
    node = _source(node)
    name = node.nodeName()
    if name.startswith("Exchange") or name.startswith("ShuffleExchange"):
        return _metric(node, "shuffleRecordsWritten")
    return _metric(node, "numOutputRows")


def plan_metrics(df):
    """Counters summed over the final (AQE) physical plan of an executed
    DataFrame: files/bytes/rows scanned, shuffle bytes written, rows
    through Python or Arrow UDF nodes, and rows into and out of refine
    steps.  A refine step is a join (a grid join refines inside its join
    condition, and Spark counts a join's rows only after the condition)
    or a filter over computed rows (LSH candidates, aggregates) rather
    than over a scan."""
    out = defaultdict(int)
    stack = [df._jdf.queryExecution().executedPlan()]
    while stack:
        node = stack.pop()
        name = node.nodeName()
        kids = _children(node)
        if name.startswith("Scan ") or name.startswith("FileScan"):
            out["files_read"] += _metric(node, "numFiles")
            out["bytes_read"] += _metric(node, "filesSize")
            out["rows_scanned"] += _metric(node, "numOutputRows")
        elif name.startswith("Exchange") or name.startswith("ShuffleExchange"):
            out["shuffle_write_bytes"] += _metric(node, "shuffleBytesWritten")
        elif "Python" in name or "Pandas" in name or "Arrow" in name:
            out["python_rows"] += _metric(node, "pythonNumRowsReceived")
        elif name in _JOIN_NODES or (
                name == "Filter"
                and not _source(kids[0]).nodeName().startswith("Scan ")):
            rows_in = sum(_rows_out(k) for k in kids)
            if rows_in:
                out["refine_input_rows"] += rows_in
                out["refine_output_rows"] += _metric(node, "numOutputRows")
        stack.extend(kids)
    return dict(out)


class JobCounter:
    """Spark jobs, stages and tasks launched under one job group per
    operation, read from the status tracker (works with the UI off)."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.tracker = self.sc.statusTracker()

    def start(self, group):
        self.sc.setJobGroup(group, group)

    def drain(self):
        # the tracker is fed by the listener bus; let it catch up first
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()

    def counts(self, group):
        jobs = self.tracker.getJobIdsForGroup(group)
        stages = tasks = 0
        for j in jobs:
            info = self.tracker.getJobInfo(j)
            if info is None:
                continue
            for s in info.stageIds:
                st = self.tracker.getStageInfo(s)
                stages += 1
                tasks += st.numTasks if st is not None else 0
        return {"jobs": len(jobs), "stages": stages, "tasks": tasks}


# -- host telemetry and memory ---------------------------------------------------------

def _cpu_ticks():
    with open("/proc/stat") as fh:
        vals = [int(v) for v in fh.readline().split()[1:]]
    return {"total": sum(vals), "iowait": vals[4], "steal": vals[7]}


class HostSample:
    """Steal, iowait and load over one run, so a contended run shows in
    its own output instead of being averaged in silently."""

    def __init__(self):
        self.t0 = _cpu_ticks()
        self.load0 = os.getloadavg()[0]

    def result(self):
        t1 = _cpu_ticks()
        total = max(1, t1["total"] - self.t0["total"])
        return {
            "steal_pct": 100.0 * (t1["steal"] - self.t0["steal"]) / total,
            "iowait_pct": 100.0 * (t1["iowait"] - self.t0["iowait"]) / total,
            "load1": max(self.load0, os.getloadavg()[0]),
        }


def peak_rss_mb(jvm_pid):
    """Peak resident memory of the driver JVM plus this Python process."""
    kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    try:
        with open(f"/proc/{jvm_pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    kb += int(line.split()[1])
    except OSError:
        pass
    return kb / 1024.0
