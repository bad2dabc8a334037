"""Layer figures read from Spark after each action, from outside the
program: per-node SQL metrics from the session's SQL status store,
static plan-shape counts from the physical plan, and micro-batch
figures from `StreamingQueryProgress`.
"""

from __future__ import annotations

import re
import time

from windflow_spark.plans import audit

# SQL metric (node-name prefix or "", metric name) -> layer counter
NODE_METRICS = {
    ("Scan", "scan time"): "sources.scan_ms",
    ("Scan", "number of output rows"): "sources.rows_read",
    ("Scan", "size of files read"): "sources.bytes_read",
    ("", "sort time"): "operators.sort_ms",
    ("", "time in aggregation build"): "operators.agg_ms",
    ("", "spill size"): "operators.spill_bytes",
    ("Exchange", "shuffle bytes written"): "operators.exchange_bytes",
    ("Exchange", "shuffle write time"): "operators.shuffle_write_ms",
    ("Exchange", "fetch wait time"): "operators.fetch_wait_ms",
    ("", "data sent to Python workers"): "functions.python_bytes_sent",
    ("", "data returned from Python workers"): "functions.python_bytes_returned",
}
NODE_COUNTERS = sorted(set(NODE_METRICS.values()))

_SIZE = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40}
_TIME_MS = {"ms": 1, "s": 1_000, "m": 60_000, "min": 60_000, "h": 3_600_000}
_METRIC_RE = re.compile(r"SQLPlanMetric\(([^,]*),(\d+),(\w+)\)")
_ENTRY_SPLIT = re.compile(r"(?:^\w*Map\(|, )(\d+) -> ")

PYTHON_NODES = re.compile(
    r"\b(ArrowEvalPython|BatchEvalPython|MapInPandas|MapInArrow|PythonMapInArrow|"
    r"FlatMapGroupsInPandas|FlatMapCoGroupsInPandas|FlatMapGroupsInPandasWithState|"
    r"AggregateInPandas|WindowInPandas|TransformWithStateInPandas)"
)


def parse_value(text: str, mtype: str) -> float:
    """Total of one formatted SQL metric ('1.2 s', '212.4 KiB',
    '10,000', or 'total (min, med, max ...)\\n<total> (...)')."""
    if "\n" in text:
        text = text.split("\n", 1)[1]
    text = text.split("(", 1)[0].strip().replace(",", "")
    if not text:
        return 0.0
    parts = text.split()
    num = float(parts[0])
    unit = parts[1] if len(parts) > 1 else ""
    if mtype == "size":
        return num * _SIZE.get(unit, 1)
    if mtype in ("timing", "nsTiming"):
        return num * _TIME_MS.get(unit, 1)
    return num


def _parse_map(text: str) -> dict[str, str]:
    """Scala ``Map(12 -> 41 ms, 13 -> ...)`` text to {accumulator id:
    formatted value}; values may hold commas and parentheses but never
    ``N -> ``."""
    parts = _ENTRY_SPLIT.split(text.strip())
    out = dict(zip(parts[1::2], parts[2::2]))
    if parts[1:]:
        out[parts[-2]] = parts[-1][:-1]  # closing parenthesis of Map(...)
    return out


class NodeMetrics:
    """Sums node metrics over the SQL executions started since
    ``mark()``; reading waits for the listener bus to drain."""

    def __init__(self, spark):
        self.spark = spark
        self.store = spark._jsparkSession.sharedState().statusStore()

    def mark(self) -> int:
        return int(self.store.executionsCount())

    def read_since(self, mark: int) -> dict[str, float]:
        bus = self.spark.sparkContext._jsc.sc().listenerBus()
        bus.waitUntilEmpty()
        out = dict.fromkeys(NODE_COUNTERS, 0.0)
        out["node_time_ms"] = 0.0
        n = int(self.store.executionsCount())
        if n <= mark:
            return out
        execs = self.store.executionsList(mark, n - mark)
        for i in range(execs.size()):
            eid = execs.apply(i).executionId()
            self._wait_done(eid)
            values = _parse_map(self.store.executionMetrics(eid).toString())
            nodes = self.store.planGraph(eid).allNodes()
            for j in range(nodes.size()):
                node = nodes.apply(j)
                name = node.name()
                for mname, acc, mtype in _METRIC_RE.findall(node.metrics().toString()):
                    raw = values.get(acc)
                    if raw is None:
                        continue
                    v = parse_value(raw, mtype)
                    if mtype in ("timing", "nsTiming") and mname != "metadata time":
                        out["node_time_ms"] += v
                    for (prefix, metric), key in NODE_METRICS.items():
                        if metric == mname and name.startswith(prefix):
                            out[key] += v
        return out

    def _wait_done(self, eid: int, timeout_s: float = 2.0) -> None:
        deadline = time.monotonic() + timeout_s
        while time.monotonic() < deadline:
            data = self.store.execution(eid)
            if data.isDefined() and data.get().completionTime().isDefined():
                return
            time.sleep(0.01)


def plan_counts(df) -> dict[str, int]:
    """Static plan shape (before adaptive re-optimisation)."""
    plan = audit.physical_plan(df)
    return {
        "plans.exchanges": audit.count_exchanges(df),
        "plans.sorts": len(re.findall(r"\bSort \[", plan)),
        "plans.python_nodes": len(PYTHON_NODES.findall(plan)),
        "plans.unbounded_frames": len(re.findall("unboundedfollowing", plan, re.I)),
    }


def batch_phases(progress) -> dict[str, float]:
    """One micro-batch's phase times (ms) and state figures from a
    StreamingQueryProgress."""
    d = progress.durationMs or {}
    trig = float(d.get("triggerExecution", 0))
    named = {
        "streaming.add_batch_ms": d.get("addBatch", 0),
        "streaming.query_planning_ms": d.get("queryPlanning", 0),
        "streaming.wal_commit_ms": d.get("walCommit", 0),
        "streaming.commit_offsets_ms": d.get("commitOffsets", 0),
        "sources.latest_offset_ms": d.get("latestOffset", 0),
        "sources.get_batch_ms": d.get("getBatch", 0),
    }
    out = {k: float(v) for k, v in named.items()}
    out["streaming.other_ms"] = trig - sum(out.values())
    out["streaming.trigger_ms"] = trig
    ops = progress.stateOperators or []
    out["streaming.state_commit_ms"] = float(sum(o.commitTimeMs for o in ops))
    out["streaming.state_update_ms"] = float(sum(o.allUpdatesTimeMs for o in ops))
    out["streaming.state_rows"] = float(sum(o.numRowsTotal for o in ops))
    out["streaming.state_bytes"] = float(sum(o.memoryUsedBytes for o in ops))
    out["streaming.rows_dropped_late"] = float(sum(o.numRowsDroppedByWatermark for o in ops))
    cm = [o.customMetrics or {} for o in ops]
    out["streaming.rocksdb_flush_ms"] = float(sum(m.get("rocksdbCommitFlushLatency", 0) for m in cm))
    out["streaming.rocksdb_checkpoint_ms"] = float(
        sum(m.get("rocksdbCommitCheckpointLatency", 0) for m in cm))
    out["rows"] = float(progress.numInputRows or 0)
    return out
