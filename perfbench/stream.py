"""The streaming drain: pre-written event files drained availableNow
(a closed loop), first through the watermarked sliding-window aggregate
(`stream_win_tb`, RocksDB state), then through the count-based windows
(`stream_cb_windows`, Python state).
"""

from __future__ import annotations

import os
import time
from datetime import datetime

import gen
from harness import Bench
from spans import median
from sparkmetrics import NodeMetrics, batch_phases

TB_WIN_S, TB_SLIDE_S = 300, 60
CB_WIN, CB_SLIDE = 64, 16


class ProgressLog:
    """Collects StreamingQueryProgress events."""

    def __init__(self, spark):
        from pyspark.sql.streaming import StreamingQueryListener

        self.spark, self.events = spark, []
        log = self

        class _L(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                log.events.append(event.progress)

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        spark.streams.addListener(_L())

    def take(self) -> list:
        """The events posted so far, once the listener bus has
        delivered them all."""
        self.spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
        out, self.events = self.events, []
        return out


def _epoch_ms(iso: str) -> float:
    return datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp() * 1000


def _phase_medians(b: Bench, batches: list[dict]) -> None:
    """Per-batch medians of the phase times; means for the RocksDB
    commit phases, which are zero except on snapshot batches."""
    for k in batches[0] if batches else ():
        if k.startswith("streaming.rocksdb_"):
            b.layer[k] = sum(x[k] for x in batches) / len(batches)
        elif k in b.layer and k not in ("streaming.state_rows", "streaming.state_bytes",
                                        "streaming.rows_dropped_late"):
            b.layer[k] = median(x[k] for x in batches)


# ------------------------------------------------------------ stream_drain

TB_SQL = f"""
WITH e AS (SELECT k, value, epoch_us(ts) AS us FROM drain WHERE NOT late),
w AS (SELECT k, value, unnest(generate_series(
        cast(floor((us - {TB_WIN_S * 10**6}) / {TB_SLIDE_S * 10**6}.0) AS BIGINT) + 1,
        cast(floor(us / {TB_SLIDE_S * 10**6}.0) AS BIGINT))) AS gwid FROM e)
SELECT k, gwid, count(*) AS cnt, round(sum(value), 3) AS sum_value FROM w
GROUP BY k, gwid
HAVING (gwid * {TB_SLIDE_S} + {TB_WIN_S}) * 1000000
       <= (SELECT max(epoch_us(ts)) FROM drain WHERE NOT late) - {gen.DRAIN['watermark_s']} * 1000000
"""
CB_SQL = f"""
WITH w AS (SELECT k, value, unnest(generate_series(
        greatest(0, cast(floor((id - {CB_WIN}) / {CB_SLIDE}.0) AS BIGINT) + 1),
        cast(floor(id / {CB_SLIDE}.0) AS BIGINT))) AS gwid FROM drain),
n AS (SELECT k, max(id) AS top FROM drain GROUP BY k)
SELECT w.k, gwid, count(*) AS cnt, round(sum(value), 3) AS sum_value
FROM w JOIN n USING (k) WHERE gwid * {CB_SLIDE} + {CB_WIN} - 1 <= top
GROUP BY w.k, gwid
"""


def _drain_queries(spark, path: str, schema, files_per_trigger: int):
    from pyspark.sql import functions as F

    from windflow_spark.operators.windows import WinSpec
    from windflow_spark.streaming import engine as se

    def tb():
        src = se.stream_source(spark, path, schema, max_files_per_trigger=files_per_trigger)
        return se.stream_win_tb(
            src, ["k"], "ts", WinSpec("tb", TB_WIN_S, TB_SLIDE_S),
            aggs={"cnt": F.count(F.lit(1)), "sum_value": F.sum("value")},
            watermark=f"{gen.DRAIN['watermark_s']} seconds", unit="second")

    def cb():
        src = se.stream_source(spark, path, schema, max_files_per_trigger=files_per_trigger)
        return se.stream_cb_windows(src, "k", "id", "value", WinSpec("cb", CB_WIN, CB_SLIDE))

    return {"tb": tb, "cb": cb}


def _drain(b: Bench, build, tag: str) -> float:
    from windflow_spark.streaming import engine as se

    df = build()
    sink, ckpt = (os.path.join(b.work, f"{x}-{tag}") for x in ("sink", "ckpt"))
    t0 = time.perf_counter()
    se.run_available_now(df, sink, ckpt, timeout_sec=150)
    return time.perf_counter() - t0


def _subset(src: str, dst: str, n: int) -> str:
    """A directory holding the first ``n`` input files (hard links)."""
    os.makedirs(dst)
    for f in sorted(os.listdir(src))[:n]:
        os.link(os.path.join(src, f), os.path.join(dst, f))
    return dst


def drain_phase(b: Bench, path: str, planted: dict) -> float:
    """Drain the files at ``path`` through both queries once, one file a
    micro-batch. Fills the streaming layer figures and returns the rows
    per second the two queries sustain in turn at their median
    micro-batch: 2 / (1/r_tb + 1/r_cb), where r is a query's median over
    its batches of input rows / trigger time. A median over the batches
    leaves out the first, JIT-compiling batch of each query, so no
    warm-up drain is needed."""
    import duckdb

    fpt = gen.DRAIN["files_per_trigger"]
    print(f"# planted drain input: {planted}", flush=True)
    spark = b.spark
    schema = spark.read.parquet(path).schema
    log = ProgressLog(spark)
    nm = NodeMetrics(spark)

    walls: dict[str, float] = {}
    batches: dict[str, list[dict]] = {}
    for name, build in _drain_queries(spark, path, schema, fpt).items():
        mark = nm.mark()
        with b.tracer.span(f"drain:{name}") as sp:
            walls[name] = _drain(b, build, name)
        events = log.take()
        batches[name] = [batch_phases(p) for p in events if p.numInputRows]
        if b.trace:
            _batch_spans(b, sp, events)
            for k, v in nm.read_since(mark).items():
                if k in b.layer:
                    b.layer[k] += v
        _check_drain(b, name, duckdb, path)
    tb, cb = batches["tb"], batches["cb"]
    rates = {k: median(x["rows"] * 1000 / x["streaming.trigger_ms"] for x in v)
             for k, v in batches.items()}
    print(f"# drain walls (s) { {k: round(v, 2) for k, v in walls.items()} }; batch trigger "
          f"times (ms) { {k: [round(x['streaming.trigger_ms']) for x in v] for k, v in batches.items()} }",
          flush=True)

    # Spark counts late rows after window assignment: each planted late
    # row is dropped once from each of its win/slide windows.
    dropped = sum(x["streaming.rows_dropped_late"] for x in tb)
    want = planted["late"] * (TB_WIN_S // TB_SLIDE_S)
    b.attempted += 3  # two drains and the late-row count
    if dropped != want:
        b.fail("rows_dropped_late", f"dropped {dropped} vs {want} planted (key, window) rows")

    _phase_medians(b, tb + cb)
    b.layer["streaming.warmup_s"] = (tb[0]["streaming.trigger_ms"]
                                     + cb[0]["streaming.trigger_ms"]) / 1000
    b.layer["streaming.state_rows"] = tb[-1]["streaming.state_rows"]
    b.layer["streaming.state_bytes"] = tb[-1]["streaming.state_bytes"]
    b.layer["streaming.rows_dropped_late"] = dropped
    b.layer["streaming.batches"] = len(tb) + len(cb)
    b.layer["streaming.tb_rows_per_s"] = rates["tb"]
    b.layer["streaming.cb_rows_per_s"] = rates["cb"]
    if b.trace:
        b.layer["streaming.local1_rows_per_s"] = _local1(b, path, schema, fpt)
    return 2 / (1 / rates["tb"] + 1 / rates["cb"])


def _check_drain(b: Bench, name: str, duckdb, path: str) -> None:
    """Closed windows of the drain against DuckDB, outside the timed
    region."""
    from batch import compare

    con = duckdb.connect()
    con.execute(f"CREATE VIEW raw AS SELECT * FROM read_parquet('{path}/*.parquet')")
    # planted late rows lie a day behind; all others after EPOCH - watermark
    con.execute(f"""CREATE VIEW drain AS SELECT *,
        epoch_us(ts) < {gen.EPOCH_US - gen.DAY_US // 2} AS late FROM raw""")
    got = b.spark.read.parquet(os.path.join(b.work, f"sink-{name}")).toPandas()
    got["sum_value"] = got["sum_value"].round(3)
    want = con.execute(TB_SQL if name == "tb" else CB_SQL).df()
    err = compare(got[["k", "gwid", "cnt", "sum_value"]], want)
    if err:
        b.fail(f"drain_{name}", err)


def _batch_spans(b: Bench, pid: int, events: list) -> None:
    """One span per micro-batch under the drain span ``pid``, with its
    durationMs phases as children (laid end to end: the progress
    reports durations, not start times)."""
    clock = time.time() - time.perf_counter()  # wall clock -> span clock
    for p in events:
        d = p.durationMs or {}
        start = _epoch_ms(p.timestamp) / 1000 - clock
        end = start + d.get("triggerExecution", 0) / 1000
        bid = b.tracer.add(f"batch:{p.batchId}", start, end, parent=pid, rows=p.numInputRows)
        t = start
        for phase in ("latestOffset", "getBatch", "queryPlanning", "addBatch",
                      "walCommit", "commitOffsets"):
            dur = d.get(phase, 0) / 1000
            b.tracer.add(phase, t, t + dur, parent=bid)
            t += dur


def _local1(b: Bench, path: str, schema, fpt: int) -> float:
    """Single-threaded baseline: rows/s of one batch per query at
    local[1] (after a one-batch warm-up at that setting)."""
    b.spark.stop()
    spark = b.start_session(master="local[1]", streaming=True)
    first = _subset(path, os.path.join(b.work, "local1"), fpt)
    rows = spark.read.parquet(first).count()
    for name, build in _drain_queries(spark, first, schema, fpt).items():
        _drain(b, build, f"local1-warm-{name}")
    t = sum(_drain(b, build, f"local1-{name}")
            for name, build in _drain_queries(spark, first, schema, fpt).items())
    return rows / t
