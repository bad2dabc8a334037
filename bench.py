"""Benchmark harness for the operator battery, the flagship pipeline
and the streaming drain, measured at the host's core count.

Sections (a default run measures all three, each fresh):

- battery: per-query wall time for every ``HEADLINE`` query of
  ``__spark_entry__.queries()`` at $SPARK_GRAFT_SF_DIR (default: the
  sf0.1 test data), each run to a noop sink (full pipeline execution,
  no collect) in one shared warm JVM. A query runs
  up to 4 reps; it stops after 2 once one rep had steal < 500 jiffies
  and the last rep did not improve > 20 % on the one before (still
  warming). The kept time is the fastest steal-clean rep (the fastest
  rep when none is clean), and its steal delta is recorded beside it.
- flagship: sustained events/s of the sliding-window pipeline over the
  event table replicated ``AMP``× (row count reported).
- streaming: sustained rows/s and p50/p99 micro-batch duration of an
  availableNow drain of the same amplified stream (best of 2 fresh
  JVMs, each rep stamped with its steal delta; a steal-clean rep wins
  over a faster noisy one), plus true window-emit latency on a live
  wall-clock feed over a small (window, watermark, trigger,
  state store) grid.

Output contract: after each section the harness writes the full
artifact to BENCH/latest_full.json (BENCH/latest_fast.json for a
partial run or when SPARK_GRAFT_SF_DIR is set, so those never
overwrite the default full-SF artifact) and prints a compact JSON summary of ≤ 1500 bytes on
one stdout line. The last stdout line is therefore always a complete
artifact holding only what this process measured:
  {"metric": "headline_battery_seconds", "value": N, "unit": "sec",
   "queries": {...}, "sf": ..., "throughput": {...}, "streaming": {...}}

Usage:
  python bench.py                  # battery + flagship + streaming
  python bench.py QUERY [QUERY..]  # battery restricted to these queries
  python bench.py --stream-only    # streaming section only
  python bench.py --stream N       # internal: one drain at local[N]
  python bench.py --live N [WIN WM TRIG_MS] [rocksdb|hdfs]
                                   # internal: one live-feed latency run

Env: SPARK_GRAFT_SF_DIR (input dir), SPARK_GRAFT_CPUS (cores, default
this process's CPU affinity), SPARK_GRAFT_BENCH_AMP (amplification,
default 1024).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent
sys.path.insert(0, str(REPO))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", len(os.sched_getaffinity(0))))
AMP = int(os.environ.get("SPARK_GRAFT_BENCH_AMP", "1024"))

HEADLINE = [
    "win_tb_tumbling",
    "win_tb_sliding",
    "win_cb_sliding",
    "win_nic_median",
    "pane_farm_sliding",
    "win_mapreduce_sliding",
    "session_windows",
    "accumulator",
    "asof_join",
    "ysb_pipeline",
    "micro1_stateless",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "embedding_topk",
    "text_quality",
    "cep_pattern",
    "text_repetition",
    "cep_skip",
    "cep_kleene",
    "pack_bucketed_dense",
]

BATTERY_STEAL_CAP = 500  # jiffies over a ≤ few-sec query ⇒ clean
STREAM_STEAL_CAP = 1000  # jiffies over a whole drain subprocess ⇒ clean


def _spark(master: str, parts: int):
    from windflow_spark.session import get_spark

    return get_spark(
        "windflow-bench", master=master, shuffle_partitions=parts,
        extra_conf={
            "spark.sql.autoBroadcastJoinThreshold": "64MB",
            # throughput GC: the windowed-agg path is allocation-heavy
            "spark.driver.extraJavaOptions": "-XX:+UseParallelGC -XX:NewRatio=1",
        },
    )


def _noop(df) -> None:
    df.write.mode("overwrite").format("noop").save()


def _amp_path(amp: int) -> str:
    """Cache dir of the amplified input, keyed by source SF and amp so
    a run at another SF never reads this one's copy. "_ts" marks the
    time-clustered layout."""
    sf_tag = Path(SF_DIR).name
    return f"/tmp/windflow_bench/events_{sf_tag}_amp{amp}_ts"


def materialize_amplified(spark, sf_dir: str, amp: int, n_files: int = 256) -> str:
    """Write the amplified event stream once (reused while its
    ``_SUCCESS`` marker exists) and return its path: events replicated
    ``amp``× with per-replica key/value/ts perturbation so parquet
    can't RLE the copies away, as ``n_files`` files so the scan has a
    split for every core.

    The layout is time-clustered (repartitionByRange + sort on ts), as
    a real stream or a time-partitioned table delivers it: each scan
    task then sees only the few panes its time slice covers, so its
    map-side partial-aggregation state stays cache-resident."""
    from pyspark.sql import functions as F

    path = _amp_path(amp)
    if not (Path(path) / "_SUCCESS").exists():
        ev = spark.read.parquet(f"{sf_dir}/events.parquet").repartition(n_files)
        amped = (
            ev.withColumn("rep", F.explode(F.sequence(F.lit(1), F.lit(amp))))
            .withColumn("k", F.concat_ws("-", "event_type", F.col("rep") % 8))
            .withColumn("value", F.col("value") + F.col("rep") * 0.001)
            .withColumn(
                "ts",
                F.timestamp_micros(
                    F.unix_micros(F.col("ts").cast("timestamp")) + F.col("rep") * 1000
                ),
            )
        )
        (
            amped.repartitionByRange(n_files, "ts")
            .sortWithinPartitions("ts")
            .write.mode("overwrite")
            .parquet(path)
        )
    return path


def flagship(spark, amp: int):
    """Transcripts-shaped flagship: Source→Map→Filter→keyBy→
    sliding_agg(TB 1h/15min sum+count)→sink over the materialized
    amplified stream. sliding_agg routes by input size (pane
    decomposition at this size, the direct plan on the unamplified
    battery inputs); the output is identical either way
    (test_windows::sliding_agg_auto)."""
    from pyspark.sql import functions as F

    from windflow_spark.api import Pipe
    from windflow_spark.operators.windows import WinSpec, epoch_us

    ev = spark.read.parquet(_amp_path(amp))
    return (
        Pipe.source(ev)
        .map(us=epoch_us("ts"))
        .filter(F.col("value") > 0)
        .key_by("k")
        .sliding_agg(
            "us", WinSpec("tb", 3_600_000_000, 900_000_000),
            aggs={"cnt": ("count", "value"), "sum_value": ("sum", "value")},
        )
        .df
    )


COMPACT_MAX_BYTES = 1500


def _compact(a: dict, artifact_file: str = "BENCH/latest_full.json") -> dict:
    """Summary of the artifact for the last stdout line: the sections
    present in ``a`` only, ≤ COMPACT_MAX_BYTES when serialized with
    compact separators. The per-query map is the only unbounded part;
    it is replaced by a note when the line would exceed the limit (full
    data is always in ``artifact_file``)."""
    c = {k: a[k] for k in ("metric", "value", "unit") if k in a}
    if a.get("queries"):
        c["queries"] = {k: round(v, 2) for k, v in a["queries"].items()}
    c["sf"] = a["sf"]
    t = a.get("throughput") or {}
    if t:
        c["throughput"] = {
            "events_per_sec": t["events_per_sec"],
            "rows_in": t["flagship_rows_in"],
        }
    s = a.get("streaming") or {}
    if s:
        c["streaming"] = {
            k: s[k]
            for k in (
                "sustained_rows_per_sec", "p50_batch_ms", "p99_batch_ms",
                "windows_emitted", "emit_p50_ms", "emit_p99_ms",
            )
            if s.get(k) is not None
        }
    c["full_artifact"] = artifact_file
    if len(json.dumps(c, separators=(",", ":"))) > COMPACT_MAX_BYTES:
        c["queries"] = f"(dropped, {len(a['queries'])} entries — see full artifact)"
    return c


def _steal_jiffies() -> int:
    """Host-wide hypervisor steal, in jiffies, from /proc/stat (-1 when
    unreadable). Callers record the delta across a sample so a reader
    can discount samples slowed by steal bursts."""
    try:
        with open("/proc/stat") as f:
            return int(f.readline().split()[8])
    except Exception:
        return -1


def run_stream_bench(cores: int, max_files: int = 32) -> None:
    """One streaming drain in this JVM; prints one JSON line. The
    amplified event stream goes through a watermarked sliding-window
    aggregate with the RocksDB state store, drained availableNow.
    Reports sustained rows/s and p50/p99 micro-batch duration (a
    window is emitted in the batch whose watermark passes its end, so
    batch duration bounds emit latency; run_live_latency measures the
    true emit latency on a wall clock).

    ``max_files`` bounds micro-batch size (256 input files / 32 = 8
    batches): smaller batches cap what one steal-stalled straggler
    batch adds to p99, while per-batch state-commit overhead stays
    amortized."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from windflow_spark.operators.windows import WinSpec
    from windflow_spark.session import get_spark
    from windflow_spark.streaming import engine as se

    spark = get_spark(
        "windflow-stream-bench", master=f"local[{cores}]",
        shuffle_partitions=cores, streaming=True,
        extra_conf={
            "spark.driver.extraJavaOptions": "-XX:+UseParallelGC -XX:NewRatio=1"
        },
    )
    materialize_amplified(spark, SF_DIR, AMP)
    src_path = _amp_path(AMP)
    n_in = spark.read.parquet(src_path).count()
    schema = spark.read.parquet(src_path).schema

    workdir = tempfile.mkdtemp(prefix="wf_stream_bench_")
    metrics = se.MetricsListener(f"{workdir}/metrics.jsonl")
    metrics.attach(spark)

    def drain(tag: str) -> float:
        src = se.stream_source(spark, src_path, schema,
                               max_files_per_trigger=max_files)
        out = se.stream_win_tb(
            src.filter(F.col("value") > 0), ["k"], "ts",
            WinSpec("tb", 3600, 900),
            aggs={"cnt": F.count(F.lit(1)), "sum_value": F.sum("value")},
            watermark="30 minutes", unit="second",
        )
        t0 = time.time()
        se.run_available_now(out, f"{workdir}/sink{tag}", f"{workdir}/ckpt{tag}",
                             timeout_sec=1200)
        return time.time() - t0

    # one drain per JVM: a second drain in the same JVM runs slower
    # (RocksDB instances of the first query linger), so
    # run_streaming_section starts a fresh subprocess per rep
    el = drain("0")
    time.sleep(2)  # listener is async
    durs = sorted(r["batch_duration_ms"] for r in metrics.rows if r["num_input_rows"])
    emitted = spark.read.parquet(f"{workdir}/sink0").count()
    shutil.rmtree(workdir, ignore_errors=True)
    print(
        json.dumps(
            {
                "cores": cores,
                "rows_in": n_in,
                "sec": round(el, 2),
                "sustained_rows_per_sec": round(n_in / el),
                "n_batches": len(durs),
                "p50_batch_ms": durs[len(durs) // 2] if durs else None,
                "p99_batch_ms": durs[min(len(durs) - 1, int(0.99 * len(durs)))]
                if durs
                else None,
                "windows_emitted": emitted,
                "state_store": "rocksdb",
                "max_files_per_trigger": max_files,
            }
        ),
        flush=True,
    )


def run_live_latency(
    cores: int = CPUS,
    duration_s: float = 24.0,
    win_s: int = 5,
    wm_s: int = 2,
    rows_per_file: int = 2000,
    file_every_s: float = 0.25,
    trigger_ms: int = 500,
    state_store: str = "rocksdb",
) -> None:
    """True window-emit latency on a live feed; prints one JSON line.
    Parquet files are appended on a wall clock with event ts = now and
    go through a watermarked tumbling aggregate;
    per emitted window, emit latency = (wall time the emitting
    micro-batch completed) − (window end). Event time == wall time at
    generation, so the latency includes everything a user waits for:
    the watermark delay (wm_s), trigger cadence, file-listing lag, and
    batch processing. Reports p50/p99 over emitted windows.

    Written with pyarrow (no Spark job contention on the writer side);
    foreachBatch records arrival wall time + the window ends it
    carried (append mode fires a window exactly once, when the
    watermark passes its end)."""
    import tempfile
    import threading

    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from windflow_spark.operators.windows import WinSpec
    from windflow_spark.session import get_spark
    from windflow_spark.streaming import engine as se

    # state-store A/B: extra_conf is applied after the streaming
    # block, so "hdfs" overrides the RocksDB provider back to the
    # HDFS-backed default (viable at this toy state size)
    spark = get_spark(
        "windflow-live-latency", master=f"local[{cores}]",
        shuffle_partitions=cores, streaming=True,
        extra_conf={
            "spark.sql.streaming.stateStore.providerClass":
                "org.apache.spark.sql.execution.streaming.state."
                "HDFSBackedStateStoreProvider"
        } if state_store == "hdfs" else None,
    )
    feed = tempfile.mkdtemp(prefix="wf_live_feed_")
    ckpt = tempfile.mkdtemp(prefix="wf_live_ckpt_")

    def write_file(i: int) -> None:
        now_us = int(time.time() * 1_000_000)
        tbl = pa.table(
            {
                "k": pa.array(
                    [f"k{j % 8}" for j in range(rows_per_file)], pa.string()
                ),
                "ts": pa.array(
                    np.full(rows_per_file, now_us, dtype=np.int64),
                    pa.timestamp("us"),
                ),
                "value": pa.array(
                    np.arange(rows_per_file, dtype=np.float64)
                ),
            }
        )
        pq.write_table(tbl, f"{feed}/part-{i:06d}.parquet")

    write_file(0)  # seed: defines the stream schema
    schema = spark.read.parquet(feed).schema

    emitted: list[tuple[float, int]] = []  # (batch-end wall secs, win_end epoch secs)

    def sink(batch_df, batch_id: int) -> None:
        ends = [r[0] for r in batch_df.select("win_end_s").distinct().collect()]
        wall = time.time()
        emitted.extend((wall, int(e)) for e in ends)

    src = se.stream_source(spark, feed, schema)
    out = se.stream_win_tb(
        src, ["k"], "ts", WinSpec("tb", win_s, win_s),
        aggs={"cnt": F.count(F.lit(1))},
        watermark=f"{wm_s} seconds", unit="second",
    ).withColumn("win_end_s", (F.col("gwid") + 1) * win_s)
    q = (
        out.writeStream.foreachBatch(sink)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(processingTime=f"{trigger_ms} milliseconds")
        .start()
    )

    stop = threading.Event()

    def writer() -> None:
        i = 1
        while not stop.is_set():
            write_file(i)
            i += 1
            stop.wait(file_every_s)

    t = threading.Thread(target=writer, daemon=True)
    t.start()
    time.sleep(duration_s)
    stop.set()
    t.join()
    # trailing closers: advance the watermark past the last full window
    # so its emission is measured too (a live stream would keep flowing)
    deadline = time.time() + win_s + wm_s + 4
    i = 10_000_000
    while time.time() < deadline:
        write_file(i)
        i += 1
        time.sleep(file_every_s)
    time.sleep(2)
    q.stop()
    q.awaitTermination(30)

    lats = sorted(
        (wall - we) * 1000 for wall, we in emitted if wall >= we
    )
    res = {
        "cores": cores,
        "state_store": state_store,
        "n_windows": len(lats),
        "win_s": win_s,
        "watermark_s": wm_s,
        "trigger_ms": trigger_ms,
        "feed_rows_per_sec": round(rows_per_file / file_every_s),
        "emit_p50_ms": round(lats[len(lats) // 2]) if lats else None,
        "emit_p99_ms": round(lats[min(len(lats) - 1, int(0.99 * len(lats)))])
        if lats
        else None,
        "note": "latency includes the watermark delay by construction "
                "(a window can only close once the watermark passes it)",
    }
    import shutil

    shutil.rmtree(feed, ignore_errors=True)
    shutil.rmtree(ckpt, ignore_errors=True)
    print(json.dumps(res), flush=True)


def run_battery(spark, names: list[str]) -> tuple[dict, dict]:
    """Time each named query to a noop sink in ``spark``'s warm JVM
    under the steal-stamped rep rule of the module docstring. Returns
    ({query: seconds}, {query: steal jiffies of the kept rep})."""
    import __spark_entry__ as em

    qs = em.queries()
    # warm the scans and one aggregate so the first timed query does
    # not absorb JIT and page-cache costs
    for t in ("events", "documents", "embeddings"):
        spark.read.parquet(f"{SF_DIR}/{t}.parquet").count()
    _noop(qs["win_tb_tumbling"](spark, SF_DIR))
    times: dict[str, float] = {}
    steal: dict[str, int] = {}
    for name in names:
        reps: list[tuple[float, int]] = []
        for i in range(4):
            s0 = _steal_jiffies()
            t0 = time.time()
            _noop(qs[name](spark, SF_DIR))
            el = time.time() - t0
            reps.append((el, _steal_jiffies() - s0))
            # cache-building queries (a persisted signature table, stages
            # still being JIT-compiled) keep speeding up for ~3 reps;
            # stopping early would record a point of the warm-up curve
            if (
                i >= 1
                and any(st < BATTERY_STEAL_CAP for _, st in reps)
                and reps[-1][0] > 0.8 * reps[-2][0]
            ):
                break
        clean = [r for r in reps if r[1] < BATTERY_STEAL_CAP]
        el, st = min(clean or reps)
        times[name] = round(el, 3)
        steal[name] = st
    return times, steal


def run_flagship(spark) -> dict:
    """Flagship throughput over the amplified stream: one warm-up run,
    then one timed run to a noop sink."""
    materialize_amplified(spark, SF_DIR, AMP)
    n_in = spark.read.parquet(_amp_path(AMP)).count()
    df = flagship(spark, AMP)
    _noop(df)
    t0 = time.time()
    _noop(df)
    fl_sec = time.time() - t0
    return {
        "flagship_rows_in": n_in,
        "flagship_sec": round(fl_sec, 3),
        "events_per_sec": round(n_in / fl_sec),
        "amplification": AMP,
    }


def _subprocess_json(args: list[str], timeout: int) -> dict | None:
    """Run ``bench.py *args`` in a fresh interpreter; its last JSON
    stdout line, or None when it printed none."""
    out = subprocess.run(
        [sys.executable, __file__, *args],
        capture_output=True, text=True, timeout=timeout, cwd=str(REPO),
        env={**os.environ, "SPARK_GRAFT_SF_DIR": SF_DIR},
    )
    lines = [l for l in out.stdout.splitlines() if l.startswith("{")]
    return json.loads(lines[-1]) if lines else None


def run_streaming_section(artifact: dict, emit) -> None:
    """Fill ``artifact["streaming"]``: best of 2 fresh-JVM drains at
    CPUS cores, each stamped with the host steal delta across its
    subprocess (a rep under STREAM_STEAL_CAP beats any rep over it),
    then the live-feed emit-latency grid. The (5 s window, 2 s
    watermark, 500 ms trigger, rocksdb) row supplies emit_p50/p99_ms;
    the same row on hdfs is the state-store A/B."""
    def rank(r: dict) -> tuple[bool, float]:
        return (r["steal_jiffies"] >= STREAM_STEAL_CAP, r["sec"])

    streaming: dict = {}
    artifact["streaming"] = streaming
    for _ in range(2):
        s0 = _steal_jiffies()
        cand = _subprocess_json(["--stream", str(CPUS)], timeout=1800)
        if cand is None:
            continue
        cand["steal_jiffies"] = _steal_jiffies() - s0
        if not streaming or rank(cand) < rank(streaming):
            streaming.clear()
            streaming.update(cand)
            emit()
    grid = []
    for win_s, wm_s, trig_ms, store in (
        (5, 2, 500, "rocksdb"),
        (5, 1, 250, "rocksdb"),
        (10, 2, 1000, "rocksdb"),
        (5, 2, 500, "hdfs"),
    ):
        live = _subprocess_json(
            ["--live", str(CPUS), str(win_s), str(wm_s), str(trig_ms), store],
            timeout=600,
        )
        if live is None:
            continue
        grid.append(live)
        if (win_s, wm_s, trig_ms, store) == (5, 2, 500, "rocksdb"):
            streaming["emit_latency"] = live
            streaming["emit_p50_ms"] = live.get("emit_p50_ms")
            streaming["emit_p99_ms"] = live.get("emit_p99_ms")
        emit()
    streaming["emit_latency_grid"] = grid
    emit()


def _make_emit(artifact: dict, name: str):
    def emit() -> None:
        path = REPO / "BENCH" / name
        path.parent.mkdir(exist_ok=True)
        path.write_text(json.dumps(artifact, indent=1))
        print(json.dumps(_compact(artifact, f"BENCH/{name}"),
                         separators=(",", ":")), flush=True)

    return emit


def _live_args(argv: list[str]) -> tuple[list[int], str]:
    """Parse ``--live`` arguments: up to 4 leading integers (cores, win,
    watermark, trigger ms), then an optional state store name."""
    ints = []
    for x in argv[:4]:
        try:
            ints.append(int(x))
        except ValueError:
            break
    rest = argv[len(ints):]
    return ints, rest[0] if rest and rest[0] in ("rocksdb", "hdfs") else "rocksdb"


def main(argv: list[str]) -> None:
    if "--stream" in argv:
        run_stream_bench(int(argv[argv.index("--stream") + 1]))
        return
    if "--live" in argv:
        ints, store = _live_args(argv[argv.index("--live") + 1:])
        kw = dict(zip(("cores", "win_s", "wm_s", "trigger_ms"), ints))
        run_live_latency(**kw, state_store=store)
        return
    stream_only = "--stream-only" in argv
    names = [a for a in argv if not a.startswith("--")]
    unknown = sorted(set(names) - set(HEADLINE))
    if unknown:
        raise SystemExit(f"unknown queries {unknown}; choose from {HEADLINE}")
    full = not (stream_only or names or "SPARK_GRAFT_SF_DIR" in os.environ)
    artifact: dict = {"sf": SF_DIR}
    emit = _make_emit(artifact, "latest_full.json" if full else "latest_fast.json")
    if not stream_only:
        spark = _spark(f"local[{CPUS}]", CPUS)
        times, steal = run_battery(spark, names or HEADLINE)
        artifact.update({
            "metric": "headline_battery_seconds",
            "value": round(sum(times.values()), 3),
            "unit": "sec",
            "queries": times,
            "queries_steal_jiffies": steal,
            "battery_steal_cap": BATTERY_STEAL_CAP,
        })
        if not names:
            artifact["throughput"] = run_flagship(spark)
        spark.stop()
        emit()
        if names:
            return
    run_streaming_section(artifact, emit)


if __name__ == "__main__":
    main(sys.argv[1:])
