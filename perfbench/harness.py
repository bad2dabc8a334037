"""Run context shared by the workloads: the Spark session and its
set-up trials, the timed op loop, failure accounting and the metric
tables.
"""

from __future__ import annotations

import os
import shutil
import subprocess
import tempfile
import time
import traceback
from dataclasses import dataclass, field
from typing import Callable

from spans import RssSampler, Tracer, median, tree_cpu_s

CORES = len(os.sched_getaffinity(0))
DRIVER_MEM = "2g"  # a fixed-size heap (-Xms = -Xmx): peak memory does not follow resizing
SETUP_TRIALS = 3
CODEGEN_CACHE = 1000
MIN_PASSES = 3  # a traced run alternates untraced and traced passes: two and one


class KnownDefect(str):
    """A check's reason for a mismatch with the oracle that has exactly
    the shape of a recorded defect (ADVICE.md: the LSH bucket cap and
    the edge-trim charset, whose NBSP half this benchmark found). The
    output then equals the reference rewritten to the engine's recorded
    behaviour, so the op does not count as failed; the defect is printed
    as a `# KNOWN DEFECT` line on every run. A raise or any other
    difference is a plain reason string: it counts in `failed` and makes
    `correct` false."""


END_TO_END = {
    "setup_s": "s", "cpu_s": "s", "items_per_s": "1/s", "peak_rss_mb": "MB",
}

PER_LAYER = {
    "session.start_s": "s", "session.jvm_launch_s": "s", "setup.gen_s": "s", "warmup_s": "s",
    "streaming.warmup_s": "s",
    "sources.scan_ms": "ms", "sources.rows_read": "count", "sources.bytes_read": "B",
    "sources.latest_offset_ms": "ms", "sources.get_batch_ms": "ms",
    **{f"operators.{m}_s": "s" for m in ("windows", "pane_farm", "sessions", "joins", "cep")},
    "operators.sort_ms": "ms", "operators.agg_ms": "ms", "operators.spill_bytes": "B",
    "operators.exchange_bytes": "B", "operators.shuffle_write_ms": "ms",
    "operators.fetch_wait_ms": "ms",
    **{f"functions.{m}_s": "s" for m in ("text", "dedup", "similarity")},
    "functions.python_bytes_sent": "B", "functions.python_bytes_returned": "B",
    "functions.lsh_candidate_pairs": "count", "functions.lsh_verified_pairs": "count",
    "functions.lsh_precision": "ratio",
    "jobs.curate_s": "s", "jobs.rows_in": "count", "jobs.after_quality": "count",
    "jobs.after_dedup_and_split": "count", "jobs.packed_bins": "count",
    "streaming.trigger_ms": "ms", "streaming.add_batch_ms": "ms",
    "streaming.query_planning_ms": "ms", "streaming.wal_commit_ms": "ms",
    "streaming.commit_offsets_ms": "ms", "streaming.other_ms": "ms",
    "streaming.state_commit_ms": "ms", "streaming.state_update_ms": "ms",
    "streaming.state_rows": "count", "streaming.state_bytes": "B",
    "streaming.rocksdb_flush_ms": "ms", "streaming.rocksdb_checkpoint_ms": "ms",
    "streaming.tb_rows_per_s": "1/s", "streaming.cb_rows_per_s": "1/s",
    "streaming.local1_rows_per_s": "1/s", "streaming.batches": "count",
    "streaming.rows_dropped_late": "count",
    "plans.exchanges": "count", "plans.sorts": "count", "plans.python_nodes": "count",
    "plans.unbounded_frames": "count",
    "node_time_ms": "ms", "untraced_ms": "ms", "trace.overhead_s": "s",
}


@dataclass
class Op:
    """One timed operation: ``build`` makes the DataFrame (the plan
    build), ``check`` compares the cold-pass output (pandas) with its
    reference and returns an error or None."""
    name: str
    layer: str  # e.g. "operators.cep", "functions.dedup"
    build: Callable
    check: Callable
    walls: list = field(default_factory=list)
    nodes: list = field(default_factory=list)
    plan: dict = field(default_factory=dict)
    execs: int = 0
    raised: bool = False
    cold_s: float = 0.0
    check_s: float = 0.0
    error: str | None = None


class Bench:
    def __init__(self, root: str, workload: str, seed: int, seconds: float, trace: bool):
        self.workload, self.seed = workload, seed
        self.seconds, self.trace = float(seconds), trace
        self.work = os.path.join(root, ".bench_work", f"{workload}-{seed}-{os.getpid()}")
        os.makedirs(self.work, exist_ok=True)
        self.tracer = Tracer(f"{workload}-{seed}-{os.getpid()}", trace)
        self.layer: dict[str, float] = dict.fromkeys(PER_LAYER, 0.0)
        self.failures: list[tuple[str, str]] = []
        self.attempted = 0
        self.pass_cpus: list[float] = []
        self.failed = 0
        self.spark = None
        self._gateway = None
        self.rss = RssSampler()
        # all temporary files (Python's, the JVM's, Spark's) stay in the checkout
        os.environ["TMPDIR"] = tempfile.tempdir = self.tmp = os.path.join(self.work, "tmp")
        os.makedirs(self.tmp, exist_ok=True)
        os.environ["SPARK_GRAFT_CPUS"] = str(CORES)

    # -- session -------------------------------------------------------
    def start_session(self, master: str | None = None, streaming: bool = False):
        from windflow_spark.session import get_spark

        os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
        local = os.path.join(self.work, "spark-local")
        self.spark = get_spark(
            f"perfbench-{self.workload}", master=master or f"local[{CORES}]",
            shuffle_partitions=CORES, streaming=streaming,
            extra_conf={
                "spark.local.dir": local,
                "spark.ui.showConsoleProgress": "false",
                # A pass runs every op of the workload in turn. Together they
                # generate about as many classes as Spark's default codegen
                # cache holds (100), so at the default some runs evict and
                # recompile ~20 classes every pass and JIT-compile them
                # again: 1.5-2x slower for the whole run, at random. A user
                # repeating one pipeline would not cycle through them.
                "spark.sql.codegen.cache.maxEntries": str(CODEGEN_CACHE),
                "spark.driver.extraJavaOptions":
                    f"-Xms{DRIVER_MEM} -XX:-UsePerfData -Djava.io.tmpdir={self.tmp}",
            },
        )
        from pyspark import SparkContext

        self._gateway = SparkContext._gateway
        return self.spark

    def setup(self, generate: Callable[[str], dict], streaming: bool = False) -> str:
        """Set up SETUP_TRIALS times; each trial (re)starts the session
        (the first also launches the JVM), generates the inputs into a
        fresh directory and reads each table once. Returns the input
        directory of the last trial. The first trial is the slowest, so
        the median is a warm restart: `setup_s` and `session.start_s`
        leave the JVM launch out, which `session.jvm_launch_s` holds."""
        times, starts, gens, dirs = [], [], [], []
        for i in range(SETUP_TRIALS):
            d = os.path.join(self.work, f"in{i}")
            with self.tracer.span("setup", trial=i):
                t0 = time.perf_counter()
                if self.spark is not None:
                    self.spark.stop()
                with self.tracer.span("session.start"):
                    self.start_session(streaming=streaming)
                t1 = time.perf_counter()
                with self.tracer.span("generate"):
                    self.planted = generate(d)
                t2 = time.perf_counter()
                with self.tracer.span("warm_read"):
                    for name in sorted(os.listdir(d)):
                        if name.endswith(".parquet"):
                            self.spark.read.parquet(os.path.join(d, name)).count()
                times.append(time.perf_counter() - t0)
                starts.append(t1 - t0)
                gens.append(t2 - t1)
            dirs.append(d)
        for d in dirs[:-1]:
            shutil.rmtree(d, ignore_errors=True)
        self.setup_s = median(times)
        self.layer["session.jvm_launch_s"] = starts[0]
        self.layer["session.start_s"] = median(starts)
        self.layer["setup.gen_s"] = median(gens)
        print(f"# setup trials (s): {[round(t, 3) for t in times]}", flush=True)
        return dirs[-1]

    def close(self) -> None:
        """Stop Spark, then its JVM, and wait for the JVM to exit."""
        from py4j.protocol import Py4JError

        try:
            if self.spark is not None:
                self.spark.stop()
        except Py4JError:  # interrupted mid-call; the JVM is stopped below
            traceback.print_exc()
        finally:
            gw = self._gateway
            if gw is not None:
                try:
                    gw.shutdown()
                except Py4JError:  # the JVM may be gone already
                    pass
                proc = gw.proc  # the JVM reads stdin and exits when it closes
                if proc.stdin:
                    proc.stdin.close()
                try:
                    proc.wait(timeout=30)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait(timeout=10)

    # -- failure accounting -------------------------------------------
    def fail(self, op: str, why: str, count: int = 1) -> None:
        """Record ``count`` failed executions of ``op``; a `KnownDefect`
        is printed and counts in neither `failed` nor `correct`."""
        if isinstance(why, KnownDefect):
            print(f"# KNOWN DEFECT {op}: {why[:300]}", flush=True)
            return
        self.failures.append((op, why))
        self.failed += count
        print(f"# FAIL {op}: {why[:300]}", flush=True)

    @property
    def correct(self) -> bool:
        return not self.failures

    # -- batch op loop --------------------------------------------------
    def run_ops(self, ops: list[Op], warm_passes: int = 0) -> None:
        """Cold pass (each op built, collected and checked once),
        ``warm_passes`` untimed passes to the noop sink, then timed
        passes until ``seconds`` have passed (at least MIN_PASSES). The
        JVM keeps compiling for a minute or more, so early passes are
        slower; per-op medians over the passes damp that. In a traced
        run, odd passes also read node metrics, so each pass pair gives
        the tracing overhead. An op that raises is counted as failed for
        each execution and is not run again."""
        from sparkmetrics import NodeMetrics, plan_counts

        nm = NodeMetrics(self.spark)
        t_cold = time.perf_counter()
        for op in ops:
            tc = time.perf_counter()
            with self.tracer.span(f"op:{op.name}", phase="cold"):
                try:
                    with self.tracer.span("plan"):
                        df = op.build()
                    if self.trace:
                        op.plan = plan_counts(df)
                    with self.tracer.span("action"):
                        out = df.toPandas()
                    op.execs += 1
                    tk = time.perf_counter()
                    with self.tracer.span("check"):
                        op.error = op.check(out)
                    op.check_s = time.perf_counter() - tk
                except Exception as ex:  # noqa: BLE001 - a raising op is a counted failure
                    self._raised(op, ex)
            op.cold_s = time.perf_counter() - tc
            self.after_op()
        for _ in range(warm_passes):
            for op in ops:
                if not op.raised:
                    with self.tracer.span(f"op:{op.name}", phase="warm"):
                        self._noop_run(op)
                    self.after_op()
        self.layer["warmup_s"] = time.perf_counter() - t_cold

        t0 = time.perf_counter()
        passes, pass_walls = 0, {False: [], True: []}
        while True:
            traced = self.trace and passes % 2 == 1
            tp, cpu_pass = time.perf_counter(), 0.0
            for op in ops:
                if op.raised:
                    continue
                with self.tracer.span(f"op:{op.name}", phase="timed"):
                    mark = nm.mark() if traced else 0
                    timed = self._noop_run(op)
                    if timed is None:
                        continue
                    wall, cpu = timed
                    op.walls.append(wall)
                    cpu_pass += cpu
                    if traced:
                        with self.tracer.span("node_metrics"):
                            op.nodes.append({**nm.read_since(mark), "wall_ms": wall * 1000})
                self.after_op()
            pass_walls[traced].append(time.perf_counter() - tp)
            self.pass_cpus.append(cpu_pass)
            passes += 1
            if time.perf_counter() - t0 >= self.seconds and passes >= MIN_PASSES:
                break
        if self.trace:
            self.layer["trace.overhead_s"] = median(pass_walls[True]) - median(pass_walls[False])
        print(f"# timed passes: {passes} in {time.perf_counter() - t0:.2f} s", flush=True)
        print("# ops (cold s (check s) / timed s): " + ", ".join(
            f"{op.name} {op.cold_s:.2f} ({op.check_s:.2f}) / {[round(w, 2) for w in op.walls]}"
            for op in ops), flush=True)
        print(f"# timed pass CPU (s): {[round(c, 2) for c in self.pass_cpus]}", flush=True)
        for op in ops:
            self.attempted += op.execs
            if op.error:
                self.fail(op.name, op.error, op.execs)

    def _noop_run(self, op: Op) -> tuple[float, float] | None:
        """Build ``op`` and run it to the noop sink; the action's wall
        time and the process tree's CPU time during it, or None if it
        raised."""
        try:
            with self.tracer.span("plan"):
                df = op.build()
            with self.tracer.span("action"):
                ca, ta = tree_cpu_s(), time.perf_counter()
                df.write.mode("overwrite").format("noop").save()
                wall = time.perf_counter() - ta
                cpu = tree_cpu_s() - ca
        except Exception as ex:  # noqa: BLE001 - a raising op is a counted failure
            self._raised(op, ex)
            return None
        op.execs += 1
        return wall, cpu

    def _raised(self, op: Op, ex: Exception) -> None:
        traceback.print_exc()
        op.execs += 1
        op.raised = True
        op.error = f"raised {type(ex).__name__}: {str(ex)[:300]}"

    def after_op(self) -> None:
        """Release what an op persisted (dedup's tracked frames) so
        reps start from the same memory state."""
        from windflow_spark.functions import dedup

        dedup.unpersist_all()

    def op_layers(self, ops: list[Op]) -> None:
        """Per-layer sums over ops: action wall by module, node metrics,
        plan counts and the time node metrics do not cover."""
        for op in ops:
            if not op.walls:
                continue
            med = median(op.walls)
            key = f"{op.layer}_s"
            if key in self.layer:
                self.layer[key] += med
            for k in op.plan:
                self.layer[k] += op.plan[k]
            if op.nodes:
                for k in op.nodes[0]:
                    if k != "wall_ms":
                        self.layer[k] += median(n[k] for n in op.nodes)
                self.layer["untraced_ms"] += median(
                    n["wall_ms"] - n["node_time_ms"] for n in op.nodes)

    def batch_end_to_end(self) -> dict:
        """End-to-end figures: ``cpu_s`` is the CPU time of one pass of
        the timed ops, the median over the passes. ``items_per_s`` is
        left to the workload."""
        return {
            "setup_s": self.setup_s,
            "cpu_s": median(self.pass_cpus),
            "peak_rss_mb": self.rss.peak_bytes / 2**20,
        }
