"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Generates the workload's inputs from the
seed under `.bench_work/`, runs it on `local[<cores>]`, checks every
output against its reference, and prints as the last stdout line one
JSON object: {"correct", "attempted", "failed", "metrics"}. With
`--trace 0` the metrics are the end-to-end ones; with `--trace 1` the
per-layer ones, and the spans are written to
`.bench_work/trace-<workload>-<seed>.json`. Lines starting with `#`
are diagnostics.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    for mod in ("__spark_entry__.py", "windflow_spark", "jobs/curate_corpus.py",
                "tools/check_entry.py"):
        if not os.path.exists(os.path.join(ROOT, mod)):
            print(f"perfbench: {mod} not found under {ROOT}; nothing to measure",
                  file=sys.stderr)
            return 2

    import batch
    from harness import END_TO_END, PER_LAYER, Bench, CORES
    from spans import host_stamp, result_line

    workloads = {
        "window_ops": batch.window_ops,
        "corpus_curation": batch.corpus_curation,
    }
    if args.workload not in workloads:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    # a terminated run still stops Spark and its JVM (the finally below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    stamp0 = host_stamp()
    b = Bench(ROOT, args.workload, args.seed, args.seconds, bool(args.trace))
    t0 = time.perf_counter()
    try:
        with b.rss:
            with b.tracer.span("run", workload=args.workload):
                e2e = workloads[args.workload](b)
    finally:
        try:
            b.close()
        finally:
            shutil.rmtree(b.work, ignore_errors=True)
    stamp1 = host_stamp()
    print("# host: " + json.dumps({
        "cores": CORES, "run_s": round(time.perf_counter() - t0, 3),
        "steal_jiffies": stamp1["steal_jiffies"] - stamp0["steal_jiffies"],
        "loadavg": stamp1["loadavg"]}), flush=True)
    if b.trace:
        trace_path = os.path.join(ROOT, ".bench_work",
                                  f"trace-{args.workload}-{args.seed}.json")
        b.tracer.dump(trace_path)
        print(f"# spans: {trace_path}", flush=True)
    metrics, units = (b.layer, PER_LAYER) if b.trace else (e2e, END_TO_END)
    print(result_line(b.correct, max(1, b.attempted), b.failed, metrics, units), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
