"""The two batch workloads: `window_ops` (window, pane, session, join
and CEP operators plus the flagship sliding aggregate) and
`corpus_curation` (text, dedup, similarity and sampling kernels plus
the curation job). Each op's cold-pass output is checked against an
independent reference: the DuckDB oracle SQL of `__spark_entry__`, a
DuckDB query in this module, or the job's output invariants.
"""

from __future__ import annotations

import importlib.util
import json
import os
import re
import sys
import time

import duckdb
import pandas as pd

import __spark_entry__ as entry
import gen
import stream
from harness import Bench, KnownDefect, Op
from tools.check_entry import _kind, normalize

ORACLES = entry.oracle_sql()

HOUR, MIN15 = 3_600_000_000, 900_000_000

WINDOW_OPS = {  # battery query -> layer of the module that builds it
    "win_cb_sliding": "operators.windows",
    "session_windows": "operators.sessions",
    "asof_join": "operators.joins",
    "cep_skip": "operators.cep",
}
CORPUS_OPS = {
    "dedup_minhash_lsh": "functions.dedup",
    "embedding_topk": "functions.similarity",
    "text_repetition": "functions.text",
}
LSH_VERIFY_JACCARD = 0.5
LSH_BUCKET_CAP = 256  # lsh_candidate_pairs' default max_bucket (ADVICE.md)
JAVA_TRIM = "".join(map(chr, range(0x21)))  # every char <= U+0020
JOB_BUDGET = 2048


def compare(got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    """None when the frames hold the same rows, else a one-line reason:
    the repository's own oracle comparison (`tools/check_entry.py`:
    row count, column names, dtype family, then values order-insensitive
    with floats to 6 decimals)."""
    if len(got) != len(want):
        return f"rows {len(got)} vs reference {len(want)}"
    g, w = normalize(got), normalize(want)
    if sorted(g.columns) != sorted(w.columns):
        return f"columns {sorted(g.columns)} vs {sorted(w.columns)}"
    skew = [(c, str(g[c].dtype), str(w[c].dtype)) for c in g.columns
            if _kind(g[c].dtype) != _kind(w[c].dtype)]
    if skew:
        return f"dtype-family mismatch {skew}"
    try:
        pd.testing.assert_frame_equal(g, w, check_dtype=False, rtol=1e-6, atol=1e-9)
    except AssertionError as ex:
        return "values differ: " + " ".join(str(ex).split())[:240]
    return None


def _duck(data: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for name in os.listdir(data):
        if name.endswith(".parquet"):
            con.execute(f"CREATE VIEW {name[:-8]} AS SELECT * FROM "
                        f"read_parquet('{data}/{name}/*.parquet')")
    return con


def _battery_ops(b: Bench, names: dict, data: str, con) -> list[Op]:
    qs = entry.queries()
    ops = []
    for name, layer in names.items():
        def check(out, sql=ORACLES[name]):
            return compare(out, con.execute(sql).df())
        ops.append(Op(name, layer, build=lambda q=qs[name]: q(b.spark, data), check=check))
    return ops


# ----------------------------------------------------------- window_ops

def flagship(spark, data: str):
    """Source -> Map -> Filter -> keyBy(user) -> sliding_agg(1 h / 15 min
    count + sum) through the public Pipe API."""
    from pyspark.sql import functions as F

    from windflow_spark.api import Pipe
    from windflow_spark.operators.windows import WinSpec, epoch_us

    ev = spark.read.parquet(f"{data}/events.parquet")
    return (Pipe.source(ev).map(us=epoch_us("ts")).filter(F.col("value") > 0)
            .key_by("user_id")
            .sliding_agg("us", WinSpec("tb", HOUR, MIN15),
                         aggs={"cnt": ("count", "value"), "sum_value": ("sum", "value")})
            .df)


FLAGSHIP_SQL = f"""
WITH e AS (SELECT user_id, value, epoch_us(ts) AS us FROM events WHERE value > 0),
w AS (SELECT user_id, value, unnest(generate_series(
        cast(floor((us - {HOUR}) / {MIN15}.0) AS BIGINT) + 1,
        cast(floor(us / {MIN15}.0) AS BIGINT))) AS gwid FROM e)
SELECT user_id, gwid, count(value) AS cnt, sum(value) AS sum_value
FROM w WHERE gwid >= 0 GROUP BY user_id, gwid
"""


def window_ops(b: Bench) -> dict:
    def generate(d: str) -> dict:
        gen.write_batch_tables(b.seed, d, ("events",))
        return gen.drain_files(b.seed, f"{d}/drain.parquet")

    data = b.setup(generate, streaming=True)
    con = _duck(data)

    def check_flagship(out):
        want = con.execute(FLAGSHIP_SQL).df()
        return compare(out[["user_id", "gwid", "cnt", "sum_value"]], want)

    ops = [Op("flagship_sliding_agg", "operators.pane_farm",
              build=lambda: flagship(b.spark, data), check=check_flagship)]
    ops += _battery_ops(b, WINDOW_OPS, data, con)
    b.run_ops(ops)
    b.op_layers(ops)
    rate = stream.drain_phase(b, f"{data}/drain.parquet", b.planted)
    e2e = b.batch_end_to_end()
    e2e["items_per_s"] = rate
    return e2e


# ------------------------------------------------------ corpus_curation

def _load_job():
    path = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                        "jobs", "curate_corpus.py")
    spec = importlib.util.spec_from_file_location("curate_corpus", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _shingles(text: str, n: int = 3) -> set:
    toks = text.split(" ")
    return {" ".join(toks[i:i + n]) for i in range(max(1, len(toks) - n + 1))}


def corpus_curation(b: Bench) -> dict:
    data = b.setup(lambda d: gen.write_batch_tables(
        b.seed, d, ("documents", "embeddings")))
    print(f"# planted documents: {json.dumps(b.planted)}", flush=True)
    con = _duck(data)
    docs = con.execute("SELECT doc_id, text FROM documents").df()
    job = _load_job()
    out_dir = os.path.join(b.work, "curated")
    report = os.path.join(b.work, "curate_report.json")
    ops = _battery_ops(b, CORPUS_OPS, data, con)

    lsh, rep = (next(op for op in ops if op.name == n)
                for n in ("dedup_minhash_lsh", "text_repetition"))

    def check_lsh(out):
        sh = {i: _shingles(t) for i, t in zip(docs.doc_id, docs.text)}
        verified = sum(len(sh[a] & sh[c]) / max(1, len(sh[a] | sh[c])) >= LSH_VERIFY_JACCARD
                       for a, c in zip(out.id_a, out.id_b))
        b.layer["functions.lsh_candidate_pairs"] = len(out)
        b.layer["functions.lsh_verified_pairs"] = verified
        b.layer["functions.lsh_precision"] = verified / max(1, len(out))
        return check_lsh_cap(out, con)

    lsh.check = check_lsh
    rep.check = lambda out: check_trim(out, con)

    # Two untimed passes: the LSH op's CPU time per pass still halves
    # from the first timed pass to the third after the cold pass alone.
    b.run_ops(ops, warm_passes=2)
    b.op_layers(ops)

    # The job runs once, after the ops have warmed the JVM: one run
    # costs several battery passes.
    saved = sys.argv
    sys.argv = ["curate_corpus.py", "--input", f"{data}/documents.parquet",
                "--output", out_dir, "--budget", str(JOB_BUDGET), "--report", report]
    t0 = time.perf_counter()
    try:
        with b.tracer.span("op:curate_job"):
            job.main()
        job_s = time.perf_counter() - t0
        with open(report) as f:
            rep = json.load(f)
        for k in ("rows_in", "after_quality", "after_dedup_and_split", "packed_bins"):
            b.layer[f"jobs.{k}"] = rep[k]
        err = job_invariants(pd.read_parquet(out_dir), docs, JOB_BUDGET)
    except Exception as ex:  # noqa: BLE001 - a raising job is a counted failure
        job_s = time.perf_counter() - t0
        err = f"raised {type(ex).__name__}: {str(ex)[:300]}"
    finally:
        sys.argv = saved
    b.attempted += 1
    if err:
        b.fail("curate_job", err)
    b.layer["jobs.curate_s"] = job_s
    print(f"# curate_job {job_s:.2f} s", flush=True)
    e2e = b.batch_end_to_end()
    e2e["items_per_s"] = gen.DOCS["rows"] / job_s
    return e2e


def job_invariants(out: pd.DataFrame, docs: pd.DataFrame, budget: int) -> str | None:
    """The curation job's output contract: every doc in one split only,
    kept ids drawn from the input, and each packed bin holding fewer
    than budget + its largest doc tokens (pack_sequences' contract;
    tokens as Spark counts them: space-trimmed, split on ASCII \\s+)."""
    if out.doc_id.duplicated().any():
        return "a doc appears in more than one split or bin"
    if not set(out.doc_id) <= set(docs.doc_id):
        return "output holds ids not in the input"
    if len(out) == 0:
        return "empty output"
    count = docs.set_index("doc_id").text.map(
        lambda t: len(re.split(r"[ \t\n\x0b\f\r]+", t.strip(" "))))
    bins = pd.DataFrame({"split": out["split"].astype(str).to_numpy(),
                         "bin": out.bin_id.to_numpy(),
                         "tok": count.reindex(out.doc_id).to_numpy()})
    g = bins.groupby(["split", "bin"]).tok.agg(["sum", "max"])
    over = g[g["sum"] >= budget + g["max"]]
    if len(over):
        return f"{len(over)} bins at or over budget + largest doc ({budget} tokens)"
    return None


def check_trim(out: pd.DataFrame, con) -> str | None:
    """text_repetition against its oracle. The one difference allowed is
    the recorded trim defect: the kernel trims the text edges as Java
    does (every char <= U+0020), the oracle with DuckDB's `trim` (spaces
    and the other Unicode space separators such as NBSP, but no control
    chars). So only docs that the two trims cut differently may differ;
    every doc must be there and every other doc must match exactly."""
    want = con.execute(ORACLES["text_repetition"]).df()
    err = compare(out, want)
    if err is None:
        return None
    if sorted(out.doc_id) != sorted(want.doc_id):
        return f"doc ids differ from the reference ({err})"
    trims = con.execute("SELECT doc_id, text, trim(text) AS t FROM documents").df()
    edged = trims.doc_id[[t.strip(JAVA_TRIM) != d for t, d in zip(trims.text, trims.t)]]
    rest = compare(out[~out.doc_id.isin(edged)], want[~want.doc_id.isin(edged)])
    if rest:
        return f"docs both trims cut alike differ: {rest}"
    return KnownDefect(f"trim defect (ADVICE.md): differences confined to the {len(edged)} "
                       f"docs the Java and DuckDB trims cut differently; {err}")


def engine_lsh_sql(oracle: str, cap: int) -> str:
    """The dedup_minhash_lsh oracle rewritten to the engine's two known
    differences: lsh_candidate_pairs' bucket cap (each (band, band_key)
    bucket keeps its ``cap`` smallest ids before the self-join) and
    Spark's `trim`, which strips spaces only where DuckDB's also strips
    NBSP and the other Unicode space separators."""
    head, sep, tail = oracle.rpartition("SELECT DISTINCT a.doc_id AS id_a")
    join = "FROM banded a JOIN banded b"
    if not sep or tail.count(join) != 1 or head.count("trim(text)") != 2:
        raise ValueError("dedup_minhash_lsh oracle SQL no longer has the expected shape")
    capped = (f",\ncapped AS (SELECT * FROM banded QUALIFY row_number() OVER "
              f"(PARTITION BY band, band_key ORDER BY doc_id) <= {cap})\n")
    head = head.replace("trim(text)", "trim(text, ' ')")
    return head.rstrip() + capped + sep + tail.replace(join, "FROM capped a JOIN capped b")


def check_lsh_cap(out: pd.DataFrame, con) -> str | None:
    """dedup_minhash_lsh against its oracle. The one difference allowed
    is the recorded bucket-cap defect, together with the trim
    difference `check_trim` allows (it moves NBSP-edged docs between
    buckets). The output must then equal the oracle rewritten to both
    (`engine_lsh_sql`): so it agrees with the oracle wherever no bucket
    is over the cap and no NBSP-edged doc takes part, and misses only
    pairs whose every shared bucket is over the cap."""
    oracle = ORACLES["dedup_minhash_lsh"]
    want = con.execute(oracle).df()
    err = compare(out, want)
    if err is None:
        return None
    engine_err = compare(out, con.execute(engine_lsh_sql(oracle, LSH_BUCKET_CAP)).df())
    if engine_err:
        return f"{err}; against the capped, space-trimmed reference: {engine_err}"
    return KnownDefect(f"LSH bucket cap (ADVICE.md): {len(out)} pairs vs the oracle's "
                       f"{len(want)}, all explained by buckets over {LSH_BUCKET_CAP} members "
                       f"and the NBSP trim difference")
