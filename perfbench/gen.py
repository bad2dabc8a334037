"""Seeded input generators for the benchmark.

Every table uses the column names and types of the repository's
`events`, `documents` and `embeddings` test tables, so the battery
queries in `__spark_entry__` and their DuckDB oracles run on them
unchanged. One seed gives byte-identical files; each table draws from
its own `numpy` stream so adding a table never shifts another.

The base traffic copies what the repository's sf0.1 test tables show
(measured once; the numbers are below with their source) and what
`tools/gen_sf1.py` records for that corpus. On top of it sit the
adversarial plants the workloads exist to measure: a hot user, a
boilerplate cluster past the LSH bucket cap, whitespace-edged texts,
out-of-order and late drain rows. Each plant is marked as chosen, not
measured. The workloads print the planted counts with every run.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

EPOCH_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z
DAY_US = 86_400_000_000
EVENT_TYPES = np.array(["click", "view", "purchase", "signup", "error"])

# window_ops events. Measured on sf0.1 `events`: 100 000 rows over 30
# days in ts order, 1 500 users with 45-99 events each (66.7 on
# average), least-squares slope of log count on log rank 0.11 (nearly
# flat, used as the Zipf exponent), five event types equally likely,
# `value` exponential with mean 50 rounded to cents, props k in 0..99.
# Plant (chosen): one extra hot user with 2 048 rows, small enough that
# the quadratic CEP matcher on it fits a run.
EVENTS = dict(rows=100_000, users=1_500, zipf_s=0.11, value_mean=50.0, days=30,
              hot_rows=2_048, files=4)
# corpus_curation documents. Measured on sf0.1 `documents`: texts of
# 10-100 words (uniform) drawn uniformly from the 30 words below; a
# near-duplicate is an earlier doc with " dup" appended, at the 4.7 %
# near-dup and 0.16 % exact-dup rates `tools/gen_sf1.py` records; 20
# sources round-robin; languages en 41 %, the other four 15 % each.
# Plants (chosen): one boilerplate cluster of 320 docs, past the LSH
# bucket cap of 256; 5 % whitespace-edged texts. NULL text is left
# out: repetition_features raises on it.
VOCAB = np.array(["a", "agg", "batch", "big", "column", "customer", "data", "fast",
                  "filter", "group", "hash", "join", "key", "line", "merge", "order",
                  "part", "query", "row", "scan", "slow", "small", "sort", "spark",
                  "stream", "table", "the", "value", "vector", "window"])
LANGS = (np.array(["en", "zh", "es", "fr", "de"]), np.array([0.41, 0.15, 0.15, 0.15, 0.14]))
DOCS = dict(rows=1_000, words=(10, 100), near_dup=0.047, exact_dup=0.0016, sources=20,
            boiler=320, ws_edge=0.05)
# Measured on sf0.1 `embeddings`: unit-length float32 64-d vectors, ten
# labels equally likely; label centres are faint (per-dim std 0.009)
# beside the per-dim spread within a label (0.125).
VECS = dict(rows=500, dim=64, labels=10, centre_sd=0.009, within_sd=0.125)
# window_ops' drain (all chosen: the test tables hold no stream, and
# their events are in ts order): files drained availableNow, one a
# micro-batch, so each query gives four per-batch samples; 5 % of rows
# out of order inside the watermark, a few planted late rows far beyond
# it, 64 keys so that each key fills several 64-row count windows.
DRAIN = dict(files=4, files_per_trigger=1, rows_per_file=4_000, keys=64, ooo=0.05,
             late_per_file=4, file_span_s=60, watermark_s=120)
# Leading tab, trailing newline, NBSP edges, whitespace-only text.
# Empty text is left out: quality_features divides by the text length
# and raises under ANSI mode, which kills the curation job.
WS_EDGES = ("\t{}", "{}\n", "{}\u00a0", "\u00a0{}", "   ", " \t{} ")


def _rng(seed: int, table: str) -> np.random.Generator:
    return np.random.default_rng([seed, sum(map(ord, table)), len(table)])


def _write(df: pd.DataFrame, path: str, files: int = 1) -> None:
    """Write ``df`` as ``files`` parquet files under directory ``path``
    (microsecond timestamps, no pandas index)."""
    os.makedirs(path, exist_ok=True)
    for i, part in enumerate(np.array_split(np.arange(len(df)), files)):
        tbl = pa.Table.from_pandas(df.iloc[part], preserve_index=False)
        pq.write_table(tbl, f"{path}/part-{i:05d}.parquet", coerce_timestamps="us")


def events(seed: int) -> pd.DataFrame:
    c = EVENTS
    rng = _rng(seed, "events")
    n, hot = c["rows"], c["hot_rows"]
    p = 1.0 / np.arange(1, c["users"] + 1) ** c["zipf_s"]  # finite Zipf over users 0..
    users = rng.choice(c["users"], n, p=p / p.sum())
    users = np.concatenate([users, np.full(hot, c["users"])])  # the hot user
    rng.shuffle(users)
    n += hot
    us = np.sort(rng.integers(0, c["days"] * DAY_US, n))
    return pd.DataFrame({
        "event_id": np.arange(n, dtype=np.int64),
        "ts": pd.to_datetime(EPOCH_US + us, unit="us"),
        "user_id": users.astype(np.int64),
        "event_type": EVENT_TYPES[rng.integers(0, len(EVENT_TYPES), n)],
        "value": np.round(rng.exponential(c["value_mean"], n), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
    })


def documents(seed: int) -> tuple[pd.DataFrame, dict]:
    """Documents plus the planted counts (near- and exact dups,
    boilerplate, whitespace-edge docs) for the run's diagnostics."""
    c = DOCS
    rng = _rng(seed, "documents")
    n = c["rows"]
    lo, hi = c["words"]
    boiler = " ".join(VOCAB[rng.integers(0, len(VOCAB), 60)])
    boiler_ids = set(rng.choice(n, c["boiler"], replace=False).tolist())
    kinds = rng.random(n)
    planted = {"near_dup": 0, "exact_dup": 0, "boilerplate": len(boiler_ids), "ws_edge": 0}
    texts: list[str] = []
    for i in range(n):
        if i in boiler_ids:  # one cluster: the template, one word varied in a tenth
            words = boiler.split()
            if rng.random() < 0.1:
                words[rng.integers(0, len(words))] = VOCAB[rng.integers(0, len(VOCAB))]
            texts.append(" ".join(words))
        elif i > 0 and kinds[i] < c["near_dup"]:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
            planted["near_dup"] += 1
        elif i > 0 and kinds[i] < c["near_dup"] + c["exact_dup"]:
            texts.append(texts[int(rng.integers(0, i))])
            planted["exact_dup"] += 1
        else:
            texts.append(" ".join(VOCAB[rng.integers(0, len(VOCAB), int(rng.integers(lo, hi + 1)))]))
    for i in np.flatnonzero(rng.random(n) < c["ws_edge"]):
        texts[i] = WS_EDGES[int(rng.integers(0, len(WS_EDGES)))].format(texts[i])
        planted["ws_edge"] += 1
    langs, weights = LANGS
    df = pd.DataFrame({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": langs[rng.choice(len(langs), n, p=weights / weights.sum())],
        "source": [f"src{i % c['sources']}" for i in range(n)],
    })
    df["n_chars"] = df["text"].str.len().astype(np.int64)
    return df, planted


def embeddings(seed: int) -> pd.DataFrame:
    c = VECS
    rng = _rng(seed, "embeddings")
    centres = rng.normal(scale=c["centre_sd"], size=(c["labels"], c["dim"]))
    labels = rng.integers(0, c["labels"], c["rows"])
    vecs = centres[labels] + rng.normal(scale=c["within_sd"], size=(c["rows"], c["dim"]))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    return pd.DataFrame({
        "vec_id": np.arange(c["rows"], dtype=np.int64),
        "embedding": list(vecs),
        "label": labels.astype(np.int32),
    })


def write_batch_tables(seed: int, out: str, tables: tuple[str, ...]) -> dict:
    """Write the named batch tables as ``out/<table>.parquet`` dirs;
    returns planted counts."""
    planted: dict = {}
    if "events" in tables:
        _write(events(seed), f"{out}/events.parquet", EVENTS["files"])
    if "documents" in tables:
        docs, planted = documents(seed)
        _write(docs, f"{out}/documents.parquet")
    if "embeddings" in tables:
        _write(embeddings(seed), f"{out}/embeddings.parquet")
    return planted


def drain_files(seed: int, out: str) -> dict:
    """Write the drain input as time-ordered files under ``out``.

    Columns: k (string key), id (per-key arrival sequence, for the
    count-based windows), ts (event time), value. A share ``ooo`` of
    rows is displaced up to half the watermark back in time (never
    dropped); ``late_per_file`` rows in each file of the last batch lie
    a full day behind (always dropped). File modification times follow
    file order, the order the file source reads them in. Returns the
    planted counts."""
    c = DRAIN
    rng = _rng(seed, "drain")
    span_us, wm_us = c["file_span_s"] * 1_000_000, c["watermark_s"] * 1_000_000
    next_id = np.zeros(c["keys"], dtype=np.int64)
    n_ooo = n_late = 0
    os.makedirs(out, exist_ok=True)
    for f in range(c["files"]):
        r = c["rows_per_file"]
        keys = rng.integers(0, c["keys"], r)
        us = f * span_us + np.sort(rng.integers(0, span_us, r))
        ooo = rng.random(r) < c["ooo"]
        us[ooo] -= rng.integers(0, wm_us // 2, int(ooo.sum()))
        n_ooo += int(ooo.sum())
        if f >= c["files"] - c["files_per_trigger"]:
            # in the last batch (the late-row filter uses the watermark of
            # the batch before, which every batch after the first has
            # moved past them), a day behind, ten minutes apart: each
            # late row is dropped from its own five windows
            late = rng.choice(r, c["late_per_file"], replace=False)
            us[late] = -DAY_US - (n_late + np.arange(len(late))) * 600_000_000
            n_late += len(late)
        # per-key arrival order: file order, then row order
        ids = next_id[keys] + pd.Series(keys).groupby(keys).cumcount().to_numpy()
        next_id += np.bincount(keys, minlength=c["keys"])
        df = pd.DataFrame({
            "k": np.array([f"k{i}" for i in range(c["keys"])])[keys],
            "id": ids,
            "ts": pd.to_datetime(EPOCH_US + us, unit="us"),
            "value": np.round(rng.exponential(10.0, r), 3),
        })
        name = f"{out}/part-{f:05d}.parquet"
        pq.write_table(pa.Table.from_pandas(df, preserve_index=False), name,
                       coerce_timestamps="us")
        # the file source reads files in modification-time order
        os.utime(name, (1_700_000_000 + f, 1_700_000_000 + f))
    return {"rows": c["files"] * c["rows_per_file"], "ooo": n_ooo, "late": n_late}
