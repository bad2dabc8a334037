"""Tests of the benchmark itself (not of the program it measures).

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import filecmp
import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
from spans import Span, result_line, self_times  # noqa: E402


def _same_tree(a: str, b: str) -> bool:
    cmp = filecmp.dircmp(a, b)
    if cmp.left_only or cmp.right_only:
        return False
    _, mismatch, errors = filecmp.cmpfiles(a, b, cmp.common_files, shallow=False)
    return not mismatch and not errors and all(
        _same_tree(os.path.join(a, d), os.path.join(b, d)) for d in cmp.common_dirs)


@pytest.mark.parametrize("write", [
    lambda seed, d: gen.write_batch_tables(seed, d, ("events", "documents", "embeddings")),
    lambda seed, d: gen.drain_files(seed, d),
])
def test_same_seed_same_files_other_seed_other_files(tmp_path, write):
    write(1, str(tmp_path / "a"))
    write(1, str(tmp_path / "b"))
    write(2, str(tmp_path / "c"))
    assert _same_tree(str(tmp_path / "a"), str(tmp_path / "b"))
    assert not _same_tree(str(tmp_path / "a"), str(tmp_path / "c"))


def test_planted_traffic_dimensions():
    docs, planted = gen.documents(3)
    assert planted["boilerplate"] > 256
    assert planted["ws_edge"] > 0 and planted["near_dup"] > 0
    assert docs.text.notna().all()
    ev = gen.events(3)
    assert (ev.user_id == gen.EVENTS["users"]).sum() == gen.EVENTS["hot_rows"]


def test_self_time_from_synthetic_span_tree():
    spans = [
        Span("root", 0.0, 10.0, None, "r", {}),
        Span("a", 1.0, 4.0, 0, "r", {}),
        Span("b", 3.0, 6.0, 0, "r", {}),   # overlaps a: union 1..6
        Span("a1", 1.5, 2.0, 1, "r", {}),
        Span("c", 9.0, 12.0, 0, "r", {}),  # runs past root: clipped to 9..10
    ]
    assert self_times(spans) == pytest.approx([10 - 5 - 1, 3 - 0.5, 3, 0.5, 3])


def test_printer_round_trips_every_benchmark_metric():
    from harness import END_TO_END, PER_LAYER

    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        bench = json.load(f)
    for section, units in (("end_to_end", END_TO_END), ("per_layer", PER_LAYER)):
        declared = {m["name"]: m["unit"] for m in bench[section]}
        assert declared == units
        values = {name: 1.5 + i for i, name in enumerate(units)}
        line = json.loads(result_line(True, 3, 1, values, units))
        assert set(line) == {"correct", "attempted", "failed", "metrics"}
        assert line["metrics"] == {k: {"value": values[k], "unit": units[k]} for k in units}
    with pytest.raises(KeyError):
        result_line(True, 1, 0, {}, END_TO_END)


@pytest.fixture(scope="module")
def corpus():
    """DuckDB over one generated documents table, as the corpus checks
    see it."""
    import duckdb

    sys.path.insert(0, os.path.dirname(HERE))
    docs, _ = gen.documents(5)
    con = duckdb.connect()
    con.register("documents", docs)
    return con


def test_lsh_check_accepts_only_the_bucket_cap_shape(corpus):
    import batch
    from harness import KnownDefect

    full = corpus.execute(batch.ORACLES["dedup_minhash_lsh"]).df()
    capped = corpus.execute(batch.engine_lsh_sql(batch.ORACLES["dedup_minhash_lsh"],
                                                 batch.LSH_BUCKET_CAP)).df()
    assert 0 < len(capped) < len(full)  # the boilerplate cluster overflows the cap
    assert batch.check_lsh_cap(full, corpus) is None
    assert isinstance(batch.check_lsh_cap(capped, corpus), KnownDefect)
    for bad in (capped.iloc[1:], full.iloc[1:], capped.iloc[:0]):
        why = batch.check_lsh_cap(bad, corpus)
        assert why and not isinstance(why, KnownDefect)


def test_trim_check_allows_differences_on_edged_docs_only(corpus):
    import batch
    from harness import KnownDefect

    want = corpus.execute(batch.ORACLES["text_repetition"]).df()
    docs = corpus.execute("SELECT doc_id, text FROM documents").df()
    tab = docs.doc_id[docs.text.str.startswith("\t")].iloc[0]
    plain = docs.doc_id[docs.text == docs.text.str.strip()].iloc[0]
    assert batch.check_trim(want, corpus) is None
    for doc, known in ((tab, True), (plain, False)):
        got = want.copy()
        got.loc[got.doc_id == doc, "distinct_token_ratio"] += 0.5
        why = batch.check_trim(got, corpus)
        assert why and isinstance(why, KnownDefect) == known
    why = batch.check_trim(want.iloc[1:], corpus)
    assert why and not isinstance(why, KnownDefect)


def test_known_defect_is_reported_but_not_failed():
    from types import SimpleNamespace

    from harness import Bench, KnownDefect

    b = SimpleNamespace(failures=[], failed=0)
    Bench.fail(b, "dedup_minhash_lsh", KnownDefect("bucket cap"), 5)
    assert b.failed == 0 and Bench.correct.fget(b)
    Bench.fail(b, "text_repetition", "raised ValueError", 2)
    assert b.failed == 2 and not Bench.correct.fget(b)
