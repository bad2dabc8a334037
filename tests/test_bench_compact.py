"""bench.py stdout guard (pure Python, no Spark): the compact summary
line stays small enough for a reader that keeps only the tail of
stdout, and carries only freshly measured sections."""

from __future__ import annotations

import json

import bench


def _artifact() -> dict:
    queries = {name: 12.345678 + i for i, name in enumerate(bench.HEADLINE)}
    return {
        "sf": bench.SF_DIR,
        "metric": "headline_battery_seconds",
        "value": round(sum(queries.values()), 3),
        "unit": "sec",
        "queries": queries,
        "queries_steal_jiffies": {k: 1234 for k in queries},
        "battery_steal_cap": bench.BATTERY_STEAL_CAP,
        "throughput": {"flagship_rows_in": 102_400_000, "flagship_sec": 6.321,
                       "events_per_sec": 16_200_000, "amplification": 1024},
        "streaming": {
            "cores": 4, "rows_in": 102_400_000, "sec": 38.5,
            "sustained_rows_per_sec": 2_660_000, "n_batches": 8,
            "p50_batch_ms": 4300, "p99_batch_ms": 6990,
            "windows_emitted": 123_456, "steal_jiffies": 42,
            "emit_p50_ms": 3900, "emit_p99_ms": 6510,
            "emit_latency": {"n_windows": 40, "note": "x" * 400},
            "emit_latency_grid": [{"note": "y" * 400}] * 4,
        },
    }


def _line(a: dict) -> str:
    return json.dumps(bench._compact(a), separators=(",", ":"))


def test_compact_line_is_bounded_and_has_no_scaling():
    line = _line(_artifact())
    assert len(line.encode()) <= 1500, len(line.encode())
    c = json.loads(line)
    assert len(c["queries"]) == len(bench.HEADLINE) == 20
    assert "scaling" not in c
    assert "carried_from_previous_run" not in line
    assert c["streaming"]["sustained_rows_per_sec"] == 2_660_000
    assert c["throughput"]["events_per_sec"] == 16_200_000


def test_compact_drops_query_map_before_exceeding_limit():
    a = _artifact()
    a["queries"] = {f"q{'x' * 80}{i}": 1.0 for i in range(20)}
    line = _line(a)
    assert len(line.encode()) <= 1500, len(line.encode())
    assert isinstance(json.loads(line)["queries"], str)


def test_compact_stream_only_has_only_streaming():
    a = _artifact()
    a = {"sf": a["sf"], "streaming": a["streaming"]}
    c = json.loads(_line(a))
    assert set(c) == {"sf", "streaming", "full_artifact"}
