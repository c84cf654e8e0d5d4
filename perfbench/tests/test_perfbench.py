"""Tests of the benchmark's own code (no Spark session needed):

    python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from perfbench import checks, gen, stats
from perfbench.trace import Span, self_time_ms

def test_generators_are_deterministic_per_seed():
    assert all(a.equals(b) for a, b in zip(gen.poll_ticks(5, 6), gen.poll_ticks(5, 6)))
    assert not gen.poll_ticks(5, 6)[3].equals(gen.poll_ticks(6, 6)[3])
    a, b = gen.registry_tables(5, 0.001), gen.registry_tables(5, 0.001)
    assert a.keys() == b.keys() and all(a[t].equals(b[t]) for t in a)
    assert not a["lineitem"].equals(gen.registry_tables(6, 0.001)["lineitem"])


def test_poll_ticks_shape():
    ticks = gen.poll_ticks(3, 8, n_stations=150)
    assert [t.num_rows for t in ticks] == [150] * 8
    assert all(t.schema.equals(gen.READINGS_ARROW) for t in ticks)
    first = ticks[0].column("ts").cast(pa.int64()).to_pylist()
    last = ticks[-1].column("ts").cast(pa.int64()).to_pylist()
    # the simulated clock crosses the 16:00 shift boundary mid-run
    hour = lambda us: (us // 3_600_000_000) % 24  # noqa: E731
    assert {hour(u) for u in first} == {15} and {hour(u) for u in last} == {16}
    # counter is exactly floor(value * 100), the oracle's derivation
    t = ticks[4]
    assert [int(v * 100) for v in t.column("value").to_pylist()] == t.column("counter").to_pylist()


@pytest.mark.parametrize(
    "n, p",
    [(5, None), (19, None), (20, 50.0), (39, 50.0), (40, 75.0), (100, 90.0), (200, 95.0), (1000, 99.0), (10_000, 99.9)],
)
def test_tail_percentile_keeps_ten_samples_beyond(n, p):
    assert stats.tail_percentile(n) == p


def test_nearest_rank_percentile():
    xs = list(range(1, 101))
    assert stats.percentile(xs, 50) == 50.0
    assert stats.percentile(xs, 90) == 90.0
    assert stats.percentile([7.0], 99) == 7.0
    with pytest.raises(ValueError):
        stats.percentile([], 50)


_PROGRESS = [
    {
        "id": "q",
        "runId": "r",
        "name": None,
        "timestamp": "2024-05-01T12:00:00.250Z",
        "batchId": 3,
        "batchDuration": 1900,
        "numInputRows": 150,
        "inputRowsPerSecond": 150.0,
        "processedRowsPerSecond": 79.0,
        "durationMs": {
            "addBatch": 1700,
            "commitOffsets": 30,
            "getBatch": 8,
            "latestOffset": 31,
            "queryPlanning": 25,
            "triggerExecution": 1900,
            "walCommit": 29,
        },
        "stateOperators": [
            {
                "operatorName": "flatMapGroupsWithState",
                "numRowsTotal": 750,
                "numRowsUpdated": 150,
                "allUpdatesTimeMs": 1500,
                "commitTimeMs": 240,
                "memoryUsedBytes": 402000,
            }
        ],
        "sources": [
            {
                "description": "FileStreamSource[file:/x]",
                "startOffset": {"logOffset": 2},
                "endOffset": {"logOffset": 3},
                "numInputRows": 150,
            }
        ],
        "sink": {"description": "ForeachBatchSink", "numOutputRows": -1},
        "observedMetrics": {"pipeline_metrics": {"n_updates": 120, "n_limpiezas": 0, "delta_total": 300}},
    },
    {  # an idle trigger: no input, so not an operation
        "timestamp": "2024-05-01T12:00:02.150Z",
        "batchId": 4,
        "numInputRows": 0,
        "durationMs": {"latestOffset": 5, "triggerExecution": 5},
        "stateOperators": [],
        "sources": [],
    },
]


def test_trigger_records_from_canned_progress():
    (r,) = stats.trigger_records(json.loads(json.dumps(_PROGRESS)))
    assert r["batch_id"] == 3 and r["rows"] == 150
    assert r["trigger_ms"] == 1900.0 and r["add_batch_ms"] == 1700.0
    assert (r["latest_offset_ms"], r["get_batch_ms"], r["query_planning_ms"]) == (31.0, 8.0, 25.0)
    assert (r["wal_commit_ms"], r["commit_offsets_ms"]) == (29.0, 30.0)
    assert (r["state_rows"], r["state_rows_updated"], r["state_bytes"]) == (750, 150, 402000)
    assert (r["all_updates_ms"], r["state_commit_ms"], r["n_updates"]) == (1500.0, 240.0, 120)
    assert r["end_ms"] - r["start_ms"] == 1900.0
    assert r["start_ms"] == 1714564800250.0
    assert (r["source_start"], r["source_end"]) == (2, 3)


def _oracle_rows(tmp_path):
    from iotdatapipeline_spark.plans import ORACLE

    ticks = gen.poll_ticks(9, 12, n_stations=20)
    path = str(tmp_path / "readings.parquet")
    pq.write_table(pa.concat_tables(ticks), path)
    with duckdb.connect() as con:
        return checks.counter_oracle(
            con, f"SELECT * FROM read_parquet('{path}')", ORACLE["stream_counter_machine_reference"]
        )


def test_stream_checker_rejects_perturbed_delta(tmp_path):
    hist, rec = _oracle_rows(tmp_path)
    assert hist and rec and len(rec) <= len(hist)
    assert checks.check_stream(list(hist), list(rec), hist, rec) == []
    i = checks.HISTORY_COLS.index("delta")
    bad = list(hist)
    row = list(bad[0])
    row[i] += 1
    bad[0] = tuple(row)
    problems = checks.check_stream(bad, list(rec), hist, rec)
    assert len(problems) == 1 and problems[0].startswith("history: 2 rows differ")


def test_stream_checker_rejects_missing_record(tmp_path):
    hist, rec = _oracle_rows(tmp_path)
    problems = checks.check_stream(list(hist), list(rec)[1:], hist, rec)
    assert len(problems) == 1 and problems[0].startswith("records:")


def test_query_checker_is_order_and_column_order_insensitive():
    got_cols, got = ["b", "a"], [(2.0000000001, "x"), (1.0, "y")]
    want_cols, want = ["a", "b"], [("y", 1.0), ("x", 2.0)]
    assert checks.check_query("q", got_cols, got, want_cols, want) == []
    assert checks.check_query("q", got_cols, got[:1], want_cols, want)
    assert checks.check_query("q", got_cols, [(3.0, "x"), (1.0, "y")], want_cols, want)


def test_self_time_subtracts_child_coverage():
    spans = [
        Span("sink", 0.0, 1.0, None, "3"),
        Span("merge", 0.2, 0.5, 0, "3"),
        Span("merge", 0.4, 0.6, 0, "3"),  # overlaps the first child
        Span("create", 0.9, 1.3, 0, "3"),  # clipped to the parent
        Span("grandchild", 0.25, 0.3, 1, "3"),
    ]
    assert self_time_ms(spans, 0) == pytest.approx(500.0)
    assert self_time_ms(spans, 1) == pytest.approx(250.0)
