"""Self-tests of the benchmark's counters and result digest; no Spark session needed.

Run from the repository root: python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os
import sys
import threading

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from counters import (  # noqa: E402
    Py4jCounter,
    StreamAggregate,
    counts_as_call,
    group_id,
    parse_event_log,
    steal_pct,
)

CALL = "c\no12\ngetJobIdsForGroup\nsp1|q|build\ne\n"
GC_DELETE = "m\nd\no12\ne\n"


class FakeClient:
    def __init__(self) -> None:
        self.sent: list[str] = []

    def send_command(self, command, retry=True, binary=False):
        self.sent.append(command)
        return "yv"


def test_py4j_filter_drops_proxy_gc_deletes_only():
    assert counts_as_call(CALL)
    assert not counts_as_call(GC_DELETE)
    # a call whose argument merely contains "m\nd\n" still counts
    assert counts_as_call("c\no1\nf\nsm\nd\ne\n")


def test_py4j_counter_counts_own_thread_and_restores():
    client = FakeClient()
    original = client.send_command
    counter = Py4jCounter(client)
    for cmd in (CALL, GC_DELETE, CALL):
        assert client.send_command(cmd) == "yv"
    other = threading.Thread(target=client.send_command, args=(CALL,))
    other.start()
    other.join(timeout=10)
    assert not other.is_alive()
    assert counter.n == 2
    assert len(client.sent) == 4  # every command still reaches the JVM
    counter.close()
    assert client.send_command == original


def test_group_ids_never_repeat():
    ids = {group_id(k, q, ph) for k in (-1, 0, 1) for q in ("a", "b") for ph in ("build", "action")}
    assert len(ids) == 12


def _event_log(*events) -> list[str]:
    return [json.dumps(e) for e in events]


def _task(stage, **m):
    return {"Event": "SparkListenerTaskEnd", "Stage ID": stage, "Task Metrics": m}


def test_event_log_parser_attributes_tasks_by_submitting_group():
    a = group_id(0, "q", "action")
    b = group_id(0, "q", "build")
    mib = 1024 * 1024
    lines = _event_log(
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Properties": {"spark.jobGroup.id": a}},
        {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 0},
         "Properties": {"spark.jobGroup.id": a}},
        _task(0, **{"Executor Run Time": 1500, "JVM GC Time": 250,
                    "Shuffle Read Metrics": {"Remote Bytes Read": mib, "Local Bytes Read": mib},
                    "Shuffle Write Metrics": {"Shuffle Bytes Written": 3 * mib},
                    "Disk Bytes Spilled": mib, "Input Metrics": {"Bytes Read": 4 * mib}}),
        _task(0, **{"Executor Run Time": 500}),
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 0}},
        # a micro-batch job under a stream's run id, charged to the build group
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Properties": {"spark.jobGroup.id": "run-1"}},
        {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 1},
         "Properties": {"spark.jobGroup.id": "run-1"}},
        _task(1, **{"Executor Run Time": 100}),
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 1}},
        # a job outside any group (table load) is not attributed
        {"Event": "SparkListenerJobStart", "Job ID": 2, "Properties": {}},
        {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 2}, "Properties": {}},
        _task(2, **{"Executor Run Time": 9000}),
        {"Event": "SparkListenerLogStart", "Spark Version": "4"},
    )
    out = parse_event_log(lines, {"run-1": b})
    assert set(out) == {a, b}
    assert out[a]["jobs"] == 1 and out[a]["stages"] == 1 and out[a]["tasks"] == 2
    assert out[a]["executor_run_s"] == 2.0
    assert out[a]["jvm_gc_s"] == 0.25
    assert out[a]["shuffle_read_mb"] == 2.0
    assert out[a]["shuffle_write_mb"] == 3.0
    assert out[a]["spill_mb"] == 1.0
    assert out[a]["input_mb"] == 4.0
    assert out[b] == {"jobs": 1, "stages": 1, "tasks": 1, "executor_run_s": 0.1,
                      "jvm_gc_s": 0.0, "shuffle_read_mb": 0.0, "shuffle_write_mb": 0.0,
                      "spill_mb": 0.0, "input_mb": 0.0}


def _progress(rows, ops=(), **durations):
    return {"numInputRows": rows, "durationMs": durations, "stateOperators": list(ops)}


def test_listener_aggregation_keys_progress_to_starting_query():
    agg = StreamAggregate()
    g1, g2 = group_id(0, "str_a", "build"), group_id(0, "str_b", "build")
    agg.started("orphan")  # started outside any benchmark call
    agg.begin(g1)
    agg.started("r1")
    agg.begin(g2)
    agg.started("r2")
    agg.begin(None)
    # progress arrives late, after the caller moved on: still keyed by run id
    op = {"commitTimeMs": 7, "numRowsTotal": 10, "memoryUsedBytes": 1024 * 1024}
    agg.progress("r1", _progress(100, [op, op], triggerExecution=50, addBatch=30,
                                 walCommit=4, commitOffsets=6))
    agg.progress("r1", _progress(0, [dict(op, numRowsTotal=5)], triggerExecution=10))
    agg.progress("r2", _progress(7, triggerExecution=3))
    agg.progress("orphan", _progress(999, triggerExecution=999))
    s1 = agg.by_group[g1]
    assert s1["batches"] == 2 and s1["input_rows"] == 100
    assert s1["trigger_ms"] == 60 and s1["add_batch_ms"] == 30 and s1["commit_ms"] == 10
    assert s1["state_commit_ms"] == 21
    assert s1["state_rows"] == 20  # a level: the largest per-batch total
    assert s1["state_mem_mb"] == 2.0
    assert agg.by_group[g2]["batches"] == 1 and agg.by_group[g2]["input_rows"] == 7
    assert set(agg.by_group) == {g1, g2}


def test_steal_pct():
    assert steal_pct((10, 1000), (30, 2000)) == 2.0
    assert steal_pct((10, 1000), (10, 1000)) == 0.0


def test_digest_ignores_row_and_column_order_and_float_noise():
    import pandas as pd

    from canon import digest

    a = pd.DataFrame({"k": [1, 2, 3], "w": [0.1 + 0.2, 1.5, None], "s": ["x", "y", "z"]})
    b = pd.DataFrame({"s": ["z", "x", "y"], "w": [float("nan"), 0.3, 1.5], "k": [3, 1, 2]})
    assert digest(a) == digest(b)
    # a changed value, a swapped pair of cells, or a dropped row all show
    assert digest(a) != digest(a.assign(w=[0.3, 1.5, 2.0]))
    assert digest(a) != digest(a.assign(s=["y", "x", "z"]))
    assert digest(a) != digest(a.iloc[:2])


def test_digest_matches_between_duckdb_and_pandas():
    import duckdb
    import pandas as pd

    from canon import digest

    sql = (
        "SELECT * FROM (VALUES (1, 0.5::DOUBLE, TIMESTAMP '2024-01-02 00:00:00', true), "
        "(2, NULL, TIMESTAMP '2024-01-02 03:04:05', false)) t(k, w, ts, kept)"
    )
    con = duckdb.connect()
    try:
        from_duckdb = con.execute(sql).df()
    finally:
        con.close()
    from_pandas = pd.DataFrame({
        "kept": [False, True],
        "ts": pd.to_datetime(["2024-01-02 03:04:05", "2024-01-02 00:00:00"]),
        "w": [None, 0.5],
        "k": [2, 1],
    })
    assert digest(from_duckdb) == digest(from_pandas)
