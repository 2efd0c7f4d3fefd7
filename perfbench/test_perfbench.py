"""Self-tests of the benchmark's own machinery; no Spark needed.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import hashlib
import io
import json
import os
import shutil
import subprocess
import sys

import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import harness  # noqa: E402
import stats  # noqa: E402
import stream  # noqa: E402


def _parquet_bytes(tables) -> str:
    h = hashlib.sha256()
    for name in sorted(tables):
        buf = io.BytesIO()
        pq.write_table(tables[name], buf)
        h.update(name.encode() + buf.getvalue())
    return h.hexdigest()


def test_batch_fixture_is_a_function_of_seed_and_index(tmp_path):
    a = _parquet_bytes(gen.batch_tables(7, 1))
    assert a == _parquet_bytes(gen.batch_tables(7, 1))
    assert a != _parquet_bytes(gen.batch_tables(8, 1))
    assert a != _parquet_bytes(gen.batch_tables(7, 2))
    d1 = gen.write_batch_fixture(7, 1, str(tmp_path / "a"))
    d2 = gen.write_batch_fixture(7, 1, str(tmp_path / "b"))
    for name in os.listdir(d1):
        with open(os.path.join(d1, name), "rb") as f1, open(os.path.join(d2, name), "rb") as f2:
            assert f1.read() == f2.read(), name


def test_batch_fixture_shapes():
    tabs = gen.batch_tables(3, 0)
    for name, rows in gen.ROWS.items():
        assert tabs[name].num_rows == rows, name
    li = tabs["lineitem"]
    assert max(li.column("l_linenumber").to_pylist()) <= 7
    assert set(li.column("l_orderkey").to_pylist()) <= set(range(gen.ROWS["orders"]))
    docs = tabs["documents"].column("text").to_pylist()
    assert sum(t.endswith(" dup") for t in docs) == round(gen.ROWS["documents"] * gen.DUP_SHARE)


def test_sensor_drops_deterministic_and_never_late():
    a = gen.sensor_drops(5, 0, 6, 400, 1_000_000)
    assert a == gen.sensor_drops(5, 0, 6, 400, 1_000_000)
    assert a != gen.sensor_drops(6, 0, 6, 400, 1_000_000)
    assert a != gen.sensor_drops(5, 1, 6, 400, 1_000_000)
    seen_max = None
    bad = total = 0
    for body in a:
        rows = [json.loads(line) for line in body.decode().splitlines()]
        assert len(rows) == 400
        ts = [r["timestamp"] for r in rows]
        if seen_max is not None:
            # inside the 5 s watermark of everything dropped before
            assert min(ts) >= seen_max - 5000
        seen_max = max(ts) if seen_max is None else max(seen_max, max(ts))
        bad += sum(r["value"] == "<<bad_data>>" for r in rows)
        total += len(rows)
    assert 0.02 < bad / total < 0.08


def test_percentile_and_tail_rule():
    xs = [float(i) for i in range(1, 101)]
    assert stats.percentile(xs, 50) == pytest.approx(50.5)
    assert stats.percentile(xs, 90) == pytest.approx(90.1)
    assert stats.percentile([3.0], 90) == 3.0
    assert stats.beyond(xs, 90) == 10
    # 92 samples are the fewest that leave ten beyond the p90
    assert stats.beyond(xs[:92], 90) == 10
    assert stats.beyond(xs[:91], 90) == 9
    # the open loop carries enough drops for ten beyond its p90
    n = stream.OPEN_MIN_DROPS
    assert stats.beyond([float(i) for i in range(n)], 90) >= 10


def _write_log(path, version_and_entries):
    with open(path, "w", encoding="utf-8") as fh:
        fh.write("v1\n")
        for e in version_and_entries:
            fh.write(json.dumps(e) + "\n")


def test_drop_to_batch_mapping_with_no_data_batches(tmp_path):
    log = tmp_path / "sources0"
    log.mkdir()
    entries = [{"path": f"file:///in/drop{k}.json", "timestamp": 0, "batchId": off}
               for k, off in enumerate([0, 0, 1, 2, 2, 3])]
    # offsets 0-1 live in a compacted file, 2-3 in plain ones; a compacted
    # file repeats earlier entries
    _write_log(log / "1.compact", entries[:3])
    _write_log(log / "2", entries[3:5])
    _write_log(log / "3", entries[5:])
    _write_log(log / "0", entries[:2])
    offsets = stats.read_file_source_log(str(log))
    assert offsets == {e["path"]: e["batchId"] for e in entries}

    def prog(batch, start, end):
        off = lambda o: None if o is None else {"logOffset": o}  # noqa: E731
        return {"batchId": batch, "sources": [{"startOffset": off(start), "endOffset": off(end)}]}

    progress = [
        prog(0, None, 0),
        prog(1, 0, 0),  # no-data batch: watermark advance
        prog(2, 0, 2),  # two log offsets in one micro-batch
        prog(3, 2, 2),  # no-data batch
        prog(4, 2, 3),
    ]
    got = stats.map_drops_to_batches(offsets, progress)
    assert got == {
        "file:///in/drop0.json": 0,
        "file:///in/drop1.json": 0,
        "file:///in/drop2.json": 2,
        "file:///in/drop3.json": 2,
        "file:///in/drop4.json": 2,
        "file:///in/drop5.json": 4,
    }
    # offsets given as JSON text, as StreamingQueryProgress objects carry them
    assert stats.log_offset('{"logOffset": 7}') == 7


def test_pass_plan_interleaves_traced_passes():
    assert harness.pass_plan(3, traced=False) == [False] * 3
    # u t t u: both kinds sit at the same mean position in the run
    assert harness.pass_plan(3, traced=True) == [False, True, True, False]
    plan = harness.pass_plan(5, traced=True)
    assert len(plan) == 8 and sum(plan) == 4
    traced = [i for i, on in enumerate(plan) if on]
    untraced = [i for i, on in enumerate(plan) if not on]
    assert sum(traced) == sum(untraced)


def test_tracer_self_time():
    tr = harness.Tracer(enabled=True)
    parent = tr.add("query", "queries", 0.0, 10.0, None)
    tr.add("exec", "operators", 2.0, 5.0, parent)
    tr.add("exec", "operators", 4.0, 6.0, parent)  # overlaps the first
    tr.add("pass", "bench", 0.0, 10.0, None)
    self_s = tr.self_seconds()
    assert self_s == {"queries": pytest.approx(6.0), "operators": pytest.approx(5.0)}
    off = harness.Tracer(enabled=False)
    with off.span("x", "queries"):
        pass
    assert off.spans == []


def test_event_log_totals_by_group(tmp_path):
    app = "local-1"
    events = [
        {"Event": "SparkListenerJobStart", "Submission Time": 500, "Stage IDs": [0],
         "Properties": {"spark.jobGroup.id": "early"}},
        {"Event": "SparkListenerJobStart", "Submission Time": 2000, "Stage IDs": [1, 2],
         "Properties": {"spark.jobGroup.id": "p0/q"}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0, "Task Metrics": {"Executor Run Time": 99}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 1, "Task Metrics": {
            "Executor Run Time": 7, "Executor CPU Time": 3_000_000, "Peak Execution Memory": 10,
            "Input Metrics": {"Bytes Read": 100, "Records Read": 4},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": 30}},
         "Task Info": {"Accumulables": [
             {"Name": "time to run Python workers", "Update": "12"}]}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 2, "Task Metrics": {
            "Executor Run Time": 5, "Peak Execution Memory": 40,
            "Shuffle Read Metrics": {"Local Bytes Read": 30, "Remote Bytes Read": 0}}},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 1}},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 2}},
    ]
    rolled = tmp_path / f"eventlog_v2_{app}"
    rolled.mkdir()
    (rolled / f"events_1_{app}").write_text("\n".join(json.dumps(e) for e in events) + "\n")
    groups = harness.event_log_metrics(str(tmp_path), app)
    assert sorted(groups) == ["early", "p0/q"]
    assert groups["early"]["operators.executor_run_ms"] == 99
    g = groups["p0/q"]
    assert g["operators.executor_run_ms"] == 12
    assert g["operators.executor_cpu_ms"] == pytest.approx(3.0)
    assert g["operators.peak_exec_memory_bytes"] == 40
    assert g["operators.shuffle_read_bytes"] == g["operators.shuffle_write_bytes"] == 30
    assert g["sources.input_rows"] == 4 and g["sources.input_bytes"] == 100
    assert g["operators.python_total_ms"] == 12
    assert g["operators.stages"] == 2 and g["operators.tasks"] == 2 and g["operators.jobs"] == 1


def test_refuses_to_run_without_the_engine(tmp_path):
    """In a directory holding only the benchmark, the command fails fast
    and prints no result."""
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "dataprep_mix",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60,
    )
    assert proc.returncode != 0
    assert proc.stdout == ""
