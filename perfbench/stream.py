"""The sensor stream workload: the reference pipeline (file drops ->
``sensor_pipeline`` -> ``start_keyed_sink``) in two phases.

* Drain: pre-written backlogs are consumed with ``availableNow`` at a
  fixed number of files per trigger; one pass is one backlog, and a run
  makes several.
* Open loop: drops land on a fixed schedule that does not slow when
  the engine slows, at about half the drain capacity measured on a
  4-CPU host, while triggers run back to back. A drop's emit latency
  is the time its micro-batch's sink write finished minus the time the
  drop was due.

Progress records are collected by a listener (``recentProgress`` keeps
only the last 100), each drop is mapped to its micro-batch through the
file source's log offsets, and emission is timed inside the
``write_batch`` hook. The stream's output is checked against the batch
twin: the last emission per key in the sink must equal
``sensor_pipeline`` over the same drops read as a batch.
"""

from __future__ import annotations

import json
import math
import os
import threading
import time
import traceback
from datetime import datetime
from statistics import median

from gen import sensor_drops
from harness import Tracer, pass_plan, storage_bytes
from stats import map_drops_to_batches, percentile, read_file_source_log

DRAIN_FILES = 6
DRAIN_ROWS_PER_FILE = 5000
DRAIN_FILES_PER_TRIGGER = 3
DRAIN_BUDGET_S = 7.0  # a warm drain pass measured ~7 s on a 4-CPU host
DRAIN_PASSES_MIN = 2
OPEN_DROPS_PER_S = 10.0
OPEN_ROWS_PER_DROP = 250
OPEN_MIN_DROPS = 110  # >= 10 samples beyond p90
EVENT_T0_MS = 1_700_000_000_000
CHECK_GROUP = "perfbench-check"  # job group of the output checks' Spark jobs


class ProgressLog:
    """Every progress record of every query, by query id, in arrival
    order. Filled from the listener bus thread."""

    def __init__(self):
        from pyspark.sql.streaming import StreamingQueryListener

        log = self

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                rec = json.loads(event.progress.json)
                with log.lock:
                    log.by_query.setdefault(rec["id"], []).append(rec)

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self.lock = threading.Lock()
        self.by_query: dict[str, list[dict]] = {}
        self.listener = _Listener()

    def records(self, query, timeout_s: float = 20.0) -> list[dict]:
        """All records of a stopped ``query``, waiting for the listener
        to deliver up to its last progress."""
        last = query.lastProgress
        want = -1 if last is None else int(last["batchId"])
        deadline = time.monotonic() + timeout_s
        while True:
            with self.lock:
                recs = list(self.by_query.get(str(query.id), []))
            if (recs and recs[-1]["batchId"] >= want) or want < 0:
                break
            if time.monotonic() > deadline:
                break
            time.sleep(0.05)
        return sorted(recs, key=lambda r: r["batchId"])


def _epoch(ts: str) -> float:
    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


class SensorStream:
    def __init__(self, spark, seed: int, scratch: str, tracer: Tracer):
        self.spark = spark
        self.seed = seed
        self.scratch = scratch
        self.tracer = tracer
        self.next_stream = 0
        self.attempted = 0
        self.errors: dict[str, str] = {}  # failed operation -> first reason
        self.check_s = 0.0
        self.progress = ProgressLog()
        spark.streams.addListener(self.progress.listener)
        self.listening = True

    def close(self) -> None:
        """Remove the progress listener (once; safe to call again)."""
        if self.listening:
            self.spark.streams.removeListener(self.progress.listener)
            self.listening = False

    def _dirs(self, label: str) -> dict[str, str]:
        base = os.path.join(self.scratch, "stream", label)
        out = {k: os.path.join(base, k) for k in ("in", "stage", "ckpt", "sink")}
        for k in ("in", "stage"):
            os.makedirs(out[k], exist_ok=True)
        return out

    def _drops(self, n: int, rows: int) -> list[bytes]:
        idx = self.next_stream
        self.next_stream += 1
        return sensor_drops(self.seed, idx, n, rows, EVENT_T0_MS + idx * 10**8)

    def _start(self, label: str, d: dict, files_per_trigger: int, available_now: bool):
        """Build the pipeline and start the keyed sink; returns (query,
        sink write times by batch id, build seconds)."""
        from pyspark.sql import functions as F

        from masd_spark.streaming.pipeline import (
            read_file_sensor_stream,
            sensor_pipeline,
            start_keyed_sink,
        )

        writes: dict[int, tuple[float, float]] = {}

        def write_batch(batch_df, batch_id, path):
            t0 = time.time()
            (
                batch_df.withColumn("sink_key", F.col("station.id"))
                .withColumn("batch_id", F.lit(batch_id))
                .write.mode("append")
                .partitionBy("sink_key")
                .parquet(path)
            )
            writes[batch_id] = (t0, time.time())

        with self.tracer.span("build", "queries", op=label):
            b0 = time.perf_counter()
            agg = sensor_pipeline(
                read_file_sensor_stream(self.spark, d["in"], files_per_trigger)
            )
            build_s = time.perf_counter() - b0
        query = start_keyed_sink(
            agg, d["sink"], d["ckpt"], available_now=available_now, write_batch=write_batch
        )
        return query, writes, build_s

    def _trigger_spans(self, phase: int | None, label: str, progress: list[dict],
                       writes: dict[int, tuple[float, float]]) -> None:
        """Spans for each trigger (from its progress record) and, inside
        it, the sink write the ``write_batch`` hook timed."""
        if not self.tracer.enabled:
            return
        for p in progress:
            op = f"{label}/{p['batchId']}"
            t0 = _epoch(p["timestamp"])
            t1 = t0 + p["durationMs"]["triggerExecution"] / 1000.0
            trig = self.tracer.add("trigger", "streaming", t0, t1, phase, op)
            if p["batchId"] in writes:
                w0, w1 = writes[p["batchId"]]
                self.tracer.add("sink_write", "streaming", w0, w1, trig, op)

    def _check(self, label: str, d: dict, progress: list[dict]) -> None:
        """Sink's last emission per key == batch twin over the same drops;
        nothing dropped by the watermark; no progress record missing."""
        t0 = time.perf_counter()
        sc = self.spark.sparkContext
        sc.setJobGroup(CHECK_GROUP, "output check")
        try:
            self._compare(label, d, progress)
        finally:
            sc.setJobGroup("", "")
            self.check_s += time.perf_counter() - t0

    def _compare(self, label: str, d: dict, progress: list[dict]) -> None:
        from masd_spark.streaming.pipeline import read_file_sensor_stream, sensor_pipeline

        data = [p for p in progress if p["numInputRows"] > 0]
        self.attempted += len(data)
        ids = [p["batchId"] for p in progress]
        if ids != list(range(len(ids))):
            self.errors.setdefault(label, f"progress records missing, got ids {ids}")
        for p in data:
            dropped = sum(s.get("numRowsDroppedByWatermark", 0) for s in p["stateOperators"])
            if dropped:
                self.errors.setdefault(
                    f"{label}/{p['batchId']}", f"{dropped} rows dropped by watermark"
                )
        try:
            schema = read_file_sensor_stream(self.spark, d["in"]).schema
            twin = sensor_pipeline(self.spark.read.schema(schema).json(d["in"])).collect()
            sink = self.spark.read.parquet(d["sink"]).drop("sink_key").collect()
        except Exception:  # noqa: BLE001
            self.errors.setdefault(label, f"check failed: {traceback.format_exc(limit=2)}")
            return
        want = {_key(r): _metrics(r) for r in twin}
        got: dict[tuple, tuple[int, tuple]] = {}
        for r in sink:
            k = _key(r)
            if k not in got or r["batch_id"] > got[k][0]:
                got[k] = (r["batch_id"], _metrics(r))
        bad = {got[k][0] for k in got if not _same_metrics(want.get(k), got[k][1])}
        if set(want) - set(got):
            bad.add("missing keys")
        for b in sorted(bad, key=str):
            self.errors.setdefault(f"{label}/{b}", "sink emission differs from batch twin")

    def drain_pass(self, label: str, traced: bool, warm: bool = False) -> dict:
        """Drain one backlog; a warm-up pass goes unchecked."""
        d = self._dirs(label)
        for k, body in enumerate(self._drops(DRAIN_FILES, DRAIN_ROWS_PER_FILE)):
            with open(os.path.join(d["in"], f"drop{k:05d}.json"), "wb") as fh:
                fh.write(body)
        with self.tracer.span("drain", "bench", op=label):
            phase = self.tracer.current()
            t0 = time.perf_counter()
            query, writes, build_s = self._start(label, d, DRAIN_FILES_PER_TRIGGER, True)
            query.awaitTermination()
            pass_s = time.perf_counter() - t0
        progress = self.progress.records(query)
        self._trigger_spans(phase, label, progress, writes)
        if not warm:
            self._check(label, d, progress)
        return {
            "label": label, "traced": traced, "pass_s": pass_s, "build_s": build_s,
            "progress": progress, "writes": writes,
        }

    def open_loop(self, label: str, seconds: float, traced: bool) -> dict:
        d = self._dirs(label)
        n = max(OPEN_MIN_DROPS, int(seconds * OPEN_DROPS_PER_S))
        drops = self._drops(n, OPEN_ROWS_PER_DROP)
        with self.tracer.span("open_loop", "bench", op=label):
            phase = self.tracer.current()
            query, writes, build_s = self._start(label, d, 10_000, False)
            t_start = time.time() + 0.5
            due, landed = [], []
            for k, body in enumerate(drops):
                t_due = t_start + k / OPEN_DROPS_PER_S
                wait = t_due - time.time()
                if wait > 0:
                    time.sleep(wait)
                name = f"drop{k:05d}.json"
                staged = os.path.join(d["stage"], name)
                with open(staged, "wb") as fh:
                    fh.write(body)
                os.rename(staged, os.path.join(d["in"], name))  # atomic for the source
                due.append(t_due)
                landed.append(time.time())
            query.processAllAvailable()
            query.stop()
        progress = self.progress.records(query)
        self._trigger_spans(phase, label, progress, writes)
        self._check(label, d, progress)
        files = read_file_source_log(os.path.join(d["ckpt"], "sources", "0"))
        batch_of = map_drops_to_batches(
            {os.path.basename(p): off for p, off in files.items()}, progress
        )
        latencies = []
        for k in range(n):
            b = batch_of.get(f"drop{k:05d}.json")
            if b is None or b not in writes:
                self.errors.setdefault(f"{label}/{b}", f"drop {k} (and maybe more) never emitted")
                continue
            latencies.append(writes[b][1] - due[k])
        consumed, backlog_max = 0, 0
        per_batch: dict[int, int] = {}
        for b in batch_of.values():
            per_batch[b] = per_batch.get(b, 0) + 1
        for p in progress:
            start = _epoch(p["timestamp"])
            backlog_max = max(backlog_max, sum(1 for t in landed if t <= start) - consumed)
            consumed += per_batch.get(p["batchId"], 0)
        return {
            "label": label, "traced": traced, "latencies": latencies, "build_s": build_s,
            "progress": progress, "writes": writes,
            "generator_late_s": max(l - t for l, t in zip(landed, due)),
            "backlog_drops_max": backlog_max,
        }

    def run(self, seconds: float, traced: bool) -> dict:
        """An untimed warm-up drain pass (the first stream of a process
        pays its one-off costs, ~10 s on a 4-CPU host, and the next passes
        still speed up); drain passes for half of ``seconds``
        at :data:`DRAIN_BUDGET_S` each (at least :data:`DRAIN_PASSES_MIN`;
        in a traced run, the passes of :func:`harness.pass_plan`), a count
        fixed by ``seconds`` as for the batch mix; then the open loop for
        the other half (never fewer than :data:`OPEN_MIN_DROPS` drops)."""
        self.tracer.enabled = False
        self.warm_s = [self.drain_pass("warm", traced=False, warm=True)["pass_s"]]
        drains = []
        n = max(DRAIN_PASSES_MIN, int(0.5 * seconds // DRAIN_BUDGET_S))
        plan = pass_plan(n, traced)
        for i, on in enumerate(plan):
            self.tracer.enabled = on
            drains.append(self.drain_pass(f"d{i}", on))
        self.tracer.enabled = traced
        loop = self.open_loop("open", 0.5 * seconds, traced)
        self.tracer.enabled = False
        retained = storage_bytes(self.spark) if traced else 0.0
        return {"drains": drains, "open": loop, "retained": retained}


def _key(r) -> tuple:
    return (r["window"]["start"], r["window"]["end"], r["station"]["id"],
            r["station"]["name"], r["sensor"]["id"])


def _metrics(r) -> tuple:
    m = r["metrics"]
    return (m["min_value"], m["max_value"], m["avg_value"], tuple(m["count"]))


def _same_metrics(a: tuple | None, b: tuple) -> bool:
    """Equal, except that the average may differ in its last bits: the
    stream sums each key's values in another order than the batch twin."""
    if a is None or a[:2] != b[:2] or a[3] != b[3]:
        return False
    if a[2] is None or b[2] is None:
        return a[2] is b[2]
    return math.isclose(a[2], b[2], rel_tol=1e-12)


def pass_times(res: dict, traced: bool) -> list[float]:
    return [p["pass_s"] for p in res["drains"] if p["traced"] == traced]


def trigger_rates(res: dict) -> list[float]:
    """Rows per second of each drain trigger that read data: its input
    rows over its ``triggerExecution`` time."""
    return [
        p["numInputRows"] / (p["durationMs"]["triggerExecution"] / 1000.0)
        for d in res["drains"] for p in d["progress"] if p["numInputRows"] > 0
    ]


def summarize(res: dict) -> tuple[dict[str, float], dict]:
    lat = res["open"]["latencies"]
    rates = trigger_rates(res)
    metrics = {
        "pass_s": median([p["pass_s"] for p in res["drains"]]),
        "drain_rows_per_s": median(rates),
        "emit_latency_p50_s": percentile(lat, 50),
        "emit_latency_p90_s": percentile(lat, 90),
    }
    return metrics, {"pass_s": [round(p["pass_s"], 4) for p in res["drains"]],
                     "drain_rows_per_s": [round(r, 1) for r in rates],
                     "latency_samples": len(lat)}


_DURATIONS = {
    "triggerExecution": "streaming.trigger_ms",
    "addBatch": "streaming.add_batch_ms",
    "queryPlanning": "streaming.query_planning_ms",
    "walCommit": "streaming.wal_commit_ms",
    "commitOffsets": "streaming.commit_offsets_ms",
    "latestOffset": "sources.latest_offset_ms",
}


def layer_metrics(res: dict, groups: dict[str, dict[str, float]]) -> dict[str, float]:
    """Per-trigger medians over the traced passes' data batches (drain and
    open loop), counts over them, and the event log's totals for their
    queries' jobs (job group = the query's ``runId``; the output checks'
    jobs are not among them) per data batch."""
    runs = [d for d in res["drains"] if d["traced"]] + [res["open"]]
    progress = [p for r in runs for p in r["progress"]]
    data = [p for p in progress if p["numInputRows"] > 0]
    out: dict[str, float] = {}
    for src, dst in _DURATIONS.items():
        out[dst] = median([p["durationMs"].get(src, 0) for p in data])
    ops = [p["stateOperators"][0] for p in data if p["stateOperators"]]
    out["streaming.state_commit_ms"] = median([o["commitTimeMs"] for o in ops])
    out["streaming.state_update_ms"] = median([o["allUpdatesTimeMs"] for o in ops])
    out["streaming.state_rows_total"] = max(o["numRowsTotal"] for o in ops)
    out["streaming.state_memory_bytes"] = max(o["memoryUsedBytes"] for o in ops)
    out["streaming.rows_dropped_by_watermark"] = sum(
        o["numRowsDroppedByWatermark"] for o in ops
    )
    out["streaming.sink_write_ms"] = median(
        [(t1 - t0) * 1000 for r in runs for t0, t1 in r["writes"].values()]
    )
    out["streaming.batches"] = len(data)
    out["streaming.no_data_batches"] = len(progress) - len(data)
    out["streaming.backlog_drops_max"] = res["open"]["backlog_drops_max"]
    out["streaming.generator_late_s"] = res["open"]["generator_late_s"]
    out["queries.build_s"] = median([r["build_s"] for r in runs])
    out["queries.retained_storage_bytes"] = res["retained"]
    run_ids = {p["runId"] for p in progress}
    totals: dict[str, float] = {}
    for group, vals in groups.items():
        if group not in run_ids:
            continue
        for k, v in vals.items():
            if k == "operators.peak_exec_memory_bytes":
                totals[k] = max(totals.get(k, 0), v)
            else:
                totals[k] = totals.get(k, 0) + v
    for k, v in totals.items():
        out[k] = v if k == "operators.peak_exec_memory_bytes" else v / len(data)
    return out
