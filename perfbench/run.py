#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. It starts one ``local[nproc]`` session
in this process, runs one workload on inputs generated from ``--seed``,
checks the outputs, and prints a record line and then, as the last line,
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0``
the metrics are the end-to-end ones. With ``--trace 1`` the event log is
on and the timed passes alternate between untraced and traced ones; the
metrics are the per-layer ones, from the traced passes, plus the tracing
overhead: traced against untraced passes of the same run. Scratch lives
under ``.perfbench/`` in the checkout and is removed at exit; traced
runs leave their spans in ``.perfbench/spans/``.
See README.md in this directory for what each metric means.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import traceback
from statistics import median

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import harness  # noqa: E402

WORKLOADS = ("sensor_stream", "dataprep_mix")

END_TO_END = {
    "setup_s": "s",
    "pass_s": "s",
    "drain_rows_per_s": "rows/s",
    "emit_latency_p50_s": "s",
    "emit_latency_p90_s": "s",
}

PER_LAYER = {
    "session.self_s": "s",
    "queries.self_s": "s",
    "operators.self_s": "s",
    "streaming.self_s": "s",
    "queries.build_s": "s",
    "queries.build_jobs": "count",
    "queries.retained_storage_bytes": "bytes",
    "operators.analysis_ms": "ms",
    "operators.optimization_ms": "ms",
    "operators.planning_ms": "ms",
    "operators.exec_s": "s",
    "operators.executor_run_ms": "ms",
    "operators.executor_cpu_ms": "ms",
    "operators.jvm_gc_ms": "ms",
    "operators.shuffle_read_bytes": "bytes",
    "operators.shuffle_write_bytes": "bytes",
    "operators.spill_bytes": "bytes",
    "operators.jobs": "count",
    "operators.stages": "count",
    "operators.tasks": "count",
    "operators.peak_exec_memory_bytes": "bytes",
    "operators.python_total_ms": "ms",
    "operators.python_boot_ms": "ms",
    "operators.python_bytes_sent": "bytes",
    "operators.python_bytes_received": "bytes",
    "sources.input_bytes": "bytes",
    "sources.input_rows": "count",
    "sources.latest_offset_ms": "ms",
    "streaming.trigger_ms": "ms",
    "streaming.add_batch_ms": "ms",
    "streaming.query_planning_ms": "ms",
    "streaming.wal_commit_ms": "ms",
    "streaming.commit_offsets_ms": "ms",
    "streaming.state_commit_ms": "ms",
    "streaming.state_update_ms": "ms",
    "streaming.state_rows_total": "count",
    "streaming.state_memory_bytes": "bytes",
    "streaming.rows_dropped_by_watermark": "count",
    "streaming.sink_write_ms": "ms",
    "streaming.batches": "count",
    "streaming.no_data_batches": "count",
    "streaming.backlog_drops_max": "count",
    "streaming.generator_late_s": "s",
    "trace.overhead_pct": "%",
}


def _workload(spark, name: str, seed: int, scratch: str, tracer):
    if name == "sensor_stream":
        import stream

        return stream, stream.SensorStream(spark, seed, scratch, tracer)
    import batch

    return batch, batch.BatchMix(spark, name, seed, scratch, tracer)


def run(args, scratch: str) -> dict:
    """Set up, run the workload, and collect metrics and the run record.

    A traced run keeps the event log on from the start; its per-layer
    metrics come from the traced passes, and the ratio of the traced to
    the untraced passes' median times is the tracing overhead."""
    tracer = harness.Tracer(enabled=False)
    probes = {"before": harness.host_probe()}
    spark, s0, s1 = harness.start_session(scratch, event_log=bool(args.trace))
    out: dict = {"seed": args.seed, "workload": args.workload,
                 "host": harness.host_record(spark)}
    wl = None
    try:
        mod, wl = _workload(spark, args.workload, args.seed, scratch, tracer)
        t_run = time.perf_counter()
        res = wl.run(args.seconds, traced=bool(args.trace))
        metrics, out["samples"] = mod.summarize(res)
        out["samples"]["warm_pass_s"] = [round(x, 4) for x in wl.warm_s]
        metrics["setup_s"] = s1 - s0
        if args.trace:
            tracer.enabled = True
            tracer.add("setup", "session", s0, s1, None)
            app_id = spark.sparkContext.applicationId
            wl.close()
            spark.stop()
            groups = harness.event_log_metrics(os.path.join(scratch, "eventlog"), app_id)
            layers = mod.layer_metrics(res, groups)
            for layer, secs in tracer.self_seconds().items():
                layers[f"{layer}.self_s"] = secs
            layers["trace.overhead_pct"] = 100.0 * (
                median(mod.pass_times(res, True)) / median(mod.pass_times(res, False)) - 1.0
            )
            metrics = {k: float(layers.get(k, 0.0)) for k in PER_LAYER}
            tracer.dump(os.path.join(
                harness.STATE_DIR, "spans", f"{args.workload}-seed{args.seed}.json"
            ))
        out["phase_s"] = {"setup": s1 - s0, "workload": time.perf_counter() - t_run,
                          "checks": wl.check_s}
        out["metrics"] = metrics
        out["attempted"] = wl.attempted
        out["errors"] = [f"{op}: {why}" for op, why in wl.errors.items()]
    finally:
        if wl is not None:
            wl.close()
        harness.shutdown(spark)
    probes["after"] = harness.host_probe()
    out["host_probe"] = probes
    return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(harness.ROOT, "masd_spark")):
        print("perfbench: no masd_spark package next to perfbench/; "
              "run from the root of a full checkout", file=sys.stderr)
        return 2

    # the engine, and tests/oracle.py for the batch mix's output checks
    sys.path[1:1] = [harness.ROOT, os.path.join(harness.ROOT, "tests")]
    scratch = os.path.join(harness.STATE_DIR, f"run-{os.getpid()}")
    harness.prepare_env(scratch)
    try:
        out = run(args, scratch)
    except Exception:  # noqa: BLE001 - report, print no result
        traceback.print_exc()
        return 1
    finally:
        shutil.rmtree(scratch, ignore_errors=True)

    units = PER_LAYER if args.trace else END_TO_END
    failed = len(out["errors"])
    attempted = out["attempted"]
    record = {k: v for k, v in out.items() if k != "metrics"}
    record["error_rate"] = failed / attempted if attempted else 1.0
    for err in out["errors"]:
        print(f"perfbench error: {err}", file=sys.stderr)
    print(json.dumps({"record": record}))
    print(
        json.dumps(
            {
                "correct": failed == 0 and attempted > 0,
                "attempted": attempted,
                "failed": failed,
                "metrics": {
                    k: {"value": out["metrics"][k], "unit": u} for k, u in units.items()
                },
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
