"""The batch workload: closed-loop passes over registered queries.

One client runs each query of the mix in turn, from ``QuerySpec.fn`` to
its collected rows, and checks the rows against DuckDB running the
query's registered oracle on the same fixture (the multiset compare of
``tests/oracle.py``). Every pass reads a fixture no earlier pass in the
process has read, so no memo keyed on the input can serve a later pass.
"""

from __future__ import annotations

import os
import time
import traceback

from statistics import median

from gen import write_batch_fixture
from harness import Tracer, pass_plan, storage_bytes
from stats import percentile

MIXES = {
    "dataprep_mix": [
        "dedup_ngram_jaccard",
        "dedup_minhash_lsh",
        "dedup_incremental_minhash",
        "ann_cosine_topk",
        "chunk_documents_udtf",
    ],
}

# Wall time budgeted per timed pass (a warm dataprep_mix pass measured
# 5-6 s on a 4-CPU host); sets how many passes a run of ``--seconds``
# makes: four at 20 s. The slowest query then has four samples a run,
# and the p90 of the 20 query latencies is nine tenths its second-lowest
# sample, so two stalled samples of it move the p90 by a tenth of their
# stall.
PASS_BUDGET_S = 5.0
# Untimed passes first: the JVM keeps warming for several passes (on a
# 4-CPU host, the seven passes after a first cold one ran 7.3, 6.3, 5.4,
# 5.1, 4.9, 4.9 and 4.7 s).
WARM_PASSES = 2

PHASES = ("analysis", "optimization", "planning")


def _phases_ms(df) -> dict[str, float]:
    """Catalyst phase times of ``df``'s QueryExecution, after forcing its
    physical plan."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    out = {}
    for p in PHASES:
        opt = phases.get(p)
        out[f"operators.{p}_ms"] = float(opt.get().durationMs()) if opt.isDefined() else 0.0
    return out


def _same_rows(cols, rows, o_cols, o_rows) -> str | None:
    """None when Spark's and DuckDB's results are equal as multisets."""
    from oracle import _normalize

    s_names, s_norm = _normalize(list(cols), [tuple(r) for r in rows])
    o_names, o_norm = _normalize(list(o_cols), o_rows)
    if s_names != o_names:
        return f"columns {s_names} vs oracle {o_names}"
    if len(s_norm) != len(o_norm):
        return f"{len(s_norm)} rows vs oracle {len(o_norm)}"
    if s_norm != o_norm:
        return "values differ from oracle"
    return None


class BatchMix:
    def __init__(self, spark, name: str, seed: int, scratch: str, tracer: Tracer):
        from masd_spark.queries import load_all

        registry = load_all()
        self.spark = spark
        self.specs = [registry[q] for q in MIXES[name]]
        self.seed = seed
        self.scratch = scratch
        self.tracer = tracer
        self.next_fixture = 0
        self.attempted = 0
        self.errors: dict[str, str] = {}  # failed operation -> first reason
        self.check_s = 0.0

    def _fixture(self) -> tuple[str, int]:
        import pyarrow.parquet as pq

        idx = self.next_fixture
        self.next_fixture += 1
        fx = write_batch_fixture(self.seed, idx, os.path.join(self.scratch, f"fixture{idx}"))
        rows = sum(pq.read_metadata(os.path.join(fx, n)).num_rows for n in os.listdir(fx))
        return fx, rows

    def run_pass(self, label: str, traced: bool) -> dict:
        """One pass over the mix on a fresh fixture; returns its record."""
        from oracle import duckdb_connection

        fx, fx_rows = self._fixture()
        sc = self.spark.sparkContext
        tr = self.tracer
        rec: dict = {"label": label, "traced": traced, "latencies": [], "by_query": {},
                     "layers": {}}
        layers = rec["layers"]

        def add(key: str, v: float) -> None:
            layers[key] = layers.get(key, 0.0) + v

        con = duckdb_connection(fx)
        try:
            with tr.span("pass", "bench", op=label):
                for spec in self.specs:
                    group = f"{label}/{spec.name}"
                    sc.setJobGroup(group, group)
                    self.attempted += 1
                    t0 = time.perf_counter()
                    try:
                        with tr.span("query", "bench", op=group):
                            with tr.span("build", "queries", op=group):
                                b0 = time.perf_counter()
                                df = spec.fn(self.spark, fx)
                                build_s = time.perf_counter() - b0
                            if traced:
                                add("queries.build_s", build_s)
                                add("queries.build_jobs",
                                    len(sc.statusTracker().getJobIdsForGroup(group)))
                                with tr.span("plan", "operators", op=group):
                                    for k, v in _phases_ms(df).items():
                                        add(k, v)
                            with tr.span("execute", "operators", op=group):
                                e0 = time.perf_counter()
                                rows = df.collect()
                                add("operators.exec_s", time.perf_counter() - e0)
                            cols = df.columns
                        rec["latencies"].append(time.perf_counter() - t0)
                        rec["by_query"][spec.name] = rec["latencies"][-1]
                    except Exception:  # noqa: BLE001 - a failed query is a data point
                        self.errors[group] = traceback.format_exc(limit=3)
                        continue
                    finally:
                        df = None
                    if traced:
                        layers["queries.retained_storage_bytes"] = max(
                            layers.get("queries.retained_storage_bytes", 0),
                            storage_bytes(self.spark),
                        )
                    c0 = time.perf_counter()
                    try:
                        cur = con.execute(spec.oracle)
                        diff = _same_rows(
                            cols, rows, [d[0] for d in cur.description], cur.fetchall()
                        )
                    except Exception:  # noqa: BLE001
                        diff = traceback.format_exc(limit=2)
                    self.check_s += time.perf_counter() - c0
                    if diff:
                        self.errors[group] = diff
        finally:
            con.close()
            sc.setJobGroup("", "")
        rec["pass_s"] = sum(rec["latencies"])
        rec["rows_per_s"] = fx_rows / rec["pass_s"] if rec["pass_s"] else 0.0
        return rec

    def run(self, seconds: float, traced: bool) -> list[dict]:
        """:data:`WARM_PASSES` untimed passes, then ``seconds`` worth of
        timed passes at :data:`PASS_BUDGET_S` each (at least one; in a
        traced run, the passes of :func:`harness.pass_plan`). The count
        is fixed by ``seconds``, not by how fast the passes go: the JVM
        keeps warming for minutes, so a faster run that squeezed in one
        more, warmer pass would read faster still."""
        self.tracer.enabled = False
        self.warm_s = [
            self.run_pass(f"warm{i}", traced=False)["pass_s"]
            for i in range(WARM_PASSES)
        ]
        passes = []
        for i, on in enumerate(pass_plan(max(1, int(seconds // PASS_BUDGET_S)), traced)):
            self.tracer.enabled = on
            passes.append(self.run_pass(f"p{i}", on))
        self.tracer.enabled = False
        return passes

    def close(self) -> None:
        """Nothing to release; the stream workload's counterpart removes
        its listener."""


def pass_times(passes: list[dict], traced: bool) -> list[float]:
    return [p["pass_s"] for p in passes if p["traced"] == traced]


def summarize(passes: list[dict]) -> tuple[dict[str, float], dict]:
    """End-to-end metrics of timed passes, plus their sample counts."""
    lat = [x for p in passes for x in p["latencies"]]
    metrics = {
        "pass_s": median([p["pass_s"] for p in passes]),
        "drain_rows_per_s": median([p["rows_per_s"] for p in passes]),
        "emit_latency_p50_s": percentile(lat, 50),
        "emit_latency_p90_s": percentile(lat, 90),
    }
    per_query = {
        q: round(median([p["by_query"][q] for p in passes if q in p["by_query"]]), 4)
        for q in passes[0]["by_query"]
    }
    return metrics, {"pass_s": [round(p["pass_s"], 4) for p in passes],
                     "latency_samples": len(lat), "per_query_s": per_query}


def layer_metrics(passes: list[dict], groups: dict[str, dict[str, float]]) -> dict[str, float]:
    """Per-layer metrics: each traced pass's totals (event-log figures
    summed over the pass's job groups), then the median over them."""
    per_pass = []
    for p in passes:
        if not p["traced"]:
            continue
        tot = dict(p["layers"])
        prefix = p["label"] + "/"
        for group, vals in groups.items():
            if group.startswith(prefix):
                for k, v in vals.items():
                    if k == "operators.peak_exec_memory_bytes":
                        tot[k] = max(tot.get(k, 0), v)
                    else:
                        tot[k] = tot.get(k, 0) + v
        per_pass.append(tot)
    keys = {k for t in per_pass for k in t}
    return {k: median([t.get(k, 0.0) for t in per_pass]) for k in keys}
