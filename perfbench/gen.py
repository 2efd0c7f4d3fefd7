"""Seeded input generators for the benchmark.

Everything the engine reads in a benchmark run is made here from the
``--seed`` argument; the same seed gives byte-identical files.

* :func:`write_batch_fixture` writes the ten fixture tables
  (``masd_spark.sources.tables.TABLE_NAMES``) with the schemas, value sets
  and distributions of the committed test fixtures (FIXTURES.md part B) at
  the sf0.01 row counts. Row order is shuffled by the seed, and near-
  duplicate documents are planted the way the test fixtures plant them.
* :func:`sensor_drops` makes JSON-lines file drops with the reference
  producer's semantics (FIXTURES.md A1): three stations scaled to ~1000
  sensors, Gaussian values, 5% ``<<bad_data>>``, and events out of order
  by at most :data:`MAX_DISORDER_MS`, which stays inside the pipeline's
  5 s watermark so no row is ever late.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

# sf0.01 row counts of the committed fixtures; region/nation are fixed.
ROWS = {
    "customer": 1500,
    "supplier": 100,
    "part": 2000,
    "orders": 15000,
    "lineitem": 60000,
    "events": 10000,
    "documents": 500,
    "embeddings": 500,
}

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
EMBED_DIM = 64
DUP_SHARE = 0.05

DAY_US = 86_400 * 1_000_000
_EPOCH = np.datetime64("1970-01-01", "D")


def _day_us(start: str, end: str, n: int, rng: np.random.Generator) -> np.ndarray:
    lo = int((np.datetime64(start, "D") - _EPOCH).astype(int))
    hi = int((np.datetime64(end, "D") - _EPOCH).astype(int))
    return rng.integers(lo, hi + 1, n).astype(np.int64) * DAY_US


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us, type=pa.timestamp("us"))


def _pick(values: list[str], idx: np.ndarray) -> pa.Array:
    return pa.DictionaryArray.from_arrays(
        pa.array(idx, type=pa.int32()), pa.array(values)
    ).cast(pa.string())


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _documents(rng: np.random.Generator, n: int) -> list[str]:
    lengths = rng.integers(10, 100, n)
    words = rng.integers(0, len(VOCAB), int(lengths.sum()))
    vocab = np.array(VOCAB)
    texts, pos = [], 0
    for k in lengths:
        texts.append(" ".join(vocab[words[pos : pos + k]]))
        pos += k
    # near duplicates: a later doc repeats an earlier one plus " dup"
    n_dup = int(round(n * DUP_SHARE))
    targets = rng.choice(np.arange(1, n), n_dup, replace=False)
    for t in sorted(int(x) for x in targets):
        texts[t] = texts[int(rng.integers(0, t))] + " dup"
    return texts


def batch_tables(seed: int, index: int) -> dict[str, pa.Table]:
    """Fixture ``index`` of the run seeded ``seed``: the ten tables, rows
    in seeded order. Each pass of a run reads its own ``index``."""
    rng = np.random.default_rng([seed, index, 0xF1C5])
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS}
    )
    out["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    n = ROWS["customer"]
    out["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n)],
            "c_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, n),
            "c_mktsegment": _pick(SEGMENTS, rng.integers(0, 5, n)),
        }
    )
    n = ROWS["supplier"]
    out["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(n)],
            "s_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, n),
        }
    )
    n = ROWS["part"]
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    out["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(n), pa.int64()),
            "p_name": _pick(names, rng.integers(0, len(names), n)),
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n)],
            "p_type": _pick(PART_TYPES, rng.integers(0, 6, n)),
            "p_size": pa.array(rng.integers(1, 51, n), pa.int32()),
            "p_retailprice": np.round(900.0 + (np.arange(n) % 1000) * 0.1, 1),
        }
    )
    n_orders = ROWS["orders"]
    out["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_orders), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, ROWS["customer"], n_orders)),
            "o_orderstatus": _pick(["F", "O", "P"], rng.integers(0, 3, n_orders)),
            "o_totalprice": _money(rng, 1000.0, 500000.0, n_orders),
            "o_orderdate": _ts(_day_us("1995-01-01", "2001-08-01", n_orders, rng)),
            "o_orderpriority": _pick(PRIORITIES, rng.integers(0, 5, n_orders)),
        }
    )
    # 1..7 lines per order (mean 4.1, so the total clears the lineitem
    # row count by ~10 sigma), cut at the row count
    n = ROWS["lineitem"]
    per_order = 1 + rng.binomial(6, 3.1 / 6, n_orders)
    orderkey = np.repeat(np.arange(n_orders), per_order)[:n]
    starts = np.concatenate([[0], np.cumsum(per_order)[:-1]])
    linenumber = (np.arange(len(orderkey)) - starts[orderkey] + 1)
    out["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(orderkey, pa.int64()),
            "l_partkey": pa.array(rng.integers(0, ROWS["part"], n)),
            "l_suppkey": pa.array(rng.integers(0, ROWS["supplier"], n)),
            "l_linenumber": pa.array(linenumber, pa.int32()),
            "l_quantity": rng.integers(1, 51, n).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105000.0, n),
            "l_discount": np.round(rng.uniform(0.0, 0.10, n), 2),
            "l_tax": np.round(rng.uniform(0.0, 0.08, n), 2),
            "l_returnflag": _pick(["A", "N", "R"], rng.integers(0, 3, n)),
            "l_linestatus": _pick(["F", "O"], rng.integers(0, 2, n)),
            "l_shipdate": _ts(_day_us("1995-01-02", "2001-11-04", n, rng)),
        }
    )
    n = ROWS["events"]
    start_us = int((np.datetime64("2024-01-01", "D") - _EPOCH).astype(int)) * DAY_US
    gaps = rng.exponential(259.0e6, n).astype(np.int64)
    out["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n), pa.int64()),
            "ts": _ts(start_us + np.cumsum(gaps)),
            "user_id": pa.array(rng.integers(0, 150, n)),
            "event_type": _pick(EVENT_TYPES, rng.integers(0, 5, n)),
            "value": np.maximum(np.round(rng.exponential(50.0, n), 2), 0.01),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
        }
    )
    n = ROWS["documents"]
    texts = _documents(rng, n)
    out["documents"] = pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": texts,
            "lang": _pick(LANGS, rng.choice(5, n, p=LANG_P)),
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    n = ROWS["embeddings"]
    vecs = rng.standard_normal((n, EMBED_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": pa.FixedSizeListArray.from_arrays(
                pa.array(vecs.ravel()), EMBED_DIM
            ).cast(pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n), pa.int32()),
        }
    )
    return {
        name: tab.take(pa.array(rng.permutation(tab.num_rows)))
        for name, tab in out.items()
    }


def write_batch_fixture(seed: int, index: int, out_dir: str) -> str:
    """Write one fixture directory (``<table>.parquet`` per table)."""
    os.makedirs(out_dir, exist_ok=True)
    for name, tab in batch_tables(seed, index).items():
        pq.write_table(tab, os.path.join(out_dir, f"{name}.parquet"))
    return out_dir


# -- sensor stream -----------------------------------------------------------

# producer config.json: perugia x15, foligno x10, spoleto x8 sensors, x30
STATIONS = [("perugia", "Perugia", 450), ("foligno", "Foligno", 300), ("spoleto", "Spoleto", 240)]
N_SENSORS = sum(n for _, _, n in STATIONS)
MEAN_INTERVAL_MS = 250.0  # per-sensor inter-arrival mean
BAD_SHARE = 0.05
MAX_DISORDER_MS = 2000  # < the pipeline's 5 s watermark
_PREFIX = pa.array(
    [f'{{"station_name":"{n}","station_id":"{i}","sensor_id":"' for i, n, _ in STATIONS]
)


def sensor_drops(
    seed: int, stream: int, n_drops: int, rows_per_drop: int, t0_ms: int
) -> list[bytes]:
    """``n_drops`` JSON-lines files of ``rows_per_drop`` readings each,
    for input stream number ``stream`` of the run seeded ``seed``.

    Drop ``k`` covers the event-time slice that ~1000 sensors fill at
    their 250 ms cadence, starting where drop ``k-1`` ended. Inside a
    drop rows are shuffled and each timestamp is pulled back by up to
    :data:`MAX_DISORDER_MS`, so every event lies within the watermark
    of everything in earlier drops.
    """
    rng = np.random.default_rng([seed, stream, 0x5E45])
    slice_ms = rows_per_drop * MEAN_INTERVAL_MS / N_SENSORS
    station_of = np.repeat(np.arange(len(STATIONS)), [n for _, _, n in STATIONS])
    first_id = np.concatenate([[0], np.cumsum([n for _, _, n in STATIONS])[:-1]])
    drops = []
    for k in range(n_drops):
        nominal = t0_ms + (k + rng.random(rows_per_drop)) * slice_ms
        ts = (nominal - rng.uniform(0, MAX_DISORDER_MS, rows_per_drop)).astype(np.int64)
        sensor = rng.integers(0, N_SENSORS, rows_per_drop)
        mu = np.maximum(30.0, rng.normal(70.0, 20.0, rows_per_drop))
        val = np.maximum(0.0, np.round(rng.normal(mu, mu / 10.0), 3))
        bad = rng.random(rows_per_drop) < BAD_SHARE
        st = station_of[sensor]
        order = rng.permutation(rows_per_drop)
        cols = [
            _PREFIX.take(pa.array(st[order])),
            pc.cast(pa.array((sensor - first_id[st])[order]), pa.string()),
            pa.array(np.full(rows_per_drop, '","timestamp":')),
            pc.cast(pa.array(ts[order]), pa.string()),
            pa.array(np.full(rows_per_drop, ',"value":"')),
            pa.array(np.where(bad, "<<bad_data>>", val.astype(str))[order]),
            pa.array(np.full(rows_per_drop, '"}\n')),
        ]
        drops.append("".join(pc.binary_join_element_wise(*cols, "").to_pylist()).encode())
    return drops
