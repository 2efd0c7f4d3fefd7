"""Pure helpers: percentiles and the drop -> micro-batch mapping.

Kept free of Spark so the self-tests can pin them without a JVM.
"""

from __future__ import annotations

import json
import math
import os


def percentile(values: list[float], p: float) -> float:
    """Linear-interpolated ``p``-th percentile (0-100) of ``values``."""
    if not values:
        raise ValueError("percentile of no samples")
    xs = sorted(values)
    pos = (len(xs) - 1) * p / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def beyond(values: list[float], p: float) -> int:
    """How many samples lie strictly above the ``p``-th percentile."""
    cut = percentile(values, p)
    return sum(1 for v in values if v > cut)


def read_file_source_log(log_dir: str) -> dict[str, int]:
    """File path -> file-source log offset, from a file stream source's
    metadata log (``<checkpoint>/sources/0``). Each entry's ``batchId``
    is the source's own log offset. Compacted (``N.compact``) and plain
    files are both read, and an entry seen twice keeps one offset.
    """
    out: dict[str, int] = {}
    for name in os.listdir(log_dir):
        if name.startswith(".") or name.endswith(".tmp"):
            continue
        with open(os.path.join(log_dir, name), encoding="utf-8") as fh:
            lines = fh.read().splitlines()
        for line in lines[1:]:  # first line is the log version
            if line.strip():
                entry = json.loads(line)
                out[entry["path"]] = int(entry["batchId"])
    return out


def log_offset(offset: dict | str | None) -> int:
    """``logOffset`` of a file source's progress offset, given parsed or
    as JSON text (-1 before the first batch)."""
    if offset is None:
        return -1
    if isinstance(offset, str):
        offset = json.loads(offset)
    return int(offset["logOffset"])


def map_drops_to_batches(
    file_offsets: dict[str, int], progress: list[dict]
) -> dict[str, int]:
    """Micro-batch id that consumed each file.

    A micro-batch reads the source log offsets in
    ``(startOffset.logOffset, endOffset.logOffset]``. No-data batches
    have equal start and end offsets and consume nothing, so micro-batch
    ids and log offsets drift apart; mapping through the offsets, never
    through ids, stays right.
    """
    by_offset: dict[int, int] = {}
    for p in progress:
        src = p["sources"][0]
        lo, hi = log_offset(src.get("startOffset")), log_offset(src.get("endOffset"))
        for off in range(lo + 1, hi + 1):
            by_offset[off] = p["batchId"]
    return {
        path: by_offset[off] for path, off in file_offsets.items() if off in by_offset
    }
