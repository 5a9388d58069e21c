"""Pure arithmetic of the benchmark: percentiles, latency joins,
backlog, span self time and Spark SQL metric parsing.

Nothing here touches Spark, so every rule the reported numbers rest on
is unit-tested in ``test_stats.py``.
"""

from __future__ import annotations

import re
import statistics

import numpy as np

# A percentile is reported only when at least this many samples lie
# beyond it; with fewer it is a statement about one or two samples.
MIN_BEYOND = 10


def percentile(samples, p: float) -> float:
    """The ``p``-th percentile (0..100), numpy's default (linear) rule."""
    if len(samples) == 0:
        raise ValueError("percentile of no samples")
    return float(np.percentile(samples, p))


def samples_beyond(n: int, p: float) -> int:
    """How many of ``n`` samples lie strictly above the ``p``-th
    percentile rank."""
    return n - 1 - int((n - 1) * p / 100.0)


def supported(n: int, p: float) -> bool:
    """True when ``n`` samples support reporting the ``p``-th
    percentile: at least ``MIN_BEYOND`` samples lie beyond it."""
    return samples_beyond(n, p) >= MIN_BEYOND


def tail(samples, p: float) -> float | None:
    """The ``p``-th percentile, or None when the sample is too small to
    support it."""
    n = len(samples)
    return percentile(samples, p) if n and supported(n, p) else None


def median(samples) -> float:
    return statistics.median(samples)


def geomean_of_medians(groups) -> float:
    """Geometric mean over groups of each group's median; groups with no
    samples are skipped.

    Used where one run times several kinds of operation whose costs
    differ severalfold: a median pooled over all samples sits in the gap
    between two kinds and jumps between them from run to run, while this
    weighs every kind equally and moves only when the kinds do."""
    meds = [median(xs) for xs in groups if len(xs)]
    if not meds:
        raise ValueError("geometric mean of no samples")
    return statistics.geometric_mean(meds)


def join_commit_latency(rows, commit_s: dict[int, float]) -> list[float]:
    """Event latency in ms for each result row.

    ``rows`` yields ``(batch_id, newest_created_ms)``: the micro-batch
    whose lake version holds the row and the scheduled creation time of
    the newest event behind it. ``commit_s`` maps batch_id to the wall
    time (epoch seconds) at which that version was committed. A row
    whose batch has no recorded commit is an error, not a skipped
    sample."""
    out = []
    for batch_id, created_ms in rows:
        if batch_id not in commit_s:
            raise KeyError(f"row from batch {batch_id} has no recorded commit")
        out.append(commit_s[batch_id] * 1000.0 - created_ms)
    return out


def backlog(log_end: dict[int, int], committed: dict[int, int]) -> int:
    """Events produced but not yet committed by the stream: log end
    offset minus committed offset, summed over partitions. A partition
    the stream has not committed yet counts from offset 0."""
    lag = 0
    for pid, end in log_end.items():
        done = committed.get(pid, 0)
        if done > end:
            raise ValueError(f"partition {pid}: committed {done} > log end {end}")
        lag += end - done
    return lag


def self_times(spans) -> dict[str, float]:
    """Self time per span name, in seconds.

    ``spans`` are dicts with ``id``, ``parent``, ``name``, ``start`` and
    ``end``, from one strictly nested span stack, so children never
    overlap: a span's self time is its duration minus its children's."""
    child_s: dict[int, float] = {}
    for s in spans:
        if s["parent"] is not None:
            child_s[s["parent"]] = child_s.get(s["parent"], 0.0) + s["end"] - s["start"]
    out: dict[str, float] = {}
    for s in spans:
        own = s["end"] - s["start"] - child_s.get(s["id"], 0.0)
        out[s["name"]] = out.get(s["name"], 0.0) + own
    return out


_UNITS = {
    "": 1.0, "B": 1.0, "KiB": 1024.0, "MiB": 1024.0**2, "GiB": 1024.0**3,
    "TiB": 1024.0**4, "ms": 1.0, "s": 1000.0, "m": 60_000.0, "h": 3_600_000.0,
    "ns": 1e-6,
}
_VALUE = re.compile(r"^\s*(-?[\d,]*\.?\d+)\s*([A-Za-z]*)")


def parse_sql_metric(text: str) -> float:
    """Total of one rendered Spark SQL metric, in base units (bytes for
    sizes, ms for timings, the count otherwise).

    The SQL status store keeps metrics as display strings: a plain
    ``"1,234"`` for sums, and for sizes and timings either ``"12.0 KiB"``
    or ``"total (min, med, max (stageId: taskId))\\n12.0 KiB (...)"``."""
    lines = text.strip().splitlines()
    line = lines[1] if len(lines) > 1 and lines[0].startswith("total") else lines[0]
    m = _VALUE.match(line)
    if m is None or m.group(2) not in _UNITS:
        raise ValueError(f"unparsable SQL metric value: {text!r}")
    return float(m.group(1).replace(",", "")) * _UNITS[m.group(2)]
