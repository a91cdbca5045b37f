"""Shared pieces of the workloads: the run context, the result record and
the order statistics every timing is reported with."""

from __future__ import annotations

import math
import os
from dataclasses import dataclass, field

# Units of the per-call Spark counters the probe reads (spill is read
# but not published: it stays 0 at the benchmark's sizes).
SPARK_UNITS = {
    "jobs": "count",
    "stages": "count",
    "tasks": "count",
    "executor_run_s": "s",
    "executor_cpu_s": "s",
    "input_bytes": "B",
    "shuffle_read_bytes": "B",
    "shuffle_write_bytes": "B",
    "slot_busy_frac": "ratio",
}


def pct(values: list[float], p: float) -> float:
    """Nearest-rank percentile (p in 0..100) of a non-empty sample."""
    xs = sorted(values)
    return xs[max(0, math.ceil(p / 100 * len(xs)) - 1)]


def tail_pct(n: int) -> int:
    """Highest whole percentile with at least ten of ``n`` samples above
    it (0 when there are too few samples for any)."""
    return max(0, math.floor(100 * (n - 10) / n)) if n > 10 else 0


def dir_bytes_files(root: str) -> tuple[int, int]:
    """Bytes and count of a directory tree's data files (Spark's hidden
    ``_SUCCESS``/``.crc`` side files are not data)."""
    total = files = 0
    for d, _, names in os.walk(root):
        for n in names:
            if not n.startswith((".", "_")):
                total += os.path.getsize(os.path.join(d, n))
                files += 1
    return total, files


@dataclass
class Ctx:
    """What a workload gets from ``run.py``: the live session, its probe,
    the seed, a scratch directory and a cache directory inside the
    checkout, the test-data root and the slot count."""

    spark: object
    probe: object
    seed: int
    work: str  # removed when the run ends
    cache: str  # kept across runs
    data_root: str
    slots: int


@dataclass
class Result:
    """What a workload hands back. ``unit`` is the span of the measured
    unit of work (the pass, the steady day) that ``run.py`` reports the
    shared metrics over; ``detail`` maps this workload's own metric names
    to ``(value, unit)``; ``samples`` states the sample count behind each
    timing; ``problems`` names every failed or wrong operation."""

    attempted: int = 0
    failed: int = 0
    unit: object = None
    detail: dict = field(default_factory=dict)
    samples: dict = field(default_factory=dict)
    problems: list = field(default_factory=list)

    def fail(self, what: str) -> None:
        self.failed += 1
        self.problems.append(what)
