"""Shared pieces of the workloads: ops, the closed-loop runner and the
end-to-end metrics computed from its records."""

from __future__ import annotations

import math
import statistics
import time
import traceback
from dataclasses import dataclass, field
from typing import Any, Callable

from . import procstat


class CheckFailed(Exception):
    """An op's output disagreed with its oracle."""


def expect(cond: bool, what: str) -> None:
    if not cond:
        raise CheckFailed(what)


@dataclass
class Op:
    kind: str                      # e.g. "pois.bbox", "tiles.tile_histogram"
    layer: str                     # module of the layer the op calls
    run: Callable[[], Any]         # the timed call; returns what check reads
    check: Callable[[Any], None]   # raises CheckFailed on a wrong answer
    rows: Callable[[Any], int] | int = 0   # rows of work, for rows_per_s
    spark: bool = True             # False: answered on the driver alone
    before: Callable[[], None] | None = None   # untimed preparation


@dataclass
class Record:
    idx: int
    kind: str
    layer: str
    ms: float
    cpu_s: float
    rows: int
    ok: bool
    spark: bool
    error: str | None = None
    span: dict | None = field(default=None, repr=False)
    cpu_split: dict | None = None


class Workload:
    """One seeded workload.  `prepare_inputs` runs once, outside every
    metric.  `stage` (untimed file staging) and then `open` (engine, tables,
    plan inputs; timed) run once per set-up cycle, each cycle on a fresh
    SparkContext; `warm_up` runs once, after the last open, so the window
    does not pay Python worker start and first-query compilation.
    `pass_ops()` returns the ops of the measured pass."""

    name = ""

    def __init__(self, ctx):
        self.ctx = ctx

    def prepare_inputs(self, spark) -> None:
        pass

    def stage(self) -> None:
        pass

    def open(self, spark) -> None:
        raise NotImplementedError

    def warm_up(self) -> None:
        raise NotImplementedError

    def pass_ops(self) -> list[Op]:
        raise NotImplementedError

    def layer_counts(self) -> dict[str, float]:
        """Counts about the data the workload read or wrote (traced mode)."""
        return {}


def run_window(wl: Workload, tracer=None) -> list[Record]:
    """Closed loop, one client: one pass of the workload's op list, traced
    when a tracer is given.  The work is fixed, not the time, so a faster
    program measures the same ops as a slower one."""
    records: list[Record] = []
    for i, op in enumerate(wl.pass_ops()):
        if op.before is not None:
            op.before()
        span = None
        if tracer is not None:
            span = tracer.begin_op(f"{wl.name}:{i}", op.kind, op.layer)
        split0 = procstat.tree_cpu_split()
        cpu0 = procstat.tree_cpu_s()
        t0 = time.perf_counter()
        out, err = None, None
        try:
            out = op.run()
        except Exception:  # noqa: BLE001 — a failing op is counted, not fatal
            err = traceback.format_exc(limit=3)
        ms = (time.perf_counter() - t0) * 1e3
        cpu = procstat.tree_cpu_s() - cpu0
        split = {k: v - split0[k] for k, v in procstat.tree_cpu_split().items()}
        if tracer is not None:
            tracer.end_op(span)
        rows = 0
        if err is None:
            try:
                op.check(out)
                rows = op.rows(out) if callable(op.rows) else op.rows
            except Exception:  # noqa: BLE001 — wrong answers and check crashes both fail
                err = traceback.format_exc(limit=3)
        records.append(Record(i, op.kind, op.layer, ms, cpu, int(rows),
                              err is None, op.spark, err, span, split))
    return records


def end_to_end(records: list[Record], setup_s: list[float]) -> dict:
    """The end-to-end metrics of one untraced window."""
    sp = [r for r in records if r.spark and r.ok]
    ms = [r.ms for r in sp]
    cpu = sum(r.cpu_s for r in sp)
    rows = sum(r.rows for r in records if r.ok)
    wall = sum(r.ms for r in records if r.ok) / 1e3
    cpu_all = sum(r.cpu_s for r in records if r.ok)
    return {
        "setup_s": (statistics.median(setup_s), "s"),
        "ok_share": (sum(r.ok for r in records) / len(records), "ratio"),
        "op_geomean_ms": (math.exp(statistics.fmean(math.log(x) for x in ms)) if ms else 0.0, "ms"),
        "ops_per_cpu_s": (len(sp) / cpu if cpu > 0 else 0.0, "1/s"),
        "rows_per_s": (rows / wall if wall > 0 else 0.0, "rows/s"),
        "rows_per_cpu_s": (rows / cpu_all if cpu_all > 0 else 0.0, "rows/s"),
    }


def kind_table(records: list[Record]) -> list[str]:
    """Per-kind summary lines: count, failures, median ms, rows."""
    kinds: dict[str, list[Record]] = {}
    for r in records:
        kinds.setdefault(r.kind, []).append(r)
    lines = [f"{'op':34s} {'n':>4s} {'fail':>4s} {'p50_ms':>9s} {'rows':>9s}"]
    for k, rs in kinds.items():
        lines.append(f"{k:34s} {len(rs):4d} {sum(not r.ok for r in rs):4d} "
                     f"{statistics.median(r.ms for r in rs):9.1f} "
                     f"{statistics.median(r.rows for r in rs):9.0f}")
    return lines
