"""Per-layer metrics of a traced run, and the per-layer table it prints."""

from __future__ import annotations

import math
import statistics

from .core import Record
from .trace import COUNTERS

#: layers that own ops; `<layer>.op_share` is their share of traced op time
OP_LAYERS = ("api", "tiles", "batchjoin", "knn", "operators.text", "operators.ann",
             "operators.images", "prepare", "streaming")
#: counters that are counts of work, not times: the ones whose exact
#: repetition across traced runs is checked
COUNT_KEYS = ("jobs", "stages", "tasks", "scan_bytes", "shuffle_bytes", "files_read",
              "arrow_bytes_to_py", "arrow_bytes_from_py")

#: the per-layer metrics every traced run prints: name -> unit
PER_LAYER = {
    "session.get_spark_s": "s",
    "setup.warm_up_s": "s",
    "peak_rss_mb": "MB",
    "trace.wrapper_share": "ratio",
    "spark.jobs_per_op": "count",
    "spark.tasks_per_op": "count",
    "spark.exec_cpu_ms_per_op": "ms",
    "spark.py_init_ms_per_op": "ms",
    "spark.py_run_ms_per_op": "ms",
    "spark.arrow_bytes_to_py_per_op": "B",
    "spark.arrow_bytes_from_py_per_op": "B",
    "spark.scan_bytes_per_op": "B",
    "spark.files_read_per_op": "count",
    "spark.shuffle_bytes_per_op": "B",
    "cpu.driver_s_per_op": "s",
    "cpu.jvm_s_per_op": "s",
    "cpu.workers_s_per_op": "s",
    "api.jobs_per_request": "count",
    "cells.cover_cells_per_call": "count",
    "batchjoin.knn_jobs": "count",
    "knn.jobs": "count",
    "operators.ann.jobs": "count",
    "operators.text.verified_per_candidate": "ratio",
    "prepare.merge_jobs": "count",
    "prepare.files_per_pcell": "ratio",
    "prepare.storage_bytes_per_user_byte": "ratio",
    **{f"{layer}.op_share": "ratio" for layer in OP_LAYERS},
}


def _mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def _p50(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def _counter_mean(records: list[Record], key: str) -> float:
    return _mean(r.span["counters"][key] for r in records)


def _children(spans: list[dict], parent: int) -> list[dict]:
    return [s for s in spans if s["parent"] == parent]


def _api_split(spans: list[dict]) -> dict[str, float]:
    """compile / plan / exec / assemble ms per traced api request."""
    out = {"compile": [], "plan": [], "exec": [], "assemble": []}
    for sp in spans:
        if sp["name"] != "api.PoiEngine.request" or sp["op"] is None:
            continue
        below, todo = [], [sp["id"]]
        while todo:
            kids = _children(spans, todo.pop())
            below += kids
            todo += [k["id"] for k in kids]
        dur = lambda names: sum(s["t1"] - s["t0"] for s in below if s["name"] in names)  # noqa: E731
        compile_s = dur({"api.compile_geometry"})
        plan_s = dur({"api.PoiEngine.pois_df", "api.PoiEngine.stats_df"})
        exec_s = dur({"spark.DataFrame.collect", "spark.DataFrame.count",
                      "spark.DataFrame.toPandas"})
        total = sp["t1"] - sp["t0"]
        for k, v in (("compile", compile_s), ("plan", plan_s), ("exec", exec_s),
                     ("assemble", total - compile_s - plan_s - exec_s)):
            out[k].append(v * 1e3)
    return {f"api.{k}_ms": _mean(v) for k, v in out.items() if v}


def _count_key(counters: dict, spans: list[dict], op: str) -> dict:
    out = {k: counters[k] for k in COUNT_KEYS}
    out["cover_cells"] = [s["cover_cells"] for s in spans
                          if s["op"] == op and "cover_cells" in s]
    return out


def repeat_line(traced: list[Record], spans: list[dict], previous: dict | None) -> str:
    """Which count-type counters of each traced op read exactly as in the
    previous traced run of the same workload and seed (`previous` is that
    run's saved detail: records and spans)."""
    if not previous:
        return "exact repeats: no earlier traced run of this workload and seed"
    prev = {(r["idx"], r["kind"]): r for r in previous["records"] if r.get("span")}
    same = {k: True for k in COUNT_KEYS + ("cover_cells",)}
    matched = 0
    for r in traced:
        p = prev.get((r.idx, r.kind))
        if p is None:
            continue
        matched += 1
        now = _count_key(r.span["counters"], spans, r.span["op"])
        before = _count_key(p["span"]["counters"], previous["spans"], p["span"]["op"])
        for k in same:
            same[k] &= now[k] == before[k]
    return (f"exact repeats vs the earlier traced run ({matched} ops): "
            + " ".join(f"{k}={'yes' if v else 'no'}" for k, v in same.items()))


def per_layer(traced: list[Record], spans: list[dict], tracer_self_s: float,
              extra: dict[str, float]) -> dict[str, float]:
    sp_t = [r for r in traced if r.spark]
    m = dict.fromkeys(PER_LAYER, 0.0)
    m.update(extra)
    m["trace.wrapper_share"] = tracer_self_s * 1e3 / sum(r.ms for r in traced)
    for key in COUNTERS:
        name = f"spark.{key}_per_op"
        if name in m:
            m[name] = _counter_mean(sp_t, key)
    for kind in ("driver", "jvm", "workers"):
        m[f"cpu.{kind}_s_per_op"] = _mean(r.cpu_split[kind] for r in sp_t)
    api_ops = [r for r in sp_t if r.layer == "api"]
    m["api.jobs_per_request"] = _counter_mean(api_ops, "jobs") if api_ops else 0.0
    covers = [s["cover_cells"] for s in spans
              if s["name"] == "cells.cover_geometry" and s["op"] is not None]
    m["cells.cover_cells_per_call"] = _mean(covers)
    for metric, kind in (("operators.ann.jobs", "ann.batch_topk"),
                         ("prepare.merge_jobs", "prepare.merge")):
        ops = [r for r in sp_t if r.kind == kind]
        m[metric] = _counter_mean(ops, "jobs") if ops else 0.0
    total = sum(r.ms for r in traced) or 1.0
    for layer in OP_LAYERS:
        m[f"{layer}.op_share"] = sum(r.ms for r in traced if r.layer == layer) / total
    return m


def _geomean_ratio(a: dict, b: dict) -> float:
    """Geometric mean of a[k] / b[k] over the keys both have."""
    keys = [k for k in a if k in b and a[k] > 0 and b[k] > 0]
    if not keys:
        return float("nan")
    return math.exp(statistics.fmean(math.log(a[k] / b[k]) for k in keys))


def overhead_line(traced: list[Record], untraced_run: dict | None) -> str:
    """Traced op time over untraced op time, op by op (geometric mean over
    the Spark ops), against the untraced run of the same workload and seed
    in this checkout: its pass is the traced pass's very op list, after the
    same set-up."""
    if not untraced_run:
        return "tracing overhead: no untraced run of this workload and seed saved"
    t = {(r.idx, r.kind): r.ms for r in traced if r.spark and r.ok}
    u = {(r["idx"], r["kind"]): r["ms"] for r in untraced_run["records"]
         if r["spark"] and r["ok"]}
    return (f"tracing overhead vs the untraced run of this seed: "
            f"{_geomean_ratio(t, u) - 1:+.3f} (op time, geometric mean)")


def layer_table(traced: list[Record], spans: list[dict]) -> list[str]:
    """Per-layer lines: the op times by kind, the api split, and the Spark
    counters per op attributed to the layer that owns the op."""
    lines = ["per-layer (traced window; ms and bytes per op):"]
    kinds: dict[str, list[Record]] = {}
    for r in traced:
        kinds.setdefault(r.kind, []).append(r)
    for kind, rs in kinds.items():
        lines.append(f"  {kind:32s} p50_ms={_p50(r.ms for r in rs):9.1f}")
    for k, v in _api_split(spans).items():
        lines.append(f"  {k:32s} {v:9.2f}")
    cover = [(s["t1"] - s["t0"]) * 1e3 for s in spans
             if s["name"] == "cells.cover_geometry" and s["op"] is not None]
    if cover:
        lines.append(f"  {'cells.cover_ms':32s} {_mean(cover):9.2f}")
    inits = [(s["t1"] - s["t0"]) for s in spans if s["name"] == "api.PoiEngine.__init__"]
    if inits:
        lines.append(f"  {'api.engine_init_s':32s} {_mean(inits):9.3f}")
    layers: dict[str, list[Record]] = {}
    for r in traced:
        if r.spark:
            layers.setdefault(r.layer, []).append(r)
    for layer, rs in layers.items():
        vals = " ".join(f"{k}={_counter_mean(rs, k):.0f}" for k in COUNTERS)
        lines.append(f"  {layer}: {vals}")
    return lines
