"""Traced mode: spans around layer calls plus Spark's own counters.

`Tracer.install()` replaces a fixed list of public functions of the package's
layer modules (and the DataFrame actions) with wrappers that record a span:
name, layer, start, end, parent span and op id.  Spans stay in memory and
are written out once, when the run ends.  Each op runs under its own Spark
job-group label; after the op, the jobs of that label are looked up in
Spark's status stores (`AppStatusStore` for jobs and stages,
`SQLAppStatusStore` for the SQL plan metrics of the Python boundary) and the
counts are attached to the op's span.  Nothing in the package is edited:
uninstalling restores every original attribute.
"""

from __future__ import annotations

import functools
import importlib
import re
import time

#: layer -> (module, public callables wrapped in traced mode)
LAYER_CALLS = {
    "session": ("openpoiservice_spark.session", ["get_spark"]),
    "api": ("openpoiservice_spark.api",
            ["compile_geometry", "PoiEngine.__init__", "PoiEngine.request",
             "PoiEngine.pois_df", "PoiEngine.stats_df", "PoiEngine._prefilter"]),
    "cells": ("openpoiservice_spark.cells", ["cover_geometry"]),
    "tiles": ("openpoiservice_spark.tiles",
              ["filter_payload", "tile_pixel_stats", "tile_histogram", "tile_heatmaps"]),
    "batchjoin": ("openpoiservice_spark.batchjoin",
                  ["geoms_to_df", "batch_join_counts", "batch_knn"]),
    "knn": ("openpoiservice_spark.knn", ["knn"]),
    "operators.text": ("openpoiservice_spark.operators.text",
                       ["lsh_candidate_pairs", "ngram_jaccard_pairs"]),
    "operators.ann": ("openpoiservice_spark.operators.ann", ["batch_topk"]),
    "operators.images": ("openpoiservice_spark.operators.images",
                         ["dct_phash", "hamming_pairs"]),
    "prepare": ("openpoiservice_spark.prepare",
                ["prepare", "merge", "compact", "read_prepared", "load_pcell_stats"]),
    "streaming": ("openpoiservice_spark.streaming", ["stream_prepare"]),
    "spark": ("pyspark.sql.classic.dataframe",
              ["DataFrame.collect", "DataFrame.count", "DataFrame.toPandas"]),
}

_TIME_MS = {"ns": 1e-6, "us": 1e-3, "ms": 1.0, "s": 1e3, "m": 6e4, "h": 3.6e6}
_BYTES = {"B": 1, "KiB": 1024, "MiB": 1024 ** 2, "GiB": 1024 ** 3, "TiB": 1024 ** 4}
_NUM = re.compile(r"^\s*([\d.,]+)\s*([A-Za-z]*)")

#: SQL plan metric name -> counter; times become ms, sizes bytes
SQL_COUNTERS = {
    "time to start Python workers": "py_init_ms",
    "time to initialize Python workers": "py_init_ms",
    "time to run Python workers": "py_run_ms",
    "data sent to Python workers": "arrow_bytes_to_py",
    "data returned from Python workers": "arrow_bytes_from_py",
    "number of files read": "files_read",
}
COUNTERS = ("jobs", "stages", "tasks", "exec_cpu_ms", "exec_run_ms", "scan_bytes",
            "shuffle_bytes", "py_init_ms", "py_run_ms", "arrow_bytes_to_py",
            "arrow_bytes_from_py", "files_read")


def parse_metric(value: str) -> float:
    """A SQL metric as the status store formats it ("1,265", "20.5 KiB",
    "1.5 s (292 ms, ...)", optionally after a "total (min, med, max)"
    header line) -> ms for times, bytes for sizes, else the number."""
    m = _NUM.match(value.strip().splitlines()[-1])
    if not m:
        return 0.0
    x = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    return x * _TIME_MS.get(unit, _BYTES.get(unit, 1))


class Tracer:
    def __init__(self, spark_holder):
        """`spark_holder()` returns the live SparkSession (the run replaces
        it once, before set-up)."""
        self._spark = spark_holder
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._op: str | None = None
        self._saved: list[tuple[object, str, object]] = []
        #: seconds the wrappers spent on their own bookkeeping inside ops
        self.self_s = 0.0

    # ------------------------------------------------------------ spans

    def _open(self, name: str, layer: str) -> dict:
        sp = {"id": len(self.spans), "name": name, "layer": layer,
              "parent": self._stack[-1] if self._stack else None,
              "op": self._op, "t0": time.perf_counter(), "t1": None}
        self.spans.append(sp)
        self._stack.append(sp["id"])
        return sp

    def _close(self, sp: dict) -> None:
        sp["t1"] = time.perf_counter()
        self._stack.pop()

    def _wrap(self, fn, name: str, layer: str):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            t_in = time.perf_counter()
            sp = tracer._open(name, layer)
            t_call = time.perf_counter()
            try:
                out = fn(*args, **kwargs)
            finally:
                t_ret = time.perf_counter()
                tracer._close(sp)
            if name == "cells.cover_geometry":
                sp["cover_cells"] = int(len(out))
            if sp["op"] is not None:
                tracer.self_s += (t_call - t_in) + (time.perf_counter() - t_ret)
            return out

        return traced

    def install(self) -> "Tracer":
        for layer, (mod_name, calls) in LAYER_CALLS.items():
            mod = importlib.import_module(mod_name)
            for call in calls:
                owner = mod
                *path, attr = call.split(".")
                for p in path:
                    owner = getattr(owner, p)
                orig = owner.__dict__[attr]
                self._saved.append((owner, attr, orig))
                short = mod_name.split(".")[-1] if layer != "spark" else "spark"
                setattr(owner, attr, self._wrap(orig, f"{short}.{call}", layer))
        return self

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._saved):
            setattr(owner, attr, orig)
        self._saved.clear()

    # -------------------------------------------------------------- ops

    def begin_op(self, op_id: str, name: str, layer: str) -> dict:
        self._op = op_id
        spark = self._spark()
        spark.sparkContext.setJobGroup(op_id, name, False)
        ex0 = spark._jsparkSession.sharedState().statusStore().executionsCount()
        sp = self._open(name, layer)
        sp["ex0"] = int(ex0)
        return sp

    def end_op(self, sp: dict) -> None:
        self._close(sp)
        self._op = None
        spark = self._spark()
        spark.sparkContext.setJobGroup("perfbench-idle", "idle", False)
        sp["counters"] = spark_counters(spark, sp["op"], sp.pop("ex0"))


def spark_counters(spark, group: str, ex0: int) -> dict:
    """Jobs, stages and SQL metrics of one job group, from Spark's status
    stores; SQL executions are searched from index `ex0` on (ops run one
    at a time).  Waits for the listener bus so the op's end events are in."""
    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty(10_000)
    conv = sc._jvm.scala.jdk.javaapi.CollectionConverters
    store = jsc.statusStore()
    out = dict.fromkeys(COUNTERS, 0.0)
    job_ids = set(sc.statusTracker().getJobIdsForGroup(group))
    out["jobs"] = len(job_ids)
    for jid in sorted(job_ids):
        for sid in conv.asJava(store.job(jid).stageIds()):
            try:
                st = store.lastStageAttempt(sid)
            except Exception:  # noqa: BLE001 — a skipped stage has no attempt
                continue
            if st.numCompleteTasks() == 0:
                continue
            out["stages"] += 1
            out["tasks"] += st.numCompleteTasks()
            out["exec_cpu_ms"] += st.executorCpuTime() / 1e6
            out["exec_run_ms"] += st.executorRunTime()
            out["scan_bytes"] += st.inputBytes()
            out["shuffle_bytes"] += st.shuffleWriteBytes()
    sql = spark._jsparkSession.sharedState().statusStore()
    n_ex = sql.executionsCount()
    new = conv.asJava(sql.executionsList(ex0, n_ex - ex0)) if n_ex > ex0 else []
    for ex in new:
        ex_jobs = {int(j) for j in conv.asJava(ex.jobs()).keySet()}
        if not ex_jobs & job_ids:
            continue
        names = {m.accumulatorId(): m.name() for m in conv.asJava(ex.metrics())}
        for acc, value in conv.asJava(sql.executionMetrics(ex.executionId())).items():
            key = SQL_COUNTERS.get(names.get(acc))
            if key:
                out[key] += parse_metric(value)
    return out
