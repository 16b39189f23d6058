"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Runs one seeded workload against the package in the checkout this file sits
in, with Spark at local[2], and prints as its last stdout line one JSON
object {"correct", "attempted", "failed", "metrics"}: the end-to-end
metrics with --trace 0, the per-layer metrics with --trace 1.  See
perfbench/NOTES.md for the workloads, metrics and measurement rules.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import sys  # noqa: E402
from dataclasses import dataclass  # noqa: E402

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(BENCH_DIR)
WORKLOADS = ("poi_requests", "batch_jobs")
SIZE_NAMES = ("bench", "tiny", "sf0.1")
SETUP_CYCLES = 3
CPUS = 2
DRIVER_MEM = "3g"


@dataclass
class Context:
    cache: object
    size: object
    seed: int
    prepared: str
    rows: object


def _workload(name: str, ctx: Context):
    from perfbench.batch_jobs import BatchJobs
    from perfbench.poi_requests import PoiRequests

    return {c.name: c for c in (PoiRequests, BatchJobs)}[name](ctx)


def _configure_env(tmp: str) -> None:
    """Spark at local[2] with a bounded heap; every scratch file inside
    the checkout; workers import the package from the checkout."""
    os.environ["SPARK_GRAFT_CPUS"] = str(CPUS)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ.pop("SPARK_GRAFT_MASTER", None)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [REPO] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["SPARK_SUBMIT_OPTS"] = f"-Djava.io.tmpdir={tmp}"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--conf spark.ui.showConsoleProgress=false --conf spark.local.dir={tmp} pyspark-shell")


class Session:
    """The one SparkSession of the run; `restart` replaces it in the same
    JVM, `close` stops Spark and waits for the JVM to exit."""

    def __init__(self):
        from openpoiservice_spark import session

        self._session = session
        self.spark = self._start()

    def _start(self):
        spark = self._session.get_spark(app="perfbench")
        spark.sparkContext.setLogLevel("ERROR")
        return spark

    def restart(self):
        self.spark.stop()
        self.spark = self._start()
        return self.spark

    def close(self) -> None:
        from pyspark import SparkContext

        from perfbench import procstat

        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        self.spark.stop()
        if gateway is not None:
            gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except Exception:  # noqa: BLE001 — a stuck JVM is killed, then reaped
                proc.kill()
                proc.wait(timeout=30)
        deadline = time.time() + 30
        while len(procstat.tree_pids()) > 1 and time.time() < deadline:
            time.sleep(0.2)


def run(args) -> tuple[dict, list[str], dict]:
    from perfbench import core, inputs, procstat, report
    from perfbench.trace import Tracer

    size = inputs.SIZES[args.size]
    cache = inputs.Cache(BENCH_DIR, args.size, inputs.code_hash(REPO))
    _configure_env(cache.scratch("spark"))
    log: list[str] = []
    t0 = time.perf_counter()
    sess = Session()
    get_spark_s = time.perf_counter() - t0
    tracer = None
    try:
        prepared, rows, build_s = inputs.ensure_world(cache, sess.spark)
        cache.evict()
        ctx = Context(cache, size, args.seed, prepared, rows)
        wl = _workload(args.workload, ctx)
        wl.prepare_inputs(sess.spark)
        log.append(f"workload={args.workload} seed={args.seed} size={args.size} "
                   f"world_rows={len(rows)} world_build_s={build_s:.1f} "
                   f"start_to_inputs_s={time.perf_counter() - T_PROCESS:.1f}")

        tracer = Tracer(lambda: sess.spark).install() if args.trace else None
        with procstat.RssSampler() as rss:
            # three cold opens, each on a fresh SparkContext (file staging
            # and the context start untimed), then one warm-up on the last
            setup = []
            for _ in range(SETUP_CYCLES):
                spark = sess.restart()
                wl.stage()
                t0 = time.perf_counter()
                wl.open(spark)
                setup.append(time.perf_counter() - t0)
            t0 = time.perf_counter()
            wl.warm_up()
            warm_up_s = time.perf_counter() - t0
            host0, t_window = procstat.host_sample(), time.perf_counter()
            records = core.run_window(wl, tracer)
            host = procstat.host_window(host0, procstat.host_sample())
            t_window = time.perf_counter() - t_window
    finally:
        if tracer is not None:
            tracer.uninstall()
        t_close = time.perf_counter()
        sess.close()
        t_close = time.perf_counter() - t_close

    log.append("setup_s opens: " + " ".join(f"{s:.2f}" for s in setup)
               + f"  warm_up_s={warm_up_s:.1f} window_s={t_window:.1f} close_s={t_close:.1f}")
    if getattr(wl, "warm_s", None):
        log.append("warm-up by part: " + " ".join(f"{k}={v:.1f}s" for k, v in wl.warm_s.items()))
    log.append("host: " + " ".join(f"{k}={v:.3f}" for k, v in host.items()))
    log += core.kind_table(records)
    for r in records:
        if not r.ok:
            log.append(f"FAILED {r.kind} (op {r.idx}): {r.error}")
    out = {"correct": all(r.ok for r in records), "attempted": len(records),
           "failed": sum(not r.ok for r in records)}
    detail = {"host": host, "setup_s": setup, "records": [vars(r) for r in records]}
    if tracer is None:
        metrics = core.end_to_end(records, setup)
    else:
        extra = {"session.get_spark_s": get_spark_s, "peak_rss_mb": rss.peak_mb,
                 "setup.warm_up_s": warm_up_s,
                 "prepare.files_per_pcell": inputs.files_per_pcell(prepared),
                 "prepare.storage_bytes_per_user_byte":
                     inputs.dir_bytes(prepared) / float(rows.user_bytes.sum())}
        extra.update(wl.layer_counts())
        vals = report.per_layer(records, tracer.spans, tracer.self_s, extra)
        metrics = {k: (vals[k], unit) for k, unit in report.PER_LAYER.items()}
        log += report.layer_table(records, tracer.spans)
        log.append(report.overhead_line(records, _saved(args, trace=0)))
        log.append(report.repeat_line(records, tracer.spans, _saved(args, trace=1)))
        detail["spans"] = tracer.spans
    out["metrics"] = {k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()}
    return out, log, detail


def _runs_dir() -> str:
    return os.path.join(BENCH_DIR, ".cache", "runs")


def _run_file(args, trace: int | None = None) -> str:
    trace = args.trace if trace is None else trace
    return os.path.join(_runs_dir(), f"{args.workload}-{args.size}-s{args.seed}-t{trace}.json")


def _saved(args, trace: int) -> dict | None:
    """The saved detail of the last run of this workload and seed with the
    given trace mode, if the checkout has one."""
    try:
        with open(_run_file(args, trace)) as f:
            return json.load(f)
    except (OSError, ValueError):
        return None


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True,
                    help="accepted and not used: a run measures one pass of its op list")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", default="bench", choices=SIZE_NAMES,
                    help="input size: tiny for the smoke test, sf0.1 for the "
                         "full-scale comparison in NOTES.md")
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(REPO, "openpoiservice_spark", "__init__.py")):
        print("perfbench: openpoiservice_spark/ not found next to perfbench/; "
              "run from the root of a checkout of the repository", file=sys.stderr)
        return 2
    out, log, detail = run(args)
    os.makedirs(_runs_dir(), exist_ok=True)
    with open(_run_file(args), "w") as f:
        json.dump({"result": out, **detail}, f, default=str)
    print("\n".join(log))
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    # import the benchmark as the `perfbench` package, not its files as
    # top-level modules (perfbench/trace.py would shadow the stdlib's)
    sys.path[0] = REPO
    sys.exit(main())
