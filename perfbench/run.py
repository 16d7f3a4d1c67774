"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. One driver process at local[<usable
CPUs>], one client in a closed loop. Prints progress on stderr and, as
the last line of stdout, one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0``
the metrics are the end-to-end metrics of BENCHMARK.json, with
``--trace 1`` its per-layer metrics. Exits non-zero without a result
when the engine is not next to the benchmark.
"""

from __future__ import annotations

import argparse
import contextlib
import hashlib
import json
import os
import shutil
import statistics
import sys
import time
import traceback
import uuid

import host
from tracing import Tracer
from workloads import SIZES, WORKLOADS

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUP_REPS = 3
ITERATION_KINDS = ("plain", "spans", "layers")
# layers whose self time the traced run reports (tracing.layer_of names)
SELF_LAYERS = ["fixtures", "images.ops", "index", "operators.spatial_join",
               "operators.knn", "raster.zonal", "lineage"]


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


class Run:
    """State of one benchmark run: session, sizes, timings and checks."""

    def __init__(self, spark, tracer, work, seed, seconds, size, cores):
        self.spark, self.tracer, self.work = spark, tracer, work
        self.seed, self.seconds, self.size, self.cores = seed, seconds, size, cores
        self.ops: dict[str, list[float]] = {}
        self.outputs: dict[int, str] = {}
        self.attempted = 0
        self.failed = 0

    @contextlib.contextmanager
    def timed(self, name: str):
        """Add the body's duration to ``ops[name]`` (unless it raised).
        With the tracer on, the body runs in span ``op.<name>`` instead,
        and ``ops`` keeps only iterations run without tracing."""
        if self.tracer.enabled:
            with self.tracer.span(f"op.{name}"):
                yield
            return
        t = time.perf_counter()
        yield
        self.ops.setdefault(name, []).append(time.perf_counter() - t)

    def record(self, i: int, output) -> None:
        """Checksum of iteration ``i``'s checked outputs (same seed, same
        checksum)."""
        self.outputs[i] = hashlib.sha256(repr(output).encode()).hexdigest()[:16]

    def expect(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            log(f"CHECK FAILED: {what}")


def _session(work: str, cores: int, driver_mb: int):
    for sub in ("spark-local", "tmp", "warehouse"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["SPARK_DRIVER_MEM"] = f"{driver_mb}m"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, HERE, os.environ.get("PYTHONPATH")) if p
    )
    from pythongis_spark.session import get_spark

    return get_spark(app="perfbench", cores=cores, extra_conf={
        "spark.ui.showConsoleProgress": "false",
        "spark.ui.retainedJobs": "1000000",
        "spark.ui.retainedStages": "1000000",
        "spark.sql.ui.retainedExecutions": "1000000",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # the engine's own option, plus a temporary directory inside the run
        "spark.driver.extraJavaOptions": (
            "-Djava.net.preferIPv4Stack=true "
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"
        ),
    })


def _heap_pools(spark) -> list:
    """The driver JVM's heap memory pools (eden, survivor, old)."""
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    return [p for p in mf.getMemoryPoolMXBeans() if p.getType().name() == "HEAP"]


def _heap_peak_mb(pools) -> float:
    """Sum of the pools' peak used bytes since their last reset, in MB.
    The JVM tracks each peak itself, so nothing is sampled."""
    return sum(p.getPeakUsage().getUsed() for p in pools) / (1 << 20)


def _stop_session(spark) -> None:
    """Stop Spark, then the JVM it launched, and wait for both."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the launched JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


def _closed_loop(run: Run, wl, trace: bool) -> dict[str, list[float]]:
    """One client: each iteration starts when the previous one ended.
    Stops once ``seconds`` of iterations have run. A traced run cycles
    through three kinds of iteration and runs at least one of each:
    ``plain`` (tracer off), ``spans`` (the same flow, each timed
    operation in a span with its own job group) and ``layers`` (each
    layer's output materialized in its own span)."""
    walls: dict[str, list[float]] = {k: [] for k in ITERATION_KINDS}
    spent, i = 0.0, 0
    while spent < run.seconds or i < (len(ITERATION_KINDS) if trace else 1):
        kind = ITERATION_KINDS[i % len(ITERATION_KINDS)] if trace else "plain"
        run.tracer.enabled, run.tracer.iteration = kind != "plain", i
        t = time.perf_counter()
        try:
            wl.step(i, kind == "layers")
        except Exception:
            traceback.print_exc(file=sys.stderr)
            run.attempted += 1
            run.failed += 1
        finally:
            run.tracer.enabled = False
        dt = time.perf_counter() - t
        walls[kind].append(dt)
        spent += dt
        i += 1
    return walls


def _layer_metrics(run: Run, tr, wl_metrics: dict, session: dict, walls) -> dict:
    med = tr.median
    m = dict(session)
    m.update(wl_metrics)
    m["error_rate"] = run.failed / max(1, run.attempted)
    for span, key in [
        ("fixtures.images_df", "fixtures.images_df.exec_s"),
        ("images.verify", "images.verify.exec_s"),
        ("index.tile", "index.tile.exec_s"),
        ("spatial_join.plan", "spatial_join.plan_s"),
        ("spatial_join.exec", "spatial_join.exec_s"),
        ("knn.plan", "knn.plan_s"),
        ("knn.exec", "knn.exec_s"),
        ("zonal.cover", "zonal.cover.exec_s"),
        ("zonal.rasterize", "zonal.rasterize.exec_s"),
        ("zonal.stats.plan", "zonal.stats.plan_s"),
        ("zonal.stats.exec", "zonal.stats.exec_s"),
        ("lineage.write", "lineage.write_s"),
        ("lineage.resume", "lineage.resume_s"),
    ]:
        m[key] = med(span)
    for span, attr, key in [
        ("fixtures.images_df", "rows", "fixtures.images_df.rows"),
        ("images.verify", "failed_rows", "images.verify.failed_rows"),
        ("spatial_join.plan", "actions", "spatial_join.plan_jobs"),
        ("probe.candidates", "candidates", "spatial_join.candidates"),
        ("probe.candidates", "matched", "spatial_join.matched"),
        ("knn.plan", "actions", "knn.plan_jobs"),
        ("probe.knn_rows", "rows_out", "knn.rows_out"),
        ("probe.cover_rows", "rows", "zonal.cover.rows"),
        ("zonal.stats.plan", "actions", "zonal.stats.plan_jobs"),
        ("lineage.write", "bytes_written", "lineage.bytes_written"),
        ("lineage.write", "files_written", "lineage.files_written"),
        ("lineage.resume", "actions", "lineage.resume_jobs"),
    ]:
        m[key] = med(span, attr)
    cand = m["spatial_join.candidates"]
    m["spatial_join.yield"] = m["spatial_join.matched"] / cand if cand else 0.0
    for attr in ("jobs", "tasks", "failed_tasks"):
        m[f"spark.{attr}"] = tr.iteration_total(attr)
    selfs = tr.self_seconds()
    for layer in SELF_LAYERS:
        m[f"self_s.{layer}"] = selfs.get(layer, 0.0)
    plain = statistics.median(walls["plain"])
    m["trace.span_overhead_ratio"] = statistics.median(walls["spans"]) / plain
    m["trace.layer_path_ratio"] = statistics.median(walls["layers"]) / plain
    m["trace.spans"] = len(tr.spans)
    return m


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full",
                    help="input sizes; 'tiny' is for the smoke tests")
    args = ap.parse_args(argv)

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        log(f"unknown workload {args.workload!r}")
        return 2
    if not (os.path.isdir(os.path.join(ROOT, "pythongis_spark"))
            and os.path.isfile(os.path.join(ROOT, "__spark_entry__.py"))):
        log(f"the engine (pythongis_spark/, __spark_entry__.py) is not in {ROOT}")
        return 2
    sys.path.insert(0, ROOT)

    cores = host.usable_cpus()
    host_mb = host.usable_memory_mb()
    driver_mb = host.driver_memory_mb(host_mb)
    run_id = uuid.uuid4().hex[:12]
    work = os.path.join(HERE, ".work", run_id)
    log(f"{args.workload} seed={args.seed} cores={cores} host_mb={host_mb} driver_mb={driver_mb}")

    rss = host.RssSampler().start()
    spark = None
    try:
        t0 = time.perf_counter()
        spark = _session(work, cores, driver_mb)
        start_s = time.perf_counter() - t0

        t0 = time.perf_counter()
        spark.range(1000).count()
        tracer = Tracer(spark, run_id)
        run = Run(spark, tracer, work, args.seed, args.seconds, SIZES[args.size], cores)
        wl = WORKLOADS[args.workload](run)
        warm_s = time.perf_counter() - t0

        setups = []
        for _ in range(SETUP_REPS):
            spark.catalog.clearCache()
            t0 = time.perf_counter()
            wl.setup()
            setups.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        wl.warmup()
        warm_s += time.perf_counter() - t0
        run.ops.clear()
        setup_s = start_s + warm_s + statistics.median(setups)
        log(f"setup {setup_s:.2f}s (start {start_s:.2f}, warm-up {warm_s:.2f}, "
            f"inputs {[round(x, 2) for x in setups]})")

        heap = _heap_pools(spark)
        for pool in heap:
            pool.resetPeakUsage()
        walls = _closed_loop(run, wl, bool(args.trace))
        heap_mb = _heap_peak_mb(heap)
        tracer.close()
        wl_metrics = wl.metrics()
        rss.stop()
        log("op seconds " + json.dumps({k: [round(x, 3) for x in v] for k, v in run.ops.items()}))
        log("output checksums " + json.dumps(run.outputs))
        log(f"{sum(map(len, walls.values()))} iterations, "
            f"attempted={run.attempted} failed={run.failed} peak_rss: driver "
            f"{rss.driver_mb:.0f}MB, {rss.workers} worker processes {rss.workers_mb:.0f}MB, "
            f"total {rss.total_mb:.0f}MB; driver heap peak {heap_mb:.0f}MB")

        if args.trace:
            os.makedirs(os.path.join(HERE, ".traces"), exist_ok=True)
            tracer.dump(os.path.join(HERE, ".traces", f"{args.workload}-seed{args.seed}.jsonl"))
            session = {"session.start_s": start_s, "session.warmup_s": warm_s,
                       "session.cores": cores, "session.driver_memory_mb": driver_mb,
                       "driver.peak_rss_mb": rss.driver_mb, "driver.heap_peak_mb": heap_mb,
                       "workers.peak_rss_mb": rss.workers_mb, "workers.peak_procs": rss.workers}
            values = _layer_metrics(run, tracer, wl_metrics, session, walls)
            names = spec["per_layer"]
        else:
            values = dict(wl_metrics, setup_s=setup_s, peak_rss_mb=rss.total_mb)
            names = spec["end_to_end"]
        metrics = {m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
                   for m in names}
        result = {"correct": run.failed == 0, "attempted": run.attempted,
                  "failed": run.failed, "metrics": metrics}
    finally:
        rss.stop()
        if spark is not None:
            _stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
