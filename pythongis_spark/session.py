"""SparkSession factory tuned for the engine.

Local mode here, but every knob is chosen to also make sense on a
multi-executor cluster at 100 TB: AQE on (runtime re-plan + skew join +
partition coalescing), Arrow on (all our UDFs are pandas/Arrow batched),
shuffle partitions sized to cores (locally) and meant to be overridden to
~2-3x total cores on a real cluster.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _usable_cpus() -> int:
    if hasattr(os, "sched_getaffinity"):
        return len(os.sched_getaffinity(0))
    return os.cpu_count() or 1


DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS") or _usable_cpus())

# The Python worker module (see its docstring) and the directory that holds
# it. The daemon imports the module when it starts, before any task has
# shipped py-files, so the directory goes on the executors' PYTHONPATH. It is
# derived from this file, so it is also right inside a --py-files zip, but
# only on the driver's host (see ``worker_conf``).
WORKER_MODULE = "pyspark_gis_worker"
WORKER_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "_worker")


def with_worker_dir(pythonpath: str | None) -> str:
    """``pythonpath`` with ``WORKER_DIR`` appended unless already on it."""
    parts = [p for p in (pythonpath or "").split(os.pathsep) if p]
    return os.pathsep.join(parts if WORKER_DIR in parts else parts + [WORKER_DIR])


def worker_conf(master: str, pythonpath: str | None = None) -> dict[str, str]:
    """Spark conf that runs Python tasks under ``WORKER_MODULE``: the module
    name and ``spark.executorEnv.PYTHONPATH`` = ``pythonpath`` (kept) plus
    ``WORKER_DIR``. Empty unless ``master`` is local: ``WORKER_DIR`` is a path
    on the driver, and a daemon on another host that cannot find the module
    fails every Python task, so executors there keep the stock worker."""
    if not master.startswith("local"):
        return {}
    return {
        "spark.python.worker.module": WORKER_MODULE,
        "spark.executorEnv.PYTHONPATH": with_worker_dir(pythonpath),
    }


def submitted_worker_conf() -> dict[str, str]:
    """``worker_conf`` for a builder that sets no master, as a spark-submit
    job's: for the submitted ``spark.master``, merged into the submitted
    ``spark.executorEnv.PYTHONPATH``. PySpark shows submitted confs only
    once the JVM gateway is up, so this starts it (spark-submit already has)."""
    from pyspark import SparkConf, SparkContext

    SparkContext._ensure_initialized()
    submitted = SparkConf()
    return worker_conf(submitted.get("spark.master", ""),
                       submitted.get("spark.executorEnv.PYTHONPATH"))


def get_spark(
    app: str = "pythongis_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    ``cores`` controls ``local[N]`` parallelism; it defaults to
    ``SPARK_GRAFT_CPUS``, else the CPUs this process may run on. Python tasks
    run under ``WORKER_MODULE``, which spares each task a re-read of every
    zip on the worker path (about 0.2 s); a session built elsewhere pays it.
    """
    cores = cores or DEFAULT_CPUS
    shuffle_partitions = shuffle_partitions or max(cores, 8)
    b = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "48g"))
        .config("spark.ui.enabled", "false")
        .config("spark.driver.extraJavaOptions", "-Djava.net.preferIPv4Stack=true")
    )
    extra_conf = dict(extra_conf or {})
    conf = worker_conf(f"local[{cores}]", extra_conf.pop("spark.executorEnv.PYTHONPATH", None))
    spark = b.config(map={**conf, **extra_conf}).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark
