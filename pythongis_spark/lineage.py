"""Checkpoint-resumable writes with per-key lineage metrics.

North-rule requirement: "resumable from checkpoint with per-partition
lineage + metrics". The reference has no parallelism, so this is
new-design territory (SURVEY.md §1.4: its streaming module is an empty
stub; resume is a *batch* snapshot concern, not a watermark one).

Design (Iceberg-style snapshot semantics on plain parquet, since the
Iceberg jars are not in this image — connector stubbed behind the same
API):

* a *job* writes data partitioned by a logical key column, in one
  execution of the funnel that produces it;
* each successful batch appends a **commit file** to ``_manifest/`` with
  the completed key values + metrics (rows per key, total rows, write
  wall time, throughput) — the keys and row counts are read from the
  Parquet footers of the files the write added, as an Iceberg manifest
  records each data file's record count; the commit file is written
  atomically (tmp + rename);
* **resume** = anti-join pending keys against the union of commit files
  and process only the remainder — identical to Iceberg snapshot
  expire/append semantics at the granularity we control from PySpark.
"""

from __future__ import annotations

import json
import os
import time
import uuid
from collections import Counter
from urllib.parse import unquote

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

MANIFEST_DIR = "_manifest"


def _manifest_path(base: str) -> str:
    return os.path.join(base, MANIFEST_DIR)


def completed_keys(spark: SparkSession, base: str) -> DataFrame | None:
    """Union of all commit files → DataFrame(key string). None if no
    commits yet."""
    mdir = _manifest_path(base)
    if not os.path.isdir(mdir):
        return None
    files = [os.path.join(mdir, f) for f in sorted(os.listdir(mdir)) if f.endswith(".json")]
    if not files:
        return None
    keys = []
    for f in files:
        with open(f) as fh:
            commit = json.load(fh)
        keys.extend(commit["keys"])
    if not keys:
        return None
    return spark.createDataFrame([(k,) for k in keys], "key string")


def _commit(base: str, keys: list[str], metrics: dict) -> str:
    """Atomic commit: write tmp json then rename (single-FS rename is
    atomic; on an object store this maps to an Iceberg snapshot commit)."""
    mdir = _manifest_path(base)
    os.makedirs(mdir, exist_ok=True)
    commit_id = f"commit-{int(time.time() * 1000)}-{uuid.uuid4().hex[:8]}"
    tmp = os.path.join(mdir, f".{commit_id}.tmp")
    final = os.path.join(mdir, f"{commit_id}.json")
    with open(tmp, "w") as fh:
        json.dump({"commit_id": commit_id, "keys": keys, "metrics": metrics}, fh)
    os.rename(tmp, final)
    return final


def _parquet_files(data: str) -> set[str]:
    """Every ``.parquet`` file under ``data``."""
    return {
        os.path.join(root, f)
        for root, _, files in os.walk(data)
        for f in files
        if f.endswith(".parquet")
    }


def run_checkpointed(df: DataFrame, base: str, key_col: str) -> dict:
    """Write ``df`` partitioned by ``key_col`` with resume support.

    Skips key values already recorded in the manifest (resume =
    anti-join), writes the remainder with dynamic partition overwrite
    (idempotent re-run of a batch that crashed before its commit), then
    commits the new keys + metrics. The funnel runs once: the keys and
    ``rows_per_key`` come from the Parquet footers of the files this
    write added (read on the driver, no Spark job), so the manifest
    counts what was written. Returns a summary dict.
    """
    df = df.withColumn(key_col, F.col(key_col).cast("string"))
    done = completed_keys(df.sparkSession, base)
    pending = df
    if done is not None:
        pending = df.join(
            done.withColumnRenamed("key", key_col), key_col, "left_anti"
        )
    data = os.path.join(base, "data")
    before = _parquet_files(data)
    t0 = time.perf_counter()
    (
        pending.repartition(F.col(key_col))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(key_col)
        .parquet(data)
    )
    wall = time.perf_counter() - t0
    counts = Counter()
    for path in _parquet_files(data) - before:
        # the file's directory is ``key_col=<value>``, %XX-escaped by Spark
        key = unquote(os.path.basename(os.path.dirname(path)).partition("=")[2])
        counts[key] += pq.read_metadata(path).num_rows
    keys = sorted(counts)
    if not keys:
        return {"written_keys": [], "skipped": True}
    total = sum(counts.values())
    metrics = {
        "rows_per_key": {k: counts[k] for k in keys},
        "total_rows": total,
        "wall_sec": wall,
        "throughput_rows_per_sec": total / wall if wall > 0 else None,
    }
    _commit(base, keys, metrics)
    return {"written_keys": keys, "skipped": False, "metrics": metrics}


def read_checkpointed(spark: SparkSession, base: str) -> DataFrame:
    return spark.read.parquet(os.path.join(base, "data"))


def job_metrics(base: str) -> list[dict]:
    """All commit metrics (the lineage/throughput record the north rule
    asks to accompany each run)."""
    mdir = _manifest_path(base)
    if not os.path.isdir(mdir):
        return []
    out = []
    for f in sorted(os.listdir(mdir)):
        if f.endswith(".json"):
            with open(os.path.join(mdir, f)) as fh:
                out.append(json.load(fh))
    return out
