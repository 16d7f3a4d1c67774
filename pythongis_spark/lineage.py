"""Checkpoint-resumable writes with per-key lineage metrics.

North-rule requirement: "resumable from checkpoint with per-partition
lineage + metrics". The reference has no parallelism, so this is
new-design territory (SURVEY.md §1.4: its streaming module is an empty
stub; resume is a *batch* snapshot concern, not a watermark one).

Design (Iceberg-style data files and snapshot commits on plain parquet,
since the Iceberg jars are not in this image):

* a *job* writes data partitioned by a logical key column, in one
  execution of the funnel that produces it, into a hive layout
  ``data/<key_col>=<escaped key>/`` that ``spark.read.parquet`` reads;
* the writer is an Arrow task (``mapInArrow``) over the key-sorted
  partitions: it streams each key's rows into one immutable Parquet file,
  in row groups of up to ``spark.sql.files.maxPartitionBytes`` of Arrow
  data (the most Spark's reader gives one task), and reports ``(key,
  file, rows)``, as an Iceberg writer reports each data file's partition
  and record count to the commit;
* the driver's **commit** deletes what else sits in the written key
  directories (a crashed attempt's files, an old Spark-written layout),
  then appends a **commit file** to ``_manifest/`` with the completed
  key values + metrics (rows per key, total rows, write wall time,
  throughput); the commit file is written atomically (tmp + rename);
* **read** takes the committed keys' directories only: the manifest is
  the table, so a failed write changes nothing a read sees;
* **resume** filters the pending rows by ``NOT key IN (<committed
  keys>)``, the keys read from the commit files on the driver; Catalyst
  pushes the predicate below the funnel's aggregate.

A null or empty key is the hive default partition,
``__HIVE_DEFAULT_PARTITION__``, which is also its key in the manifest.
"""

from __future__ import annotations

import itertools
import json
import os
import time
import uuid
from collections import Counter
from operator import itemgetter

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark import TaskContext
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

MANIFEST_DIR = "_manifest"


def _manifest_path(base: str) -> str:
    return os.path.join(base, MANIFEST_DIR)


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


# the characters Spark's ExternalCatalogUtils.escapePathName writes as %XX
_ESCAPED = frozenset(map(chr, range(1, 32))) | frozenset('"#%\'*/:=?[\\]^{\x7f')


def _escape(name: str) -> str:
    """A partition directory name part, escaped as Spark escapes it."""
    return "".join(f"%{ord(c):02X}" if c in _ESCAPED else c for c in name)


def _key_runs(batches, key_col: str):
    """(key, rows without the key column) for each run of equal keys in
    a stream of key-sorted Arrow batches."""
    for batch in batches:
        runs = pc.run_end_encode(batch.column(key_col))
        rows = batch.drop_columns([key_col])
        start = 0
        for end, key in zip(runs.run_ends.to_pylist(), runs.values.to_pylist()):
            yield key, rows.slice(start, end - start)
            start = end


def _write_group(out, path: str, group: list):
    """Write ``group`` (record batches of one schema) as one row group,
    opening the Parquet file at ``path`` on the first group."""
    table = pa.Table.from_batches(group)
    out = out or pq.ParquetWriter(path, table.schema)
    out.write_table(table, row_group_size=table.num_rows)
    return out


def _writer(data: str, key_col: str, token: str, group_bytes: int):
    """``mapInArrow`` function for a partition sorted by ``key_col``: each
    key's rows stream into one open Parquet file, written under a
    dot-prefixed name and renamed into place when the key ends. A key's
    rows are gathered into row groups of about ``group_bytes`` of Arrow
    data, so a task holds at most one row group. The name depends on the
    write and the partition only, so a retried attempt replaces the file
    instead of adding one. Yields ``(key, path, rows)`` per file."""
    prefix = _escape(key_col) + "="

    def write(batches):
        ctx = TaskContext.get()
        name = f"part-{token}-{ctx.partitionId():05d}.parquet"
        written = []
        for key, runs in itertools.groupby(_key_runs(batches, key_col), itemgetter(0)):
            kdir = os.path.join(data, prefix + _escape(key))
            os.makedirs(kdir, exist_ok=True)
            tmp = os.path.join(kdir, f".{name}.{ctx.attemptNumber()}")
            out, n, group, size = None, 0, [], 0
            for _, rows in runs:
                group.append(rows)
                n += rows.num_rows
                size += rows.nbytes
                if size >= group_bytes:
                    out = _write_group(out, tmp, group)
                    group, size = [], 0
            if group:
                out = _write_group(out, tmp, group)
            out.close()
            path = os.path.join(kdir, name)
            os.replace(tmp, path)
            written.append((key, path, n))
        if written:
            key, path, n = zip(*written)
            yield pa.RecordBatch.from_arrays(
                [pa.array(key), pa.array(path), pa.array(n, pa.int64())],
                ["key", "path", "rows"],
            )

    return write


def _pending(df: DataFrame, base: str, key_col: str) -> DataFrame:
    """``df`` with its key as the string the manifest records (null and
    empty are the default partition), less the rows of committed keys."""
    key = F.nullif(F.col(key_col).cast("string"), F.lit(""))
    df = df.withColumn(key_col, F.coalesce(key, F.lit("__HIVE_DEFAULT_PARTITION__")))
    done = [k for c in job_metrics(base) for k in c["keys"]]
    return df.filter(~F.col(key_col).isin(done)) if done else df


def run_checkpointed(df: DataFrame, base: str, key_col: str) -> dict:
    """Write ``df`` partitioned by ``key_col`` with resume support.

    Skips key values already recorded in the manifest (a ``NOT IN``
    filter over the keys of the commit files, no Spark job), writes the
    remainder in one Spark job whose Arrow tasks write a Parquet file per
    key and report its row count, then commits the new keys + metrics.
    Files in a written key directory that this write did not produce are
    deleted first, so a batch that crashed before its commit is rewritten
    in place. The funnel runs once. Returns a summary dict.
    """
    pending = _pending(df, base, key_col)
    data = os.path.abspath(os.path.join(base, "data"))
    # a row group is capped at the most Spark's reader gives one task
    group_bytes = df.sparkSession._jsparkSession.sessionState().conf().filesMaxPartitionBytes()
    write = _writer(data, key_col, uuid.uuid4().hex, group_bytes)
    t0 = time.perf_counter()
    files = (
        pending.repartition(key_col)
        .sortWithinPartitions(key_col)
        .mapInArrow(write, "key string, path string, rows long")
        .collect()
    )
    wall = time.perf_counter() - t0
    if not files:
        return {"written_keys": [], "skipped": True}
    counts = Counter()
    for f in files:
        counts[f.key] += f.rows
    kept = {f.path for f in files}
    for kdir in {os.path.dirname(p) for p in kept}:
        for name in os.listdir(kdir):
            if os.path.join(kdir, name) not in kept:
                os.remove(os.path.join(kdir, name))
    keys = sorted(counts)
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
    """The rows of the committed keys, read from their key directories
    only: the manifest is the table, so files a failed or running write
    left in other directories are never read. The key column reads as
    the committed key strings (a key ``"007"`` stays ``"007"``; the
    default partition reads as null) and comes last, as in any
    hive-layout read."""
    data = os.path.join(base, "data")
    committed = {_escape(k) for c in job_metrics(base) for k in c["keys"]}
    dirs = [d for d in sorted(os.listdir(data)) if d.partition("=")[2] in committed]
    if not dirs:
        raise FileNotFoundError(f"no committed key directory under {data}")
    paths = [os.path.join(data, d) for d in dirs]
    reader = spark.read.option("basePath", data)
    key_cols = {d.partition("=")[0] for d in dirs}
    schema = T.StructType([
        T.StructField(f.name, T.StringType()) if _escape(f.name) in key_cols else f
        for f in reader.parquet(*paths).schema
    ])
    return reader.schema(schema).parquet(*paths)


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
