"""Checkpoint/resume tests."""

import os

import pyarrow.parquet as pq
from pyspark.sql import functions as F

from pythongis_spark import lineage as L

DEFAULT = "__HIVE_DEFAULT_PARTITION__"


def _key_counts(df, key_col):
    return {str(r[0]): r[1] for r in df.groupBy(key_col).count().collect()}


def test_checkpoint_resume(spark, tmp_path):
    base = str(tmp_path / "job")
    df = spark.range(1000).withColumn("k", F.pmod(F.col("id"), 10).cast("string"))

    # first run: only 4 keys (simulated partial run / crash after commit)
    r1 = L.run_checkpointed(df.filter(F.col("k").isin("0", "1", "2", "3")), base, "k")
    assert r1["written_keys"] == ["0", "1", "2", "3"] and not r1["skipped"]
    assert len(L.job_metrics(base)) == 1

    # resume: processes exactly the remaining 6 keys
    r2 = L.run_checkpointed(df, base, "k")
    assert len(r2["written_keys"]) == 6
    assert set(r1["written_keys"]) & set(r2["written_keys"]) == set()

    # third run: nothing pending
    r3 = L.run_checkpointed(df, base, "k")
    assert r3 == {"written_keys": [], "skipped": True}

    # data complete and correct
    out = L.read_checkpointed(spark, base)
    assert out.count() == 1000
    assert out.select("k").distinct().count() == 10

    # lineage metrics recorded per commit with throughput
    commits = L.job_metrics(base)
    assert len(commits) == 2
    assert all(c["metrics"]["throughput_rows_per_sec"] > 0 for c in commits)


def test_checkpoint_idempotent_rerun_overwrites(spark, tmp_path):
    """A batch whose data landed but whose commit did not (a crash before
    commit) is rewritten in place: same row total, one data file per key
    directory, and its new commit counts the rewritten rows."""
    base = str(tmp_path / "job2")
    df = spark.range(700).withColumn("k", F.pmod(F.col("id"), 7).cast("string"))
    L.run_checkpointed(df.filter(F.col("k") < "3"), base, "k")
    L.run_checkpointed(df, base, "k")
    mdir = os.path.join(base, L.MANIFEST_DIR)
    last = sorted(f for f in os.listdir(mdir) if f.endswith(".json"))[-1]
    os.remove(os.path.join(mdir, last))

    r = L.run_checkpointed(df, base, "k")
    assert r["written_keys"] == ["3", "4", "5", "6"]
    out = L.read_checkpointed(spark, base)
    assert out.count() == 700
    got = _key_counts(out, "k")
    assert r["metrics"]["rows_per_key"] == {k: got[k] for k in r["written_keys"]}
    assert sum(c["metrics"]["total_rows"] for c in L.job_metrics(base)) == 700
    data = os.path.join(base, "data")
    for d in os.listdir(data):
        assert len(os.listdir(os.path.join(data, d))) == 1, d


def test_write_runs_the_funnel_once(spark, tmp_path):
    """The manifest's keys and counts come from the write itself: a
    counting UDF sees every input row once, not once more for a
    pre-write count."""
    n = 1000
    seen = spark.sparkContext.accumulator(0)

    def tally(i):
        seen.add(1)
        return i

    funnel = F.udf(tally, "long").asNondeterministic()
    df = (
        spark.range(n)
        .select(funnel("id").alias("id"))
        .withColumn("k", F.pmod(F.col("id"), 10))
    )
    r = L.run_checkpointed(df, str(tmp_path / "once"), "k")
    assert r["metrics"]["total_rows"] == n
    assert seen.value == n


def test_manifest_counts_equal_read_back(spark, tmp_path):
    """Each commit's rows_per_key equals the per-key row counts read back,
    for keys that Spark escapes in partition directory names."""
    base = str(tmp_path / "counts")
    names = F.array(*(F.lit(k) for k in ["a/b", "c=d", "50%", "plain", "sp ace"]))
    # uneven per-key counts: 100 rows for each of the first four keys,
    # 1100 for the last
    df = spark.range(1500).withColumn(
        "k", F.element_at(names, F.least(F.pmod("id", 15), F.lit(4)).cast("int") + 1)
    )
    L.run_checkpointed(df.filter(F.col("k").isin("a/b", "50%")), base, "k")
    L.run_checkpointed(df, base, "k")
    got = _key_counts(L.read_checkpointed(spark, base), "k")
    assert got == _key_counts(df, "k")
    commits = L.job_metrics(base)
    assert [sorted(c["keys"]) for c in commits] == [
        ["50%", "a/b"], ["c=d", "plain", "sp ace"]
    ]
    for c in commits:
        m = c["metrics"]
        assert m["rows_per_key"] == {k: got[k] for k in c["keys"]}
        assert m["total_rows"] == sum(m["rows_per_key"].values())


def test_session_overwrite_mode_unchanged(spark, tmp_path):
    """A write leaves the session's partition overwrite mode alone, and
    keys committed earlier survive a later write under STATIC mode."""
    conf = "spark.sql.sources.partitionOverwriteMode"
    prev = spark.conf.get(conf)
    spark.conf.set(conf, "STATIC")
    try:
        base = str(tmp_path / "mode")
        df = spark.range(100).withColumn("k", F.pmod(F.col("id"), 4).cast("string"))
        L.run_checkpointed(df.filter(F.col("k") == "0"), base, "k")
        L.run_checkpointed(df, base, "k")
        assert spark.conf.get(conf) == "STATIC"
        assert _key_counts(L.read_checkpointed(spark, base), "k") == {
            k: 25 for k in "0123"
        }
    finally:
        spark.conf.set(conf, prev)


def test_null_and_empty_keys_commit_once(spark, tmp_path):
    """Null and empty keys are the hive default partition: written and
    committed once under ``__HIVE_DEFAULT_PARTITION__``, skipped on
    resume, and read back as null."""
    base = str(tmp_path / "nulls")
    k = F.pmod("id", 5)
    df = spark.range(100).withColumn(
        "k", F.when(k == 3, F.lit(None)).when(k == 4, F.lit("")).otherwise(k.cast("string"))
    )
    r1 = L.run_checkpointed(df, base, "k")
    assert r1["written_keys"] == ["0", "1", "2", DEFAULT]
    assert r1["metrics"]["rows_per_key"][DEFAULT] == 40
    for _ in range(2):
        assert L.run_checkpointed(df, base, "k") == {"written_keys": [], "skipped": True}
    assert len(L.job_metrics(base)) == 1
    assert _key_counts(L.read_checkpointed(spark, base), "k") == {
        "0": 20, "1": 20, "2": 20, "None": 40
    }


def test_read_checkpointed_keeps_key_strings(spark, tmp_path):
    """A numeric-looking key reads back as the committed string, and the
    session's partition type inference stays on."""
    base = str(tmp_path / "strs")
    conf = "spark.sql.sources.partitionColumnTypeInference.enabled"
    before = spark.conf.get(conf)
    df = spark.range(6).withColumn("k", F.when(F.col("id") < 3, "007").otherwise("10"))
    L.run_checkpointed(df, base, "k")
    out = L.read_checkpointed(spark, base)
    assert dict(out.dtypes)["k"] == "string"
    assert _key_counts(out, "k") == {"007": 3, "10": 3}
    assert spark.conf.get(conf) == before


def test_keys_span_arrow_batches(spark, tmp_path):
    """A key whose rows arrive in many Arrow batches still lands in one
    file with all its rows."""
    base = str(tmp_path / "batches")
    conf = "spark.sql.execution.arrow.maxRecordsPerBatch"
    prev = spark.conf.get(conf)
    spark.conf.set(conf, "7")
    try:
        df = spark.range(1000).withColumn("k", F.pmod("id", 3).cast("string"))
        r = L.run_checkpointed(df, base, "k")
    finally:
        spark.conf.set(conf, prev)
    assert r["metrics"]["rows_per_key"] == {"0": 334, "1": 333, "2": 333}
    data = os.path.join(base, "data")
    assert sorted(os.listdir(data)) == ["k=0", "k=1", "k=2"]
    files = [os.path.join(data, d, f) for d in os.listdir(data) for f in os.listdir(os.path.join(data, d))]
    assert len(files) == 3
    # the key's slices of many batches are gathered into one row group
    assert [pq.read_metadata(f).num_row_groups for f in files] == [1, 1, 1]
    out = L.read_checkpointed(spark, base)
    assert sorted(r.id for r in out.collect()) == list(range(1000))


def test_row_groups_are_bounded(spark, tmp_path):
    """A key larger than ``spark.sql.files.maxPartitionBytes`` of Arrow
    data is written as several row groups of about that size."""
    base = str(tmp_path / "groups")
    confs = {"spark.sql.execution.arrow.maxRecordsPerBatch": "100",
             "spark.sql.files.maxPartitionBytes": "4k"}
    prev = {c: spark.conf.get(c) for c in confs}
    for c, v in confs.items():
        spark.conf.set(c, v)
    try:
        df = spark.range(3000).withColumn("k", F.lit("a"))
        L.run_checkpointed(df, base, "k")
    finally:
        for c, v in prev.items():
            spark.conf.set(c, v)
    (name,) = os.listdir(os.path.join(base, "data", "k=a"))
    md = pq.read_metadata(os.path.join(base, "data", "k=a", name))
    # 8-byte ids: 4 KiB is 512 rows, reached after 6 batches of 100
    assert [md.row_group(i).num_rows for i in range(md.num_row_groups)] == [600] * 5
    out = L.read_checkpointed(spark, base)
    assert sorted(r.id for r in out.collect()) == list(range(3000))


def test_column_types_round_trip(spark, tmp_path):
    """Every column type the writer meets reads back unchanged."""
    import datetime as dt
    from decimal import Decimal

    schema = (
        "id long, i int, d double, dec decimal(38,9), s string, b binary, "
        "flag boolean, day date, ts timestamp, xs array<long>, "
        "st struct<a: int, t: string>, k string"
    )
    rows = [
        (1, 2, 0.5, Decimal("12345678901234567890123456789.123456789"), "é",
         bytearray(b"\x00\xff"), True, dt.date(2024, 2, 29),
         dt.datetime(2024, 2, 29, 12, 30, 1, 123456), [1, None, 3], (7, "x"), "a"),
        (2, None, None, None, None, None, None, None, None, None, None, "a"),
        (3, -1, float("inf"), Decimal("-0.000000001"), "", bytearray(), False,
         dt.date(1, 1, 1), dt.datetime(1970, 1, 1), [], (None, None), "b"),
    ]
    df = spark.createDataFrame(rows, schema)
    base = str(tmp_path / "types")
    L.run_checkpointed(df, base, "k")
    out = L.read_checkpointed(spark, base)
    assert out.schema == df.schema
    assert sorted(out.collect()) == sorted(df.collect())


def test_escape_matches_spark(spark):
    """Partition directory names are escaped exactly as Spark escapes them."""
    jvm = spark.sparkContext._jvm
    escape = jvm.org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.escapePathName
    keys = [chr(c) for c in range(256)] + ["a/b=c", "é 日本", "\U0001f600%", "x\u2028y"]
    assert [L._escape(k) for k in keys] == [escape(k) for k in keys]


def test_old_layout_key_directory_is_replaced(spark, tmp_path):
    """An uncommitted key directory written by Spark's own writer, with its
    checksum files, holds only the new file after a write of that key."""
    base = str(tmp_path / "old")
    data = os.path.join(base, "data")
    df = spark.range(300).withColumn("k", F.pmod("id", 3).cast("string"))
    df.repartition(4).write.partitionBy("k").parquet(data)
    assert any(f.endswith(".crc") for f in os.listdir(os.path.join(data, "k=1")))

    r = L.run_checkpointed(df.filter(F.col("k") == "1"), base, "k")
    assert r["written_keys"] == ["1"]
    files = os.listdir(os.path.join(data, "k=1"))
    assert len(files) == 1 and files[0].endswith(".parquet")
    # keys 0 and 2 were never committed, so they are not read
    assert _key_counts(L.read_checkpointed(spark, base), "k") == {"1": 100}


def test_failed_write_leaves_the_read_unchanged(spark, tmp_path):
    """A write that fails after some of its keys' files are in place
    changes nothing a read sees: only committed keys are read. The re-run
    then writes every pending key once."""
    import pytest

    base = str(tmp_path / "fail")
    data = os.path.join(base, "data")
    df = spark.range(700).withColumn("k", F.pmod("id", 7).cast("string"))
    L.run_checkpointed(df.filter(F.col("k") < "2"), base, "k")
    before = sorted(L.read_checkpointed(spark, base).collect())

    # a plain file where key 5's directory goes fails the write at key 5,
    # after keys 2-4 (one task, keys in sorted order) are written
    blocker = os.path.join(data, "k=5")
    open(blocker, "w").close()
    conf = "spark.sql.shuffle.partitions"
    prev = spark.conf.get(conf)
    spark.conf.set(conf, "1")
    try:
        with pytest.raises(Exception):
            L.run_checkpointed(df, base, "k")
    finally:
        spark.conf.set(conf, prev)
    assert len(L.job_metrics(base)) == 1
    assert any(f.endswith(".parquet") for f in os.listdir(os.path.join(data, "k=2")))
    assert sorted(L.read_checkpointed(spark, base).collect()) == before

    os.remove(blocker)
    r = L.run_checkpointed(df, base, "k")
    assert r["written_keys"] == ["2", "3", "4", "5", "6"]
    assert _key_counts(L.read_checkpointed(spark, base), "k") == {str(k): 100 for k in range(7)}
    for d in os.listdir(data):
        assert len(os.listdir(os.path.join(data, d))) == 1, d


def test_text_pipeline_job_end_to_end(spark, tmp_path, capsys):
    """Flagship text-pipeline job: funnel monotone non-increasing, every
    stage present, output partitioned by lang, second run resumes (skips
    all completed partitions). Runs at sf0.001 on the fixture session
    (SparkSession.getOrCreate reuses it)."""
    import json
    import sys

    sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "jobs"))
    import text_pipeline_job

    base = str(tmp_path / "tpj")
    text_pipeline_job.main(["--sf-dir", "/root/testdata/sf0.001", "--out", base])
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    f = rep["funnel"]
    order = ["input", "after_domain_cap", "after_quality_gate",
             "after_exact_dedup", "after_near_dedup", "after_decontamination"]
    assert list(f) == order
    vals = [f[k] for k in order]
    assert vals == sorted(vals, reverse=True) and vals[-1] > 0
    assert not rep["skipped"] and rep["written_keys"] >= 1

    out = L.read_checkpointed(spark, base)
    assert out.count() == f["after_decontamination"]
    assert {"chunk_id", "chunk_offset", "n_chunks", "lang"} <= set(out.columns)

    # resume: identical deterministic funnel, nothing rewritten
    text_pipeline_job.main(["--sf-dir", "/root/testdata/sf0.001", "--out", base])
    rep2 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep2["skipped"] and rep2["funnel"] == f
