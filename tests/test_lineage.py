"""Checkpoint/resume tests."""

import os

from pyspark.sql import functions as F

from pythongis_spark import lineage as L


def _key_counts(df, key_col):
    # read back, a numeric-looking partition value is inferred as a number
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
    commit) is rewritten in place by dynamic overwrite: same row total,
    and its new commit counts the rewritten rows."""
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
    """The dynamic overwrite is a per-write option: the session keeps its
    mode, and keys committed earlier survive a later write."""
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
