"""spark-submit entry point for the end-to-end training-data pipeline.

The LLM-corpus analog of ``jobs/image_pipeline_job.py``: one job that
chains the engine's text operators the way a real pre-training data
build does (the reference has no pipeline runner; this composes the
operators SURVEY §2's data-processing surface maps to):

    URL canonicalize + per-domain cap          (web.py      — 1 shuffle)
    Gopher quality gate                        (text.py     — 0 shuffles)
    PII redaction                              (text.py     — 0 shuffles)
    exact dedup                                (dedup.py    — 1 shuffle)
    MinHash-LSH near-dup + connected components(dedup.py    — bounded)
    eval-set decontamination (13-gram)         (dedup.py    — broadcast)
    token counts + concat-and-chunk packing    (packing.py  — range part.)
    checkpointed partitioned write + lineage   (lineage.py)

Usage (local sandbox stand-in for a multi-executor cluster):

    bash tools/make_pyfiles.sh            # builds dist/pythongis_spark.zip
    spark-submit --master local[32] \
        --py-files dist/pythongis_spark.zip \
        jobs/text_pipeline_job.py \
        --sf-dir /root/testdata/sf0.1 --out /tmp/text_pipeline_out

On a real cluster only --master/--deploy-mode change (there the Python
workers are stock pyspark.worker: pythongis_spark's worker module runs
under a local master only, see session.submitted_worker_conf). The job is
resumable: re-running with the same --out skips completed language
partitions via the lineage manifest (the funnel stages re-derive
deterministically — every stage is a pure function of the input
table, so a resumed run reproduces identical surviving rows).

Scale shape (100 TB): the funnel is filter-heavy-early — domain caps
and the Gopher gate run before any pair generation, so the expensive
near-dup stages see only surviving rows. No stage collects documents
to the driver; the only driver-side state is the bounded lineage
manifest and the stage-count metrics (one count() job per stage,
reported in the emitted JSON). The URL column is synthesized
deterministically (the sandbox corpus has none); on a real crawl table
pass --url-col to use the existing column instead.
"""

from __future__ import annotations

import argparse
import json
import time


def main(argv=None):
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    ap.add_argument("--out", required=True)
    ap.add_argument("--url-col", default=None,
                    help="existing URL column (default: synthesize deterministically)")
    ap.add_argument("--domain-cap", type=int, default=50,
                    help="max docs kept per registered domain")
    ap.add_argument("--min-words", type=int, default=10,
                    help="Gopher gate lower word bound (50 for real corpora; "
                         "the synthetic docs are short)")
    ap.add_argument("--jaccard", type=float, default=0.7)
    ap.add_argument("--chunk-tokens", type=int, default=2048)
    args = ap.parse_args(argv)

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from pythongis_spark.session import submitted_worker_conf

    # no master here: spark-submit's --master rules; with a local master the
    # worker conf spares every Python task a re-read of the zips on the worker
    # path, elsewhere it is empty and executors run the stock worker
    spark = (SparkSession.builder.appName("text_pipeline")
             .config(map=submitted_worker_conf()).getOrCreate())

    from pythongis_spark import lineage as L
    from pythongis_spark.operators.dedup import (
        connected_components,
        decontaminate,
        dedup_exact_rows,
        minhash_lsh_pairs,
    )
    from pythongis_spark.operators.packing import pack_chunks
    from pythongis_spark.operators.text import gopher_filter, redact_pii, with_token_counts
    from pythongis_spark.operators.web import cap_per_domain

    t0 = time.perf_counter()
    funnel = {}

    def stage(df, name):
        # Eager checkpoint per funnel stage: the stage count and every
        # downstream stage read the materialized result instead of
        # recomputing the whole upstream funnel (which would make the
        # job quadratic in stages). On a real cluster use a reliable
        # checkpoint dir for the same effect plus restart safety.
        df = df.localCheckpoint(eager=True)
        funnel[name] = df.count()
        return df

    docs = stage(spark.read.parquet(f"{args.sf_dir}/documents.parquet"), "input")

    # -- URL canonicalization + per-domain cap ------------------------
    if args.url_col:
        docs = docs.withColumn("url", F.col(args.url_col))
    else:
        # Deterministic messy-URL stand-in (same canonicalization rules
        # as the url_canonical_docs gate query). The varying label sits
        # in the REGISTERED domain (exampleN.com / exampleN.co.uk — 80
        # distinct), not a subdomain, so the per-domain cap measures
        # real per-site concentration instead of collapsing the whole
        # corpus onto two registered domains.
        docs = docs.withColumn(
            "url",
            F.when(
                F.col("doc_id") % 2 == 0,
                F.concat(F.lit("HTTPS://WWW.Example"), (F.col("doc_id") % 40).cast("string"),
                         F.lit(".COM:443/a/?utm_source=m&a=1")),
            ).otherwise(
                F.concat(F.lit("http://sub.example"), (F.col("doc_id") % 40).cast("string"),
                         F.lit(".co.uk:80/p/")),
            ),
        )
    docs = stage(cap_per_domain(docs, "url", ["doc_id"], args.domain_cap), "after_domain_cap")

    # -- quality gate + PII scrub (pure codegen, no shuffle) ----------
    # min_stop_words=1: the synthetic corpus draws from a keyword
    # vocabulary where only "the" appears from the Gopher stop list.
    gated = gopher_filter(docs, min_words=args.min_words, min_stop_words=1)
    rule_cols = [c for c in gated.columns if c not in docs.columns]
    docs = stage(gated.filter("keep").drop(*rule_cols), "after_quality_gate")
    docs = redact_pii(docs)

    # -- exact dedup --------------------------------------------------
    docs = stage(dedup_exact_rows(docs, ["text"], "doc_id"), "after_exact_dedup")

    # -- near-dup: MinHash LSH pairs -> components -> keep roots ------
    pairs = minhash_lsh_pairs(docs, "doc_id", threshold=args.jaccard)
    labels = connected_components(pairs)
    losers = labels.filter(F.col("id") != F.col("component")).select(
        F.col("id").alias("doc_id")
    )
    docs = stage(docs.join(losers, "doc_id", "left_anti"), "after_near_dedup")

    # -- decontamination vs a benchmark eval set ----------------------
    # Deterministic eval stand-in: every doc_id % 41 == 0 document
    # contributes a 20-token excerpt (the decontam_docs gate fixture) —
    # on a real build, read the benchmark table here instead.
    toks = F.split(F.trim(F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9]+", " ")), " ")
    ev = docs.filter(F.col("doc_id") % 41 == 0).select(
        F.array_join(F.slice(toks, 5, 20), " ").alias("text")
    )
    docs = stage(decontaminate(docs, ev, "doc_id", n=13), "after_decontamination")

    # -- token counts + packing + checkpointed write ------------------
    packed = pack_chunks(
        with_token_counts(docs), "n_tokens_bpe", args.chunk_tokens, ["doc_id"]
    )
    result = L.run_checkpointed(packed, args.out, "lang")
    wall = time.perf_counter() - t0

    n_out = funnel["after_decontamination"]
    print(json.dumps(dict(
        funnel=funnel,
        kept_frac=round(n_out / max(funnel["input"], 1), 4),
        written_keys=len(result.get("written_keys", [])),
        skipped=result.get("skipped", False),
        commits=len(L.job_metrics(args.out)),
        wall_sec=round(wall, 2),
        docs_per_sec=round(funnel["input"] / wall, 1),
    )))


if __name__ == "__main__":
    main()
