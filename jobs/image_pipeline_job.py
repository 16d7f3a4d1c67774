"""spark-submit entry point for the north-rule image pipeline.

Usage (local sandbox stand-in for a multi-executor cluster):

    bash tools/make_pyfiles.sh            # builds dist/pythongis_spark.zip
    spark-submit --master local[32] \
        --py-files dist/pythongis_spark.zip \
        jobs/image_pipeline_job.py \
        --images 60000 --out /tmp/pipeline_out --tile-z 8

On a real cluster only --master/--deploy-mode change (there the Python
workers are stock pyspark.worker: pythongis_spark's worker module runs
under a local master only, see session.submitted_worker_conf); the job is
partition-count agnostic and resumable (re-running with the same --out
skips completed zone partitions via the checkpoint manifest).
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def main(argv=None):
    ap = argparse.ArgumentParser()
    ap.add_argument("--images", type=int, default=60_000)
    ap.add_argument("--out", required=True)
    ap.add_argument("--tile-z", type=int, default=8)
    ap.add_argument("--hotspot", action="store_true", help="20%% of rows in one cell (skew exercise)")
    args = ap.parse_args(argv)

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from pythongis_spark.session import submitted_worker_conf

    # no master here: spark-submit's --master rules; with a local master the
    # worker conf spares every Python task a re-read of the zips on the worker
    # path, elsewhere it is empty and executors run the stock worker
    spark = (SparkSession.builder.appName("image_pipeline")
             .config(map=submitted_worker_conf()).getOrCreate())

    from pythongis_spark import fixtures as FX
    from pythongis_spark import lineage as L
    from pythongis_spark.images.ops import verify_images
    from pythongis_spark.index import udfs as IU
    from pythongis_spark.operators.spatial_join import point_in_polygon_join

    t0 = time.perf_counter()
    imgs = FX.images_df(spark, args.images, hotspot=args.hotspot)
    bad = verify_images(imgs).filter(
        "NOT (ok_shape AND psnr_ok AND phash_ok AND caption_ok)"
    )
    n_bad = bad.count()
    if n_bad:
        print(f"payload verification failed for {n_bad} rows", file=sys.stderr)
        sys.exit(2)

    zones = FX.oracle_zones(spark)
    tagged = point_in_polygon_join(
        imgs.select("image_id", "lon", "lat", "fmt", "w", "h"),
        zones,
        point_id="image_id",
    ).withColumn("tile", IU.point_cell_expr(F.col("lon"), F.col("lat"), args.tile_z))

    result = L.run_checkpointed(tagged, args.out, "zone_id")
    wall = time.perf_counter() - t0
    print(
        json.dumps(
            dict(
                images=args.images,
                wall_sec=round(wall, 2),
                images_per_sec=round(args.images / wall, 1),
                written_keys=len(result.get("written_keys", [])),
                skipped=result.get("skipped", False),
                commits=len(L.job_metrics(args.out)),
            )
        )
    )


if __name__ == "__main__":
    main()
