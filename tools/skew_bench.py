"""Skew evidence for the north rule: the hotspot image distribution (20%
of rows in one 1°x1° cell) joined via (a) the naive shuffle join with
salting disabled and (b) the explicit hot-cell salted join. Reports both
walls + the row-set equality check, and appends to BENCH/BASELINE.md.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

N = int(os.environ.get("SPARK_GRAFT_SKEW_N", "400000"))


def main():
    from pyspark.sql import functions as F

    from pythongis_spark import fixtures as FX
    from pythongis_spark.operators.spatial_join import point_in_polygon_join
    from pythongis_spark.session import get_spark

    spark = get_spark(app="skew", shuffle_partitions=32)
    spark.range(1000).count()
    # hotspot points, metadata only (no image bytes needed for the join)
    ids = spark.range(N).select(F.col("id"))
    hot = F.pmod(F.col("id"), 5) == 0  # 20% in one cell
    pts = ids.select(
        F.col("id").alias("image_id"),
        F.when(hot, F.lit(10.0) + (F.pmod(F.col("id") * FX.LON_MULT, F.lit(256)) * 2 + 1) / 512.0)
        .otherwise(F.lit(-180.0) + (F.pmod(F.col("id") * FX.LON_MULT, F.lit(FX.LON_MOD)) * 2 + 1) / 256.0)
        .alias("lon"),
        F.when(hot, F.lit(50.0) + (F.pmod(F.col("id") * FX.LAT_MULT, F.lit(256)) * 2 + 1) / 512.0)
        .otherwise(F.lit(-90.0) + (F.pmod(F.col("id") * FX.LAT_MULT, F.lit(FX.LAT_MOD)) * 2 + 1) / 256.0)
        .alias("lat"),
    ).cache()
    pts.count()
    zones = FX.oracle_zones(spark)

    def run(salt_threshold, max_salt, label):
        t0 = time.perf_counter()
        out = point_in_polygon_join(
            pts, zones, point_id="image_id", z=6,
            broadcast_rows=0,  # force the shuffle join path
            salt_threshold=salt_threshold, max_salt=max_salt,
        )
        n = out.count()
        return {"label": label, "rows": n, "wall_sec": round(time.perf_counter() - t0, 2)}

    # best of N interleaved trials per variant: this VM's co-tenant CPU
    # steal swings walls 2x run-to-run; interleaving + min isolates the
    # plan difference from the noise
    trials = int(os.environ.get("SPARK_GRAFT_SKEW_TRIALS", "3"))
    naive = salted = None
    for _ in range(trials):
        a = run(salt_threshold=2**31, max_salt=1, label="shuffle, no salting")
        b = run(salt_threshold=20_000, max_salt=32, label="shuffle, hot-cell salted")
        naive = a if naive is None or a["wall_sec"] < naive["wall_sec"] else naive
        salted = b if salted is None or b["wall_sec"] < salted["wall_sec"] else salted

    # row-set equality of the two paths (sample-hash over full sets)
    a = point_in_polygon_join(pts, zones, point_id="image_id", z=6, broadcast_rows=0,
                              salt_threshold=2**31, max_salt=1)
    b = point_in_polygon_join(pts, zones, point_id="image_id", z=6, broadcast_rows=0,
                              salt_threshold=20_000, max_salt=32)
    hsum = F.sum(F.xxhash64("image_id", "zone_id").cast("decimal(38,0)"))
    ha = a.select(hsum.alias("h")).first()["h"]
    hb = b.select(hsum.alias("h")).first()["h"]
    summary = {
        "n_points": N,
        "cores": spark.sparkContext.defaultParallelism,
        "hotspot": "20% of rows in one 1x1-degree cell",
        "naive": naive,
        "salted": salted,
        "identical_result_set": bool(ha == hb),
        "speedup": round(naive["wall_sec"] / salted["wall_sec"], 2),
    }
    md = f"""

## Skew handling (explicit hot-cell salting)

Hotspot distribution: {N} points, 20% concentrated in one 1°×1° cell
(≫ any z=6 cell), forced through the *shuffle* join path on
local[{summary['cores']}]:

| path | wall (s) | rows |
|---|---|---|
| shuffle, no salting | {naive['wall_sec']} | {naive['rows']} |
| shuffle, hot-cell salted (S≤32) | {salted['wall_sec']} | {salted['rows']} |

- speedup from salting: **{summary['speedup']}×**
- salted and unsalted row sets identical: **{summary['identical_result_set']}**
  (xxhash64 set-sum equality)

(The production default broadcasts this dimension-sized build side —
the shuffle path is what a 10^12 × 10^9 join would take, and the salted
plan is what keeps the hot cell from pinning a single reducer.)
"""
    with open(os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "BENCH", "BASELINE.md"), "a") as fh:
        fh.write(md)
    print(json.dumps(summary))


if __name__ == "__main__":
    main()
