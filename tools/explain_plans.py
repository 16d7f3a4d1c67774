"""Plan audit: print .explain('formatted') of the flagship plans and
assert the physical properties we designed for:

* parquet scans show ReadSchema pruned to used columns (+ PushedFilters
  where applicable);
* the pip spatial join's candidate join is a BroadcastHashJoin for the
  small zone dim (no shuffle of the probe side);
* the quadkey tile expression compiles into WholeStageCodegen (no Python
  in the tile-assignment path);
* groupBy aggregates are partial+final HashAggregate pairs.

Usage: python tools/explain_plans.py [sf_dir]
"""

from __future__ import annotations

import io
import re
import sys
from contextlib import redirect_stdout

sys.path.insert(0, ".")


def fmt(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def check(name: str, plan: str, must: list[str], must_not: list[str] = ()):  # noqa
    ok = True
    for pat in must:
        if not re.search(pat, plan):
            print(f"  MISSING [{pat}]")
            ok = False
    for pat in must_not:
        if re.search(pat, plan):
            print(f"  UNEXPECTED [{pat}]")
            ok = False
    print(f"{name}: {'OK' if ok else 'PLAN REGRESSION'}")
    return ok


def main():
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    from pyspark.sql import functions as F

    import __spark_entry__ as E
    from pythongis_spark import fixtures as FX
    from pythongis_spark.index import udfs as IU
    from pythongis_spark.operators.spatial_join import point_in_polygon_join
    from pythongis_spark.session import get_spark

    spark = get_spark(app="plans", cores=8)
    failures = 0

    # 1. pip spatial join: broadcast candidate join, pruned parquet scan
    pts = FX.events_points(spark, sf)
    zones = FX.oracle_zones(spark)
    pip = point_in_polygon_join(pts, zones, point_id="event_id", z=6, build_rows=0)
    plan = fmt(pip)
    print(plan[:2000])
    failures += not check(
        "pip_join",
        plan,
        must=[r"BroadcastHashJoin", r"ReadSchema: struct<event_id:bigint"],
        # rectangle build side: the half-open codegen box test replaces
        # the Arrow ray-cast refine entirely (r4 fast path)
        must_not=[r"SortMergeJoin", r"_refine_pip"],
    )

    # 1b. pip over golden (non-rectangle) zones: the build side's cells
    # come from a Catalyst explode(sequence) over each bbox's tile spans,
    # so the only Python in the plan is the exact ray-cast refine
    gz = spark.createDataFrame(FX.golden_zones_pdf())
    gpip = point_in_polygon_join(pts, gz, point_id="event_id", z=6, build_rows=0)
    plan = fmt(gpip)
    udfs = re.findall(r"\(\d+\) ArrowEvalPython\n(?:.*\n)*?Arguments: \[(\w+)\(", plan)
    expand = re.search(r"\(\d+\) Generate.*\n[^(]*?Arguments: explode\(sequence\(", plan)
    ok1b = udfs == ["_refine_pip"] and expand is not None
    if not ok1b:
        print(f"  ArrowEvalPython UDFs = {udfs} (want ['_refine_pip']); "
              f"Generate explode(sequence) present: {expand is not None}")
    print(f"pip_build_catalyst: {'OK' if ok1b else 'PLAN REGRESSION'}")
    failures += not ok1b

    # 2. tile assignment: pure codegen, no python eval
    tiles = pts.select(
        "event_id", IU.point_cell_expr(F.col("lon"), F.col("lat"), 8).alias("tile")
    )
    plan = fmt(tiles)
    failures += not check(
        "tile_assign",
        plan,
        must=[r"codegen id"],  # '* Project [codegen id: N]' = whole-stage codegen
        must_not=[r"ArrowEvalPython", r"BatchEvalPython"],
    )

    # 3. tpch q1: partial+final hash aggregate, date filter pushed
    q1 = E.queries()["tpch_q1"](spark, sf)
    plan = fmt(q1)
    failures += not check(
        "tpch_q1",
        plan,
        must=[r"HashAggregate", r"PushedFilters: \[.*LessThanOrEqual\(l_shipdate"],
    )

    # 4. moving window: single shuffle on user_id
    mw = E.queries()["moving_window_events"](spark, sf)
    plan = fmt(mw)
    failures += not check(
        "moving_window", plan, must=[r"Window", r"hashpartitioning\(user_id"]
    )

    # 5. zonal stats: value cells joined to the broadcast zone runs (no
    # expansion of the runs into cells), single agg shuffle
    z = E.queries()["zonal_stats_raster"](spark, sf)
    plan = fmt(z)
    failures += not check(
        "zonal_stats",
        plan,
        must=[r"BroadcastHashJoin", r"HashAggregate"],
        must_not=[r"sequence\("],
    )

    # 5b. rasterize on a 1080×540 grid, both cover rules: ONE Python
    # pass emitting grid-row runs (partial: with their weights),
    # expanded to cells by a Catalyst explode(sequence) — no bbox sizing
    # UDF and no window explode in front of it
    from pythongis_spark.raster.model import RasterDef
    from pythongis_spark.raster.zonal import rasterize

    rd = RasterDef(1080, 540, (1 / 3, 0.0, -180.0, 0.0, -1 / 3, 90.0))
    for label, partial in (("rasterize_intervals", False),
                           ("rasterize_partial_intervals", True)):
        rz = rasterize(zones, rd, valuekey="zone_id", stat="sum", partial=partial)
        plan = fmt(rz)
        n_arrow = len(re.findall(r"\(\d+\) ArrowEvalPython", plan))
        # formatted plans list a Generate's generator on its Arguments line
        expand = re.search(r"\(\d+\) Generate\n[^(]*?Arguments: explode\(sequence\(", plan)
        ok5b = n_arrow == 1 and expand is not None
        if not ok5b:
            print(f"  ArrowEvalPython count = {n_arrow} (want 1); "
                  f"Generate explode(sequence) present: {expand is not None}")
        print(f"{label}: {'OK' if ok5b else 'PLAN REGRESSION'}")
        failures += not ok5b

    # 6. classify quantile: the window must be per-range-partition, never
    # a single-partition global window (SinglePartition feeding Window =
    # the one-task straggler the distributed rank exists to avoid).
    # The range repartition itself is frozen behind an eager
    # localCheckpoint (AQE-coalescing fix in _with_global_row_number), so
    # the downstream plan shows "Scan ExistingRDD" instead of a
    # rangepartitioning exchange — assert the checkpoint scan is there
    # and that NO single-partition exchange feeds the window.
    cq = E.queries()["classify_quantile"](spark, sf)
    plan = fmt(cq)
    failures += not check(
        "classify_quantile",
        plan,
        must=[r"Window", r"Scan ExistingRDD|rangepartitioning"],
        must_not=[r"SinglePartition.*\n.*Window|Exchange SinglePartition"],
    )

    # 7. warp: pure Catalyst CRS remap — atan/exp stay JVM-side, the
    # only join is the cell equi-join, no Python evaluation anywhere
    wq = E.queries()["warp_raster_webmercator"](spark, sf)
    plan = fmt(wq)
    failures += not check(
        "warp_raster",
        plan,
        # AQE's pre-execution formatted plan carries no codegen ids;
        # assert the shape instead: JVM trig in the projection, one
        # broadcast equi-join, zero Python evaluation
        must=[r"BroadcastHashJoin", r"ATAN\(EXP\("],
        must_not=[r"ArrowEvalPython", r"BatchEvalPython"],
    )

    # 8. ungrouped moving window: block-carry scale path — windows
    # partition by block, never a SinglePartition global sort window
    mg = E.queries()["moving_window_global"](spark, sf)
    plan = fmt(mg)
    failures += not check(
        "moving_window_global",
        plan,
        must=[r"Window", r"hashpartitioning\(_blk"],
        must_not=[r"Exchange SinglePartition.*\n.*Window"],
    )

    # 9. batch kNN join: the r4 bounded plan — candidates come from a
    # single MapInPandas partial-top-k over the corpus (shuffle carries
    # O(batches×queries×k) rows into the per-query window), with NO
    # Generate/explode of a corpus×queries struct array (the r3 shape)
    pt = E.queries()["pairwise_topk"](spark, sf)
    plan = fmt(pt)
    failures += not check(
        "pairwise_topk",
        plan,
        must=[r"MapInPandas", r"Window", r"hashpartitioning\(q_id"],
        must_not=[r"Generate explode", r"ArrowEvalPython"],
    )

    # 10. planar kNN against the 60 zone centers: one MapInPandas top-k
    # pass — no crossJoin materialization, no per-point window shuffle
    kq = E.queries()["knn_zone_centers"](spark, sf)
    plan = fmt(kq)
    failures += not check(
        "knn_tiny_arrow",
        plan,
        must=[r"MapInPandas"],
        must_not=[r"CartesianProduct", r"Window"],
    )

    # 10b. planar kNN above the brute-force shortcut but within the
    # broadcast budget: the same single MapInPandas pass over a broadcast
    # cell index — no neighbor-cell explode, window or cross join
    kg = E.queries()["knn_grid_path"](spark, sf)
    plan = fmt(kg)
    failures += not check(
        "knn_grid_path",
        plan,
        must=[r"MapInPandas"],
        must_not=[r"Window", r"Generate explode", r"CartesianProduct"],
    )

    # 11. deterministic hash sampling: a pure codegen filter over the
    # scan — no shuffle, no Python, nothing but the parquet read
    hs = E.queries()["sample_hash_docs"](spark, sf)
    plan = fmt(hs)
    failures += not check(
        "sample_hash_no_shuffle",
        plan,
        must=[r"Filter", r"Scan parquet"],
        must_not=[r"Exchange", r"ArrowEvalPython", r"BatchEvalPython"],
    )

    # 12. per-group cap: the rank predicate must compile to
    # WindowGroupLimit so every map task truncates its groups to n rows
    # BEFORE the exchange (the hot-group skew guard)
    cg = E.queries()["cap_per_group_docs"](spark, sf)
    plan = fmt(cg)
    failures += not check(
        "cap_per_group_windowgrouplimit",
        plan,
        must=[r"WindowGroupLimit"],
        must_not=[],
    )

    # 13. concat-and-chunk packing: the global token cumsum must run as
    # per-partition windows over the frozen range shuffle (_pid) — a
    # naive Window.orderBy would collapse to one task via an
    # Exchange SinglePartition
    pc = E.queries()["pack_chunks_docs"](spark, sf)
    plan = fmt(pc)
    failures += not check(
        "pack_chunks_parallel_cumsum",
        plan,
        must=[r"Window", r"hashpartitioning\(_pid"],
        must_not=[r"Exchange SinglePartition"],
    )

    # 14. Gopher rule gate: a pure codegen projection over the parquet
    # scan — no shuffle, no Python anywhere (the whole 7-rule gate is
    # higher-order array exprs + regexp counts)
    gf = E.queries()["gopher_filter_docs"](spark, sf)
    plan = fmt(gf)
    failures += not check(
        "gopher_filter_projection",
        plan,
        must=[r"Scan parquet"],
        must_not=[r"Exchange", r"ArrowEvalPython", r"BatchEvalPython"],
    )

    # 15. URL canonicalization: same contract — regexp/array codegen
    # projection, no shuffle, no Python
    uc = E.queries()["url_canonical_docs"](spark, sf)
    plan = fmt(uc)
    failures += not check(
        "url_canon_projection",
        plan,
        must=[r"Scan parquet"],
        must_not=[r"Exchange", r"ArrowEvalPython", r"BatchEvalPython"],
    )

    # 16. banded Hamming near-dup (stored-hash path): the ONLY Python
    # is absent entirely (from_bytes=False is pure Catalyst); the band
    # explode feeds one (band, bucket) shuffle and the verify is
    # codegen bit_count(xor) — no second Python pass, no cartesian
    from pythongis_spark.operators.dedup import hamming_neardup_pairs

    sig = spark.range(1000).select(
        F.col("id").cast("string").alias("image_id"),
        F.xxhash64(F.col("id")).alias("phash"),
    )
    hn = hamming_neardup_pairs(sig, "image_id", "phash", 3, bucket_cap=256)
    plan = fmt(hn)
    failures += not check(
        "hamming_neardup_catalyst",
        plan,
        must=[r"hashpartitioning\(band", r"bit_count"],
        must_not=[r"ArrowEvalPython", r"BatchEvalPython", r"CartesianProduct"],
    )

    # 17. C4 cleaning: higher-order-function projection over the scan —
    # no shuffle, no Python
    c4 = E.queries()["c4_clean_docs"](spark, sf)
    plan = fmt(c4)
    failures += not check(
        "c4_clean_projection",
        plan,
        must=[r"Scan parquet"],
        must_not=[r"Exchange", r"ArrowEvalPython", r"BatchEvalPython"],
    )

    # 18. LM-fit: the bigram table joins BROADCAST (no shuffle on the
    # exploded doc-gram side beyond the per-doc agg), no Python
    lf = E.queries()["lm_fit_docs"](spark, sf)
    plan = fmt(lf)
    failures += not check(
        "lm_fit_broadcast_join",
        plan,
        must=[r"BroadcastHashJoin", r"HashAggregate"],
        must_not=[r"SortMergeJoin", r"ArrowEvalPython", r"BatchEvalPython",
                  r"CartesianProduct"],
    )

    # 19. parsed-CRS warp: the two struct-field reads of the
    # column_inverse UDF must DEDUP to a single ArrowEvalPython (one
    # vectorized projection batch per partition, not two)
    wu = E.queries()["warp_raster_utm_parsed"](spark, sf)
    plan = fmt(wu)
    # count PHYSICAL NODES (the formatted details section repeats the
    # node name once more per node)
    n_arrow = len(re.findall(r"\(\d+\) ArrowEvalPython", plan))
    ok19 = n_arrow == 1 and not re.search(r"CartesianProduct", plan)
    if not ok19:
        print(f"  ArrowEvalPython count = {n_arrow} (want 1)")
    print(f"warp_parsed_single_arrow: {'OK' if ok19 else 'PLAN REGRESSION'}")
    failures += not ok19

    # 20. sector viewshed: ONE grouped-pandas stage on the sector key —
    # no crossJoin against the observer row, no per-sample join/explode
    # beyond the ≤2-sector membership explode
    from pythongis_spark.raster.algebra import viewshed_sectors

    dem = FX.raster_cells(spark, 360, 180, 1).filter(F.col("band") == 0)
    vs = viewshed_sectors(dem, 180, 90, 1.0, 40, n_sectors=16)
    plan = fmt(vs)
    failures += not check(
        "viewshed_sectors_one_grouped_pandas",
        plan,
        must=[r"FlatMapGroupsInPandas"],
        must_not=[r"CartesianProduct", r"BroadcastNestedLoopJoin",
                  r"SortMergeJoin"],
    )

    # 21. tiled cost distance (one round's candidate frame): the dirty
    # tile set joins BROADCAST onto the static per-tile replica — the
    # big side is never shuffled for pruning; the only wide exchange is
    # the groupBy(tile) feeding the per-tile Dijkstra
    from pythongis_spark.raster import algebra as RA

    grid = dem.select("x", "y", F.col("val").alias("c")).filter(
        F.col("c").isNotNull())
    T = 64
    inf = (
        grid.withColumn("_txs", F.array_distinct(F.array(
            F.floor((F.col("x") - 1) / T), F.floor(F.col("x") / T),
            F.floor((F.col("x") + 1) / T))))
        .withColumn("_tys", F.array_distinct(F.array(
            F.floor((F.col("y") - 1) / T), F.floor(F.col("y") / T),
            F.floor((F.col("y") + 1) / T))))
        .withColumn("tx", F.explode("_txs"))
        .withColumn("ty", F.explode("_tys"))
        .drop("_txs", "_tys")
    )
    dirty = F.broadcast(
        spark.createDataFrame([(0, 0)], "tx long, ty long"))
    region = inf.join(dirty, ["tx", "ty"])
    out = region.withColumn("d0", F.lit(None).cast("double")).groupBy(
        "tx", "ty").applyInPandas(
        RA._tile_dijkstra_fn(T, [(1, 0), (-1, 0), (0, 1), (0, -1)]),
        "x int, y int, d double")
    plan = fmt(out)
    failures += not check(
        "cost_tiles_broadcast_prune",
        plan,
        must=[r"BroadcastHashJoin", r"FlatMapGroupsInPandas"],
        must_not=[r"SortMergeJoin", r"CartesianProduct"],
    )

    # 22. parsed-CRS point reproject (the r5 projection-kernel gates,
    # incl. the datum-shift chains — Helmert + non-WGS84 kernels):
    # one ArrowEvalPython over the parquet scan — the whole transform is
    # a single vectorized batch per partition, no exchange, no join
    for qname in ("laea3035_points", "cea6933_points", "bng27700_points",
                  "lambert72_points", "rdnew_points", "krovak_points",
                  "rso_borneo_points"):
        rp = E.queries()[qname](spark, sf)
        plan = fmt(rp)
        n_arrow = len(re.findall(r"\(\d+\) ArrowEvalPython", plan))
        ok22 = (n_arrow == 1
                and not re.search(r"Exchange", plan)
                and not re.search(r"CartesianProduct", plan))
        if not ok22:
            print(f"  {qname}: ArrowEvalPython={n_arrow} (want 1, no Exchange)")
        print(f"reproject_parsed_single_arrow[{qname}]: "
              f"{'OK' if ok22 else 'PLAN REGRESSION'}")
        failures += not ok22

    # 23. checkpoint resume: the committed keys are a NOT IN predicate on
    # the key that Catalyst pushes below the funnel's aggregate — no
    # anti-join, no Python-built key frame. Formatted plans number nodes
    # children first, so "below" is a smaller node id.
    import tempfile

    from pythongis_spark import lineage as L

    funnel = pip.withColumn(
        "tile", IU.point_cell_expr(F.col("lon"), F.col("lat"), 8)
    ).groupBy("zone_id", "tile").count()
    with tempfile.TemporaryDirectory() as base:
        L._commit(base, [str(k) for k in range(12)], {})
        plan = fmt(L._pending(funnel, base, "zone_id"))
    key_filters = [int(n) for n in re.findall(
        r"\((\d+)\) Filter\n.*\nCondition : .*__HIVE_DEFAULT_PARTITION__\) (?:INSET |IN \()",
        plan)]
    aggs = [int(n) for n in re.findall(r"\((\d+)\) HashAggregate", plan)]
    ok23 = (bool(key_filters and aggs) and max(key_filters) < min(aggs)
            and not re.search(r"LeftAnti|Scan ExistingRDD", plan))
    if not ok23:
        print(f"  key-predicate Filter nodes {key_filters}, HashAggregate nodes "
              f"{aggs} (want all below), no LeftAnti / Scan ExistingRDD")
    print(f"resume_pending_pushdown: {'OK' if ok23 else 'PLAN REGRESSION'}")
    failures += not ok23

    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
