"""The flagship operator: distributed spatial join.

Reference semantics: ``pythongis/vector/manager.py:160-486`` — an
index-nested-loop join (per left feature, r-tree bbox probe → exact
shapely predicate). Our physical plan is Spark-native:

    0. profile   one memoized aggregate per layer (index level, giant
                 flag and cell total per level, all-rectangle flag) —
                 the only plan-time job.
    1. index     build side (polygons) exploded to covering quadkey cells
                 by ``explode(sequence(...))`` over its tile spans; probe
                 side (points) gets its single cell via a Morton
                 expression. Both stay in Catalyst codegen.
    2. candidates equi-join on cell — broadcast when the build side is
                 small, else shuffled hash join with *explicit hot-cell
                 salting* (north rule: skew handled explicitly, not left to
                 chance; AQE skew-join remains on as a backstop).
    3. refine    exact predicate in an Arrow-vectorized pandas UDF
                 (decode each distinct polygon once per batch — the
                 Spark analog of the reference's prepared-geometry cache,
                 ``pythongis/vector/geometry.py:30-35``).
    4. keepall   left-outer null-pad (``manager.py:425-429``).

At 100 TB the probe side never shuffles more than once (on cell), the
build side is a dimension table exploded ~4x, and refinement runs
data-parallel over Arrow batches.
"""

from __future__ import annotations

from typing import NamedTuple

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from pythongis_spark.geometry import core as G
from pythongis_spark.geometry import wkb as W
from pythongis_spark import plan_cache
from pythongis_spark.index import quadkey as Q
from pythongis_spark.index import udfs as IU

DEFAULT_BROADCAST_ROWS = 1_000_000  # exploded build rows still broadcastable
DEFAULT_SALT_THRESHOLD = 100_000  # probe rows per cell before salting
DEFAULT_MAX_SALT = 32
DEFAULT_CELL_CAP = 4096  # max covering cells per feature before the NL path


# ------------------------------------------------------------------
# refine UDFs
# ------------------------------------------------------------------

@F.pandas_udf(T.BooleanType())
def _refine_pip(lon: pd.Series, lat: pd.Series, geom: pd.Series) -> pd.Series:
    """Exact point-in-polygon for candidate pairs; vectorized per distinct
    polygon within the Arrow batch."""
    out = np.zeros(len(lon), dtype=bool)
    lon_v = lon.to_numpy(np.float64)
    lat_v = lat.to_numpy(np.float64)
    groups: dict[bytes, list[int]] = {}
    for i, blob in enumerate(geom.to_numpy(object)):
        if blob is not None:
            groups.setdefault(bytes(blob), []).append(i)
    for blob, idxs in groups.items():
        g = W.decode_wkb(blob)
        ix = np.asarray(idxs)
        out[ix] = G.points_in_polygon(lon_v[ix], lat_v[ix], g)
    return pd.Series(out, index=lon.index)


def _pair_predicate(condition: str):
    """Boolean predicate fn(ga, gb) for decoded geometry tuples —
    the full reference condition family (``vector/manager.py:196``:
    intersects/within/contains/covers/crosses/touches/equals via
    shapely; here via :mod:`geometry.core`)."""
    if condition == "intersects":
        return G.geoms_intersect
    if condition == "within":
        # shapely within: a ⊆ closure(b) AND interiors intersect
        return lambda ga, gb: G.geom_within_covers(ga, gb, require_interior=True)
    if condition == "contains":
        return lambda ga, gb: G.geom_within_covers(gb, ga, require_interior=True)
    if condition == "covers":
        # covers admits boundary-only containment (no interior demand)
        return lambda ga, gb: G.geom_within_covers(gb, ga, require_interior=False)
    if condition == "coveredby":
        return lambda ga, gb: G.geom_within_covers(ga, gb, require_interior=False)
    if condition == "crosses":
        return G.geom_crosses
    if condition == "touches":
        return G.geom_touches
    if condition == "equals":
        return _geom_equals
    raise ValueError(f"unsupported condition {condition!r}")


def _make_pair_refiner(condition: str):
    """General geometry-pair refine for WKB-vs-WKB candidates.

    Vectorization mirrors ``_refine_pip``: pairs are grouped by the
    (usually low-cardinality) right geometry so each distinct build
    geometry is decoded once per Arrow batch; a vectorized bbox
    pre-reject then culls most pairs before the per-pair exact test."""
    pred = _pair_predicate(condition)

    def refine(la: pd.Series, lb: pd.Series) -> pd.Series:
        out = np.zeros(len(la), dtype=bool)
        av = la.to_numpy(object)
        bv = lb.to_numpy(object)
        cache_a: dict[bytes, object] = {}
        groups: dict[bytes, list[int]] = {}
        for i, blob in enumerate(bv):
            if blob is not None and av[i] is not None:
                groups.setdefault(bytes(blob), []).append(i)
        for blob, idxs in groups.items():
            gb = W.decode_wkb(blob)
            for i in idxs:
                ab = bytes(av[i])
                ga = cache_a.get(ab)
                if ga is None:
                    ga = W.decode_wkb(ab)
                    cache_a[ab] = ga
                out[i] = pred(ga, gb)
        return pd.Series(out, index=la.index)

    return F.pandas_udf(refine, T.BooleanType())


def _make_pair_clipper(clip: str = "intersection"):
    """Per-pair geometry clip for matched candidates — the reference's
    ``clip=`` spatial-join modes (``vector/manager.py:208-266``):
    'intersection' (output coerced to the pair's lowest dimension),
    'union' (highest dimension), 'difference' (left type). Convex
    intersection windows take the Sutherland–Hodgman fast path; every
    other case routes to the general boolean engine
    (``geometry/boolean.clip_pair``). Returns NULL for empty results —
    and, mirroring the reference's shapely TopologicalError→null
    fallback (``manager.py:250-253``), a pair whose boolean op fails on
    degenerate geometry warns and yields NULL rather than failing the
    job."""
    if clip not in ("intersection", "union", "difference"):
        raise NotImplementedError(
            "clip must be 'intersection', 'union' or 'difference'"
        )
    import warnings

    from pythongis_spark.geometry import boolean as BO

    def clipper(la: pd.Series, lb: pd.Series) -> pd.Series:
        out: list[bytes | None] = []
        cache_b: dict[bytes, object] = {}
        for ab, bb in zip(la.to_numpy(object), lb.to_numpy(object)):
            if ab is None or bb is None:
                out.append(None)
                continue
            key = bytes(bb)
            gb = cache_b.get(key)
            if gb is None:
                gb = W.decode_wkb(key)
                cache_b[key] = gb
            ga = W.decode_wkb(bytes(ab))
            try:
                if clip == "intersection":
                    try:
                        res = G.geom_intersection_convex(ga, gb)
                    except NotImplementedError:
                        res = BO.clip_pair(ga, gb, "intersection")
                else:
                    res = BO.clip_pair(ga, gb, clip)
            except (ValueError, ArithmeticError) as exc:
                # the reference's TopologicalError→null fallback
                # (manager.py:250-253) — scoped to the degeneracy errors
                # the arrangement engine raises on invalid geometry, so
                # genuine engine bugs (IndexError/TypeError/...) still
                # fail the job instead of shipping silent NULLs
                warnings.warn(f"clip {clip} failed ({exc}); null-geometry")
                res = None
            out.append(None if res is None else W.encode_wkb(res))
        return pd.Series(out, index=la.index)

    return F.pandas_udf(clipper, T.BinaryType())


def _geom_equals(ga, gb) -> bool:
    """Topological equality (shapely ``equals``, reference
    ``manager.py:196``): identical coordinate arrays fast-path, else
    mutual covers — so the same polygon ringed from a different start
    vertex (or MultiPolygon parts in another order) still matches."""
    ca, cb = W.all_coords(ga), W.all_coords(gb)
    if ca.shape == cb.shape and bool((ca == cb).all()) and ga[0] == gb[0]:
        return True
    return (G.geom_within_covers(ga, gb, require_interior=False)
            and G.geom_within_covers(gb, ga, require_interior=False))


# ------------------------------------------------------------------
# planning helpers
# ------------------------------------------------------------------

def _prefix(df: DataFrame, prefix: str, exclude=()) -> DataFrame:
    return df.withColumnsRenamed({c: prefix + c for c in df.columns if c not in exclude})


class _Profile(NamedTuple):
    """Plan-time facts of one layer."""

    z: int  # index level, as IU.pick_level picks it
    giants: tuple[bool, ...]  # per level: some feature covers > cell_cap cells
    cells: tuple[int, ...]  # per level: cells of the features within cell_cap
    all_rect: bool  # every geometry is exactly its own bbox


def _profile(df: DataFrame, geom_col: str, cell_cap: int) -> _Profile:
    """Every planning fact of a layer from ONE aggregate job, memoized
    per semantic plan: repeated joins against the same dimension table
    (the common pattern) re-plan with no job. Each feature is repeated
    once per level and grouped by level, so one cell-count expression
    serves every level; the per-level cell totals are exactly the row
    counts of the build-side explode, so sizing it needs no explode.
    The rectangle flag is one decode pass, made before the per-level
    repeat. If the files under a
    dimension change mid-session, plan_cache.clear() drops the stale
    facts."""
    from pythongis_spark.geometry.udfs import st_is_bbox_rect

    def make() -> _Profile:
        level = F.col("_level")
        n = IU.bbox_cell_count_expr(level)
        first = level == 0  # one copy of each feature
        by_level = {
            r["_level"]: r.asDict()
            for r in df.select(
                *IU.BBOX_COLS, st_is_bbox_rect(F.col(geom_col)).alias("_rect")
            )
            .withColumn("_level", F.explode(F.sequence(F.lit(0), F.lit(Q.MAX_LEVEL))))
            .groupBy("_level")
            .agg(
                F.max(n).alias("max"),
                F.sum(F.when(n <= cell_cap, n)).alias("cells"),
                *IU.level_stats(first),
                F.bool_and(F.when(first, F.col("_rect"))).alias("rect"),
            )
            .collect()
        }
        # an empty layer has no groups: no giants, no cells, all rects
        levels = [by_level.get(z, {}) for z in range(Q.MAX_LEVEL + 1)]
        top = levels[0]
        return _Profile(
            IU.level_of(top.get("level_w"), top.get("level_h")),
            tuple((r.get("max") or 0) > cell_cap for r in levels),
            tuple(r.get("cells") or 0 for r in levels),
            top.get("rect") is not False,
        )

    return plan_cache.memo(df, ("profile", geom_col, cell_cap), make)


def _salt_plan(probe: DataFrame, build_cells: DataFrame, probe_key: Column,
               salt_threshold: int, max_salt: int):
    """Explicit hot-cell salting: histogram probe cells, replicate build
    rows of hot cells × S, scatter probe rows deterministically.

    Returns (salted_probe, salted_build, join_cols). Deterministic: salt =
    pmod(xxhash64(probe key), S) — identical output set at any parallelism.
    """
    hot = (
        probe.groupBy("cell")
        .count()
        .filter(F.col("count") > salt_threshold)
        .select(
            "cell",
            F.least(
                F.lit(max_salt),
                F.ceil(F.col("count") / salt_threshold).cast("int"),
            ).alias("nsalt"),
        )
    )
    probe_s = (
        probe.join(F.broadcast(hot), "cell", "left")
        .withColumn(
            "salt",
            F.when(
                F.col("nsalt").isNull(), F.lit(0)
            ).otherwise(F.pmod(F.xxhash64(probe_key), F.col("nsalt")).cast("int")),
        )
        .drop("nsalt")
    )
    build_s = (
        build_cells.join(F.broadcast(hot), "cell", "left")
        .withColumn(
            "salt",
            F.explode(
                F.sequence(F.lit(0), F.coalesce(F.col("nsalt"), F.lit(1)) - 1)
            ),
        )
        .drop("nsalt")
    )
    return probe_s, build_s, ["cell", "salt"]


# ------------------------------------------------------------------
# operators
# ------------------------------------------------------------------

def point_in_polygon_join(
    points: DataFrame,
    polygons: DataFrame,
    *,
    lon: str = "lon",
    lat: str = "lat",
    polygon_geom: str = "geom",
    point_id: str | None = None,
    keepall: bool = False,
    subkey: tuple[str, str] | None = None,
    z: int | None = None,
    broadcast_rows: int = DEFAULT_BROADCAST_ROWS,
    salt_threshold: int = DEFAULT_SALT_THRESHOLD,
    max_salt: int = DEFAULT_MAX_SALT,
    how: str = "join",
    build_rows: int | None = None,
    rect_fast_path: bool = True,
) -> DataFrame:
    """Tag each point with every polygon containing it — the reference's
    intersects/within spatial join for the point-left case
    (``pythongis/vector/manager.py:381-431``).

    Output columns: all point columns + polygon columns (duplicate names
    dropped from the polygon side, mirroring ``vector/data.py:1040-1043``).
    ``how``: 'join' (pairs), 'semi' (points with ≥1 match), 'anti'
    (points with none — the reference's disjoint where,
    ``manager.py:138-155``).
    """
    if "bbox_xmin" not in polygons.columns:
        from pythongis_spark.geometry.udfs import with_bbox

        polygons = with_bbox(polygons, polygon_geom)
    prof = _profile(polygons, polygon_geom, DEFAULT_CELL_CAP)
    if z is None:
        z = prof.z

    pid = point_id or points.columns[0]
    bbox_cols = ["bbox_xmin", "bbox_ymin", "bbox_xmax", "bbox_ymax"]
    # giant-polygon split: features covering > cell_cap cells go to a
    # broadcast nested-loop bbox path instead of the cell explode (one
    # continental polygon would otherwise expand to up to 4^z rows —
    # OOM + skew). The leg exists only when the profile saw a giant:
    # otherwise it would re-scan the probe table for nothing.
    has_giants = prof.giants[z]
    polys_n = polygons
    if has_giants:
        cnt = IU.bbox_cell_count_expr(z)
        polys_g = polygons.filter(cnt > DEFAULT_CELL_CAP)
        polys_n = polygons.filter(cnt <= DEFAULT_CELL_CAP)

    def build() -> DataFrame:
        # polygons exploded to covering cells; a warm plan never builds it
        return _prefix(IU.explode_bbox_cells(polys_n, z), "r_", exclude=["cell"])

    # probe side: single cell per point (pure Catalyst)
    # null coordinates never match (reference skips null geometry,
    # manager.py:393-398); keepall re-adds them via the outer join below
    probe = points.filter(F.col(lon).isNotNull() & F.col(lat).isNotNull())
    probe = probe.withColumn("cell", IU.point_cell_expr(F.col(lon), F.col(lat), z))

    # planning statistic: the profile's closed-form cell total, unless
    # the caller forces a path with an explicit hint
    build_count = prof.cells[z] if build_rows is None else build_rows
    if build_count <= broadcast_rows:
        # persisted: the explode runs once per dimension (broadcast path
        # only; a shuffled build side may be large)
        cached = plan_cache.memo(polygons, ("build", z, DEFAULT_CELL_CAP), build)
        cand = probe.join(F.broadcast(cached), "cell", "inner")
    else:
        probe_s, build_s, keys = _salt_plan(
            probe, build(), F.col(pid), salt_threshold, max_salt
        )
        cand = probe_s.join(build_s, keys, "inner").drop("salt")
    cand = cand.drop("cell")
    pt_in_bbox = (
        (F.col(lon) >= F.col("r_bbox_xmin"))
        & (F.col(lon) <= F.col("r_bbox_xmax"))
        & (F.col(lat) >= F.col("r_bbox_ymin"))
        & (F.col(lat) <= F.col("r_bbox_ymax"))
    )
    if has_giants:
        nl = probe.drop("cell").join(
            F.broadcast(_prefix(polys_g, "r_")), pt_in_bbox, "inner"
        )
        cand = cand.unionByName(nl)

    if subkey is not None:
        lcol, rcol = subkey
        cand = cand.filter(F.col(lcol) == F.col("r_" + rcol))

    # rectangle fast path: when EVERY build polygon is exactly its own
    # bbox (gridded zone/tile dimensions — the profile's flag), the
    # ray-cast parity reduces to the HALF-OPEN box test
    # x0 <= px < x1 AND y0 <= py < y1 (horizontal edges never cross a
    # horizontal ray; left/right edges give odd parity exactly in that
    # range), so a pure-codegen predicate replaces the Arrow refine —
    # bit-identical results, no Python in the plan.
    if rect_fast_path and prof.all_rect:
        matched = cand.filter(
            (F.col(lon) >= F.col("r_bbox_xmin"))
            & (F.col(lon) < F.col("r_bbox_xmax"))
            & (F.col(lat) >= F.col("r_bbox_ymin"))
            & (F.col(lat) < F.col("r_bbox_ymax"))
        )
    else:
        # codegen point-in-bbox prefilter: a point in a covering cell can
        # still fall outside the polygon bbox — cull it before Python
        matched = cand.filter(pt_in_bbox).filter(
            _refine_pip(F.col(lon), F.col(lat), F.col("r_" + polygon_geom))
        )

    if how == "semi":
        return points.join(
            matched.select(F.col(pid)).distinct(), pid, "left_semi"
        )
    if how == "anti":
        return points.join(
            matched.select(F.col(pid)).distinct(), pid, "left_anti"
        )

    # assemble output: drop internal columns; dedupe column names
    drop_cols = ["cell"] + ["r_" + polygon_geom] + [f"r_{c}" for c in bbox_cols]
    out = matched.drop(*[c for c in drop_cols if c in matched.columns])
    # strip r_ prefix unless it collides with a point column
    for c in out.columns:
        if c.startswith("r_"):
            bare = c[2:]
            if bare not in points.columns:
                out = out.withColumnRenamed(c, bare)
            else:
                out = out.drop(c)  # duplicate right fields dropped (data.py:1040)
    if keepall:
        # left-outer null-pad: points with no match (manager.py:425-429)
        right_cols = [c for c in out.columns if c not in points.columns]
        return points.join(
            out.select([pid] + right_cols), pid, "left"
        )
    return out


def _bbox_overlap_cond(lp: str = "l_", rp: str = "r_") -> Column:
    """Codegen bbox-intersects condition — culls candidate pairs JVM-side
    before any Python refine."""
    return (
        (F.col(lp + "bbox_xmin") <= F.col(rp + "bbox_xmax"))
        & (F.col(rp + "bbox_xmin") <= F.col(lp + "bbox_xmax"))
        & (F.col(lp + "bbox_ymin") <= F.col(rp + "bbox_ymax"))
        & (F.col(rp + "bbox_ymin") <= F.col(lp + "bbox_ymax"))
    )


def spatial_join(
    left: DataFrame,
    right: DataFrame,
    condition: str = "intersects",
    *,
    left_geom: str = "geom",
    right_geom: str = "geom",
    left_id: str | None = None,
    keepall: bool = False,
    clip: str | None = None,
    z: int | None = None,
    broadcast_rows: int = DEFAULT_BROADCAST_ROWS,
    salt_threshold: int = DEFAULT_SALT_THRESHOLD,
    max_salt: int = DEFAULT_MAX_SALT,
    build_rows: int | None = None,
    cell_cap: int = DEFAULT_CELL_CAP,
    rect_fast_path: bool = True,
) -> DataFrame:
    """General WKB-vs-WKB spatial join (predicate family of
    ``pythongis/vector/manager.py:196,381-431``): intersects, within,
    contains, covers, coveredby, crosses, touches, equals.

    Physical plan (same skeleton as ``point_in_polygon_join``):

    * both sides explode to covering cells; duplicate candidate pairs
      are eliminated shuffle-free by the reference-point rule (a pair
      is emitted only in the cell containing the SW corner of the bbox
      intersection);
    * right side broadcast when its profile's cell total is small
      (a ``build_rows`` hint forces the path), else shuffled with
      explicit hot-cell salting;
    * features covering > ``cell_cap`` cells are split off to a
      broadcast nested-loop bbox join (they are few by definition, and
      exploding them would OOM one task);
    * a codegen bbox-overlap filter culls pairs before the Arrow refine
      (decode-once per distinct right geometry).

    ``clip='intersection'|'union'|'difference'`` adds a ``clip_geom``
    WKB column with the pairwise set-op result, dimension-coerced per
    the reference (``manager.py:208-266``: intersection→lowest dim,
    union→highest, difference→left type; failed ops → NULL geometry).
    """
    from pythongis_spark.geometry.udfs import with_bbox

    if "bbox_xmin" not in left.columns:
        left = with_bbox(left, left_geom)
    if "bbox_xmin" not in right.columns:
        right = with_bbox(right, right_geom)
    lprof = _profile(left, left_geom, cell_cap)
    rprof = _profile(right, right_geom, cell_cap)
    if z is None:
        z = min(lprof.z, rprof.z)

    lid = left_id or left.columns[0]
    bbox_cols = ("bbox_xmin", "bbox_ymin", "bbox_xmax", "bbox_ymax")

    # giant-feature split (either side): cells-covered is pure Catalyst;
    # when a side's profile saw no giant, its nested-loop leg (and the
    # extra full-table scan it would imply) is skipped entirely.
    has_lg, has_rg = lprof.giants[z], rprof.giants[z]
    left_n, right_n = left, right
    if has_lg or has_rg:
        cnt = IU.bbox_cell_count_expr(z)
        left_g, right_g = left.filter(cnt > cell_cap), right.filter(cnt > cell_cap)
        left_n = left.filter(cnt <= cell_cap) if has_lg else left
        right_n = right.filter(cnt <= cell_cap) if has_rg else right

    lxall = _prefix(left, "l_")
    lx = IU.explode_bbox_cells(left_n, z)
    lx = _prefix(lx, "l_", exclude=["cell"])

    def rx() -> DataFrame:
        # a warm plan never builds the right side's cells
        return _prefix(IU.explode_bbox_cells(right_n, z), "r_", exclude=["cell"])

    build_count = rprof.cells[z] if build_rows is None else build_rows
    if build_count <= broadcast_rows:
        cached = plan_cache.memo(right, ("build", z, cell_cap), rx)
        cand = lx.join(F.broadcast(cached), "cell", "inner")
    else:
        probe_s, build_s, keys = _salt_plan(
            lx, rx(), F.col("l_" + lid), salt_threshold, max_salt
        )
        cand = probe_s.join(build_s, keys, "inner").drop("salt")

    # reference-point dedup: emit only in the cell of the SW corner of the
    # bbox intersection (guaranteed to be a shared covering cell)
    ref_x = F.greatest("l_bbox_xmin", "r_bbox_xmin")
    ref_y = F.greatest("l_bbox_ymin", "r_bbox_ymin")
    cand = cand.filter(F.col("cell") == IU.point_cell_expr(ref_x, ref_y, z)).drop("cell")

    # nested-loop paths for giant features (broadcast the small giant set;
    # Spark plans the bbox theta-join as BroadcastNestedLoopJoin)
    if has_rg:
        nl = lxall.join(
            F.broadcast(_prefix(right_g, "r_")), _bbox_overlap_cond(), "inner"
        )
        cand = cand.unionByName(nl)
    if has_lg:
        # giant-left × normal-right (giant×giant pairs are in `nl` when
        # both exist); the giant side is the broadcast side in both legs
        nl2 = F.broadcast(_prefix(left_g, "l_")).join(
            _prefix(right_n, "r_"), _bbox_overlap_cond(), "inner"
        )
        cand = cand.unionByName(nl2)

    # codegen bbox prefilter before any Python
    cand = cand.filter(_bbox_overlap_cond())

    # rectangle fast path: over two all-rectangle sides the closed bbox
    # relations ARE the exact predicates — overlap for 'intersects'
    # (axis-aligned rects intersect iff their boxes do, edge- and
    # corner-touch included) and containment for within/coveredby/
    # contains/covers (a proper rect's 2D interior forces the interior
    # demand automatically) — parity with the geometric predicates
    # verified per case in test_spatial_join, so the Arrow pair refine
    # is skipped and the plan stays whole-stage codegen.
    def _bbox_contained(inner: str, outer: str) -> Column:
        return (
            (F.col(inner + "bbox_xmin") >= F.col(outer + "bbox_xmin"))
            & (F.col(inner + "bbox_xmax") <= F.col(outer + "bbox_xmax"))
            & (F.col(inner + "bbox_ymin") >= F.col(outer + "bbox_ymin"))
            & (F.col(inner + "bbox_ymax") <= F.col(outer + "bbox_ymax"))
        )

    _RECT_EXACT = (
        "intersects", "within", "coveredby", "contains", "covers", "touches",
        "crosses",
    )
    if (
        rect_fast_path
        and condition in _RECT_EXACT
        and lprof.all_rect
        and rprof.all_rect
    ):
        if condition == "intersects":
            matched = cand  # bbox prefilter above is already exact
        elif condition in ("within", "coveredby"):
            matched = cand.filter(_bbox_contained("l_", "r_"))
        elif condition == "touches":
            # boundaries meet, interiors don't: closed overlap (already
            # enforced by the prefilter) minus OPEN overlap
            matched = cand.filter(
                ~(
                    (F.col("l_bbox_xmin") < F.col("r_bbox_xmax"))
                    & (F.col("r_bbox_xmin") < F.col("l_bbox_xmax"))
                    & (F.col("l_bbox_ymin") < F.col("r_bbox_ymax"))
                    & (F.col("r_bbox_ymin") < F.col("l_bbox_ymax"))
                )
            )
        elif condition == "crosses":
            # area x area never crosses (shapely: dim(intersection) must
            # be lower than both operands') — statically empty
            matched = cand.filter(F.lit(False))
        else:  # contains / covers
            matched = cand.filter(_bbox_contained("r_", "l_"))
    else:
        refiner = _make_pair_refiner(condition)
        matched = cand.filter(
            refiner(F.col("l_" + left_geom), F.col("r_" + right_geom))
        )

    if clip is not None:
        clipper = _make_pair_clipper(clip)
        matched = matched.withColumn(
            "clip_geom", clipper(F.col("l_" + left_geom), F.col("r_" + right_geom))
        )

    internal = [p + c for p in ("l_", "r_") for c in bbox_cols]
    out = matched.drop(*[c for c in internal if c in matched.columns])
    out = out.drop("r_" + right_geom)
    for c in out.columns:
        if c.startswith("l_"):
            out = out.withColumnRenamed(c, c[2:])
    for c in out.columns:
        if c.startswith("r_"):
            bare = c[2:]
            if bare not in left.columns and bare != "clip_geom":
                out = out.withColumnRenamed(c, bare)
            else:
                out = out.drop(c)
    if keepall:
        right_cols = [c for c in out.columns if c not in left.columns]
        base = left.drop(*[c for c in bbox_cols if c in left.columns])
        return base.join(out.select([lid] + right_cols), lid, "left")
    return out


def spatial_semi_join(points: DataFrame, polygons: DataFrame, **kw) -> DataFrame:
    """Keep points matching ≥1 polygon (``pythongis/vector/manager.py:81``)."""
    return point_in_polygon_join(points, polygons, how="semi", **kw)


def spatial_anti_join(points: DataFrame, polygons: DataFrame, **kw) -> DataFrame:
    """Keep points disjoint from all polygons (``manager.py:138-155``)."""
    return point_in_polygon_join(points, polygons, how="anti", **kw)
