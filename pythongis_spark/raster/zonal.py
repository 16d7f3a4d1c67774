"""Raster ↔ vector operators: rasterize, zonal statistics, vectorize,
clip, IDW interpolation, kernel smoothing, dasymetric disperse.

The flagship rewrite here is zonal statistics: the reference iterates
every unique zone over the full raster — O(zones × pixels)
(``pythongis/raster/analyzer.py:16-88``); ours covers the zones once as
grid-row runs, joins the value cells to the broadcast runs and
aggregates in ONE shuffle — O(pixels + runs) (SURVEY.md §3 entry
point 4).
"""

from __future__ import annotations

from decimal import Decimal as _Decimal

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from pythongis_spark.geometry import core as G
from pythongis_spark.geometry import wkb as W
from pythongis_spark.raster.algebra import STATS_EXPRS, band_stats
from pythongis_spark.raster.model import RasterDef, geo_to_cell_exprs, in_grid


def _cover_fraction(g, rd: RasterDef, x: int, y: int) -> float:
    """Fraction of cell (x, y)'s rectangle covered by polygon ``g``
    (rect clip area / cell area) — the ``partial`` border weight
    (``pythongis/raster/manager.py:958-962``)."""
    xmin = rd.xoffset + x * rd.xscale
    xmax = rd.xoffset + (x + 1) * rd.xscale
    ya = rd.yoffset + y * rd.yscale
    yb = rd.yoffset + (y + 1) * rd.yscale
    xmin, xmax = min(xmin, xmax), max(xmin, xmax)
    ymin, ymax = min(ya, yb), max(ya, yb)
    cell_area = (xmax - xmin) * (ymax - ymin)
    covered = 0.0
    for rings in W.iter_polygons(g):
        ext = G.clip_ring_to_rect(rings[0], xmin, ymin, xmax, ymax)
        if ext is None:
            continue
        part = abs(G.ring_signed_area(ext))
        for h in rings[1:]:
            hc = G.clip_ring_to_rect(h, xmin, ymin, xmax, ymax)
            if hc is not None:
                part -= abs(G.ring_signed_area(hc))
        covered += max(0.0, part)
    return min(1.0, covered / cell_area) if cell_area > 0 else 0.0


def _grid_bbox(g, rd: RasterDef):
    """Clamped cell-index bbox (x0, x1, y0, y1) of a geometry, or None
    when it misses the grid."""
    coords = W.all_coords(g)
    xmin, ymin = coords[:, 0].min(), coords[:, 1].min()
    xmax, ymax = coords[:, 0].max(), coords[:, 1].max()
    # a negative scale maps the max coordinate to the smaller index
    xa = int(np.floor((xmin - rd.xoffset) / rd.xscale))
    xb = int(np.floor((xmax - rd.xoffset) / rd.xscale))
    x0, x1 = max(0, min(xa, xb)), min(rd.width - 1, max(xa, xb))
    ya = int(np.floor((ymax - rd.yoffset) / rd.yscale))
    yb = int(np.floor((ymin - rd.yoffset) / rd.yscale))
    y0, y1 = max(0, min(ya, yb)), min(rd.height - 1, max(ya, yb))
    if x1 < x0 or y1 < y0:
        return None
    return x0, x1, y0, y1


# element budget of one (rows × edges) crossing matrix, one (rows ×
# columns) partial-cover mask or one block of line-distance cell centres,
# so no feature allocates more than that at once, whatever its size
_SCAN_BLOCK_ELEMS = 1 << 18


def _mask_runs(mask: np.ndarray):
    """Runs of True along the rows of a 2-D mask: (row, first column,
    end column) arrays, end exclusive."""
    edge = np.diff(np.pad(mask.astype(np.int8), ((0, 0), (1, 1))), axis=1)
    rs, cs = np.nonzero(edge == 1)
    _, ce = np.nonzero(edge == -1)
    return rs, cs, ce


def _span_mask(shape, rows, starts, ends) -> np.ndarray:
    """(rows × columns) mask of the union of half-open column spans
    ``[starts, ends)`` on ``rows``."""
    d = np.zeros((shape[0], shape[1] + 1), np.int32)
    np.add.at(d, (rows, starts), 1)
    np.add.at(d, (rows, ends), -1)
    return np.cumsum(d[:, :-1], axis=1) > 0


def _polygon_intervals(g, gx: np.ndarray, gy: np.ndarray):
    """Scanline form of the even-odd centre rule (Raptor, VLDB 2019).

    For every row centre ``gy[r]`` the ring edges passing the half-open
    test of ``G.points_in_ring`` give crossings ``xint`` (same expression
    and operation order, so the same doubles); ``searchsorted(gx, xint,
    'left')`` counts the centres with ``gx < xint``. A centre is inside
    iff an odd number of crossings lie right of it, so the sorted cuts
    pair up as ``[c0, c1), [c2, c3), …`` — the parity of the summed
    crossings equals ``points_in_polygon``'s XOR over rings. ``gx`` must
    be ascending. Returns (row index, first column, end column) arrays
    with end exclusive and every interval non-empty."""
    rings = W.iter_rings(g)
    a = np.concatenate([r[:-1] for r in rings])
    b = np.concatenate([r[1:] for r in rings])
    ax0, ay0, ax1, ay1 = a[:, 0], a[:, 1], b[:, 0], b[:, 1]
    step = max(1, _SCAN_BLOCK_ELEMS // max(len(ax0), 1))
    rows, starts, ends = [], [], []
    for r0 in range(0, len(gy), step):
        pyc = gy[r0 : r0 + step, None]
        ri, ei = np.nonzero((ay0 > pyc) != (ay1 > pyc))
        py = pyc[ri, 0]
        e0, e1 = ay0[ei], ay1[ei]
        xint = ax0[ei] + (py - e0) / (e1 - e0) * (ax1[ei] - ax0[ei])
        cut = np.searchsorted(gx, xint, "left")
        # an unclosed ring can leave a row with an odd count: centres
        # left of every crossing are then inside, i.e. a cut at 0
        odd = np.flatnonzero(np.bincount(ri, minlength=len(pyc)) % 2)
        ri = np.concatenate([ri, odd])
        cut = np.concatenate([cut, np.zeros(len(odd), cut.dtype)])
        order = np.lexsort((cut, ri))
        pairs = cut[order].reshape(-1, 2)
        keep = pairs[:, 1] > pairs[:, 0]
        rows.append(r0 + ri[order][0::2][keep])
        starts.append(pairs[keep, 0])
        ends.append(pairs[keep, 1])
    return np.concatenate(rows), np.concatenate(starts), np.concatenate(ends)


def _line_intervals(g, rd: RasterDef, gx: np.ndarray, gy: np.ndarray):
    """Cells whose centre lies within half a cell width of a line, as
    run-length (row, first column, end column) arrays, end exclusive —
    evaluated over blocks of rows under ``_SCAN_BLOCK_ELEMS``."""
    nx = len(gx)
    step = max(1, _SCAN_BLOCK_ELEMS // nx)
    rows, starts, ends = [], [], []
    for r0 in range(0, len(gy), step):
        my, mx = np.meshgrid(gy[r0 : r0 + step], gx, indexing="ij")
        d = G.points_to_geom_dist(mx.ravel(), my.ravel(), g)
        rs, cs, ce = _mask_runs((d <= 0.5 * abs(rd.xscale)).reshape(mx.shape))
        rows.append(r0 + rs)
        starts.append(cs)
        ends.append(ce)
    return np.concatenate(rows), np.concatenate(starts), np.concatenate(ends)


def _cover_intervals(g, rd: RasterDef):
    """Covered cells of one decoded geometry as grid-row x-intervals:
    (y, x0, x1) int arrays, one run per grid row a feature covers
    contiguously, x1 inclusive.

    Cover rule: a cell is covered iff its *center* is inside the polygon
    (or it contains the point / a line passes within half a cell) —
    matching the practical effect of the reference's PIL paint fill
    (``pythongis/raster/manager.py:815-869``); exact PIL scanline parity
    is not reproduced (documented divergence). Polygons are scanned row
    by row (``_polygon_intervals``), so per-feature output is
    O(rows crossed), not O(cells), and no giant-feature window split is
    needed. Each point yields one single-cell run; duplicates stay."""
    if g[0] in ("Point", "MultiPoint"):
        coords = W.all_coords(g)
        cx = np.floor((coords[:, 0] - rd.xoffset) / rd.xscale).astype(int)
        cy = np.floor((coords[:, 1] - rd.yoffset) / rd.yscale).astype(int)
        keep = (cx >= 0) & (cx < rd.width) & (cy >= 0) & (cy < rd.height)
        return cy[keep], cx[keep], cx[keep]
    bb = _grid_bbox(g, rd)
    if bb is None:
        empty = np.zeros(0, dtype=int)
        return empty, empty, empty
    x0, x1, y0, y1 = bb
    gx = rd.xoffset + (np.arange(x0, x1 + 1) + 0.5) * rd.xscale
    gy = rd.yoffset + (np.arange(y0, y1 + 1) + 0.5) * rd.yscale
    if g[0] not in ("Polygon", "MultiPolygon"):
        r, s, e = _line_intervals(g, rd, gx, gy)
        return y0 + r, x0 + s, x0 + e - 1
    if rd.xscale > 0:
        r, s, e = _polygon_intervals(g, gx, gy)
        return y0 + r, x0 + s, x0 + e - 1
    # descending centres: scan the reversed row, then map the column
    # range [s, e) of the reversal back to [x1 - e + 1, x1 - s]
    r, s, e = _polygon_intervals(g, gx[::-1], gy)
    return y0 + r, x1 - e + 1, x1 - s


def _partial_intervals(g, rd: RasterDef):
    """``partial`` cover of one decoded polygon as grid-row runs
    ``(y, x0, x1, w)`` arrays, x1 inclusive (Raster Intervals, SIGMOD
    2023). The cover set is every cell with fraction > 0 (the reference
    burns feature outlines to find border cells, ``manager.py:915-921``).

    Border cells are the columns each ring edge's x-extent reaches inside
    a row strip: one-cell runs weighted by ``_cover_fraction`` on the
    whole geometry (zero-weight ones dropped). No edge enters the cells
    between them, so each of those is wholly inside or wholly outside
    every part: the ones whose centre is inside some part (that part's
    own even-odd parity, as ``_cover_fraction`` sums parts) form runs of
    weight exactly 1.0, and the rest (outside, or inside a hole) are
    dropped — where the per-cell clip reads 1 or 0 only up to rounding.
    A column index that rounding shifts misses a cell by less than an
    ulp, so that cell, too, is whole up to rounding; the border is not
    widened, which would bring the rounding back on its neighbours.
    Rings are closed first, as ``G.clip_ring_to_rect`` closes them."""
    if g[0] not in ("Polygon", "MultiPolygon"):
        raise ValueError("partial rasterize needs polygonal features")
    bb = _grid_bbox(g, rd)
    if bb is None:
        empty = np.zeros(0, dtype=int)
        return empty, empty, empty, np.zeros(0)
    x0, x1, y0, y1 = bb
    parts = [
        ("Polygon", [r if np.array_equal(r[0], r[-1]) else np.vstack([r, r[:1]])
                     for r in rings])
        for rings in W.iter_polygons(g)
    ]
    rings = [r for _, part in parts for r in part]
    a = np.concatenate([r[:-1] for r in rings])
    b = np.concatenate([r[1:] for r in rings])
    ax, ay, bx, by = a[:, 0], a[:, 1], b[:, 0], b[:, 1]
    ey0, ey1, dy = np.minimum(ay, by), np.maximum(ay, by), by - ay
    ncol = x1 - x0 + 1
    gx = rd.xoffset + (np.arange(x0, x1 + 1) + 0.5) * rd.xscale
    ys = np.arange(y0, y1 + 1)
    gy = rd.yoffset + (ys + 0.5) * rd.yscale
    # row strips, from the same expressions as _cover_fraction's cell rects
    ya, yb = rd.yoffset + ys * rd.yscale, rd.yoffset + (ys + 1) * rd.yscale
    lo, hi = np.minimum(ya, yb), np.maximum(ya, yb)
    step = max(1, _SCAN_BLOCK_ELEMS // max(len(ax), ncol))
    out = []
    for r0 in range(0, len(ys), step):
        n = len(lo[r0 : r0 + step])
        ri, ei = np.nonzero((ey0 <= hi[r0 : r0 + step, None])
                            & (ey1 >= lo[r0 : r0 + step, None]))
        # the edge's parameter range inside the strip (a horizontal edge
        # lies in it whole), then its columns there
        flat = dy[ei] == 0
        with np.errstate(divide="ignore", invalid="ignore"):
            ta = np.where(flat, 0.0, np.clip((lo[r0 + ri] - ay[ei]) / dy[ei], 0.0, 1.0))
            tb = np.where(flat, 1.0, np.clip((hi[r0 + ri] - ay[ei]) / dy[ei], 0.0, 1.0))
        ca = np.floor((ax[ei] + ta * (bx[ei] - ax[ei]) - rd.xoffset) / rd.xscale)
        cb = np.floor((ax[ei] + tb * (bx[ei] - ax[ei]) - rd.xoffset) / rd.xscale)
        c0 = (np.maximum(np.minimum(ca, cb), x0) - x0).astype(int)
        c1 = (np.minimum(np.maximum(ca, cb), x1) - x0).astype(int)
        k = c0 <= c1
        border = _span_mask((n, ncol), ri[k], c0[k], c1[k] + 1)
        spans = [_polygon_intervals(p, gx if rd.xscale > 0 else gx[::-1],
                                    gy[r0 : r0 + step]) for p in parts]
        r, s, e = (np.concatenate(c) for c in zip(*spans))
        if rd.xscale < 0:
            # spans of the reversed row map back to [ncol - e, ncol - s)
            s, e = ncol - e, ncol - s
        rs, cs, ce = _mask_runs(_span_mask((n, ncol), r, s, e) & ~border)
        out.append((r0 + rs, cs, ce - 1, np.ones(len(rs))))
        br, bc = np.nonzero(border)
        w = np.array([_cover_fraction(g, rd, x0 + j, y0 + r0 + i)
                      for i, j in zip(br.tolist(), bc.tolist())])
        pos = w > 0.0
        out.append((r0 + br[pos], bc[pos], bc[pos], w[pos]))
    y, s, e, w = (np.concatenate(c) for c in zip(*out))
    return y0 + y, x0 + s, x0 + e, w


def _cover_udf(rd: RasterDef, intervals, fields: str):
    """pandas UDF: geometry WKB → array of covered-cell runs, one struct
    of ``fields`` (a DDL list such as ``"y:int,x0:int,x1:int"``) per run
    that ``intervals(g, rd)`` returns as parallel arrays — the rows of
    ``cover_runs``."""
    names = [f.split(":")[0] for f in fields.split(",")]

    @F.pandas_udf(f"array<struct<{fields}>>")
    def cover(geom: pd.Series) -> pd.Series:
        out = []
        for blob in geom.to_numpy(object):
            if blob is None:
                out.append(None)
                continue
            runs = intervals(W.decode_wkb(bytes(blob)), rd)
            out.append([dict(zip(names, r)) for r in zip(*(a.tolist() for a in runs))])
        return pd.Series(out, index=geom.index)

    return cover


def cover_runs(vector: DataFrame, rd: RasterDef, geom: str = "geom",
               partial: bool = False) -> DataFrame:
    """Feature → covered grid-row runs: all of ``vector``'s columns
    (minus the geometry) plus ``y``, ``x0``, ``x1`` (x1 inclusive; and
    ``w`` when ``partial``), from one Python pass — the centre rule's
    ``_cover_intervals`` or ``partial``'s ``_partial_intervals``. Each
    run is at most one grid row of cells, so no feature is ever
    materialized as per-cell Python objects."""
    keep = [F.col(c) for c in vector.columns if c != geom]
    if partial:
        udf = _cover_udf(rd, _partial_intervals, "y:int,x0:int,x1:int,w:double")
    else:
        udf = _cover_udf(rd, _cover_intervals, "y:int,x0:int,x1:int")
    runs = vector.withColumn("_iv", F.explode(udf(F.col(geom))))
    return runs.select(*keep, "_iv.*")


def cover_cells(vector: DataFrame, rd: RasterDef, geom: str = "geom",
                partial: bool = False) -> DataFrame:
    """Feature → covered-cell rows: all of ``vector``'s columns (minus
    the geometry) plus ``x``, ``y`` (and ``w`` when ``partial``) — the
    front end of rasterize and disperse. ``cover_runs`` expanded by
    Catalyst with ``explode(sequence(x0, x1))``."""
    keep = [F.col(c) for c in vector.columns if c != geom]
    return cover_runs(vector, rd, geom, partial).select(
        *keep,
        F.explode(F.sequence(F.col("x0"), F.col("x1"))).alias("x"),
        F.col("y"),
        *([F.col("w")] if partial else []),
    )


def rasterize(
    vector: DataFrame,
    rd: RasterDef,
    valuekey: str | None = None,
    stat: str = "last",
    geom: str = "geom",
    order_col: str | None = None,
    priority_col: str | None = None,
    partial: bool = False,
) -> DataFrame:
    """Burn vector features into the grid
    (``pythongis/raster/manager.py:790-974``).

    Physical plan, for both cover rules: one ArrowEvalPython (the cover
    UDF: per-feature grid-row runs) → ``Generate explode(sequence(x0,
    x1))`` into cells in Catalyst → per-cell aggregate. ``stat='last'``
    reproduces the reference's paint
    order (last feature wins) using ``order_col`` as paint sequence;
    other stats (sum/mean/count/min/max/majority/minority) match the
    valuekey+stat mode (``manager.py:933-972``).

    ``priority_col``: where several features cover a cell, only rows
    with the cell's maximum priority survive to the stat (the
    declarative form of the reference's ``priority`` chooser callable,
    ``manager.py:952-955``). ``partial=True``: border cells weight each
    feature's value by the covered fraction of the cell
    (``manager.py:958-962``) and wholly covered cells by exactly 1.0; the
    cover set then includes every cell the feature touches, not just
    center-covered ones, and no cell wholly inside a hole.
    Returns a cell table (x, y, band=0, val).
    """
    val = F.col(valuekey) if valuekey else F.lit(1.0)
    extra = []
    if order_col:
        extra.append(F.col(order_col).alias("_ord"))
    if priority_col:
        extra.append(F.col(priority_col).alias("_pri"))
    if partial:
        cells = cover_cells(vector, rd, geom, partial=True).select(
            F.col("x"), F.col("y"),
            (val.cast("double") * F.col("w")).alias("val"),
            *extra,
        )
    else:
        cells = cover_cells(vector, rd, geom).select(
            F.col("x"), F.col("y"), val.cast("double").alias("val"), *extra
        )
    if priority_col:
        wp = Window.partitionBy("x", "y")
        cells = (
            cells.withColumn("_mxp", F.max("_pri").over(wp))
            .filter(F.col("_pri") == F.col("_mxp"))
            .drop("_pri", "_mxp")
        )
    if stat == "last" or stat == "first":
        order = F.col("_ord").desc() if stat == "last" else F.col("_ord").asc()
        if order_col is None:
            raise ValueError("paint-order rasterize needs order_col")
        w = Window.partitionBy("x", "y").orderBy(order)
        out = (
            cells.withColumn("_rk", F.row_number().over(w))
            .filter(F.col("_rk") == 1)
            .select("x", "y", "val")
        )
    elif stat in STATS_EXPRS:
        out = cells.groupBy("x", "y").agg(STATS_EXPRS[stat](F.col("val")).alias("val"))
    elif stat in ("majority", "minority"):
        counts = cells.groupBy("x", "y", "val").agg(F.count("*").alias("_n"))
        order = (
            [F.col("_n").desc(), F.col("val").asc()]
            if stat == "majority"
            else [F.col("_n").asc(), F.col("val").asc()]
        )
        w = Window.partitionBy("x", "y").orderBy(*order)
        out = (
            counts.withColumn("_rk", F.row_number().over(w))
            .filter(F.col("_rk") == 1)
            .select("x", "y", "val")
        )
    else:
        raise ValueError(f"unknown stat {stat!r}")
    return out.withColumn("band", F.lit(0).cast("int")).select("x", "y", "band", "val")


def zonal_statistics(
    zones: DataFrame,
    raster_cells: DataFrame,
    rd: RasterDef,
    zone_id: str = "zone_id",
    geom: str = "geom",
    stats: list[str] | None = None,
) -> DataFrame:
    """Per-zone stats of a value raster
    (``pythongis/raster/analyzer.py:16-88`` + ``Band.summarystats``
    ``raster/data.py:592-779``; nodata excluded): zone cover runs →
    broadcast join of the value cells on ``y`` with the residual
    ``x BETWEEN x0 AND x1`` → ONE groupBy(zone, band) (Raptor, VLDB
    2019: value rows joined to polygon row intervals, not to per-cell
    covers).

    A value cell meets each run that covers it once, so the join rows
    are exactly those of an (x, y) join on ``cover_cells`` — a point
    listed twice counts twice. The broadcast side holds one row per
    run, which grows with the grid rows a zone spans, not with its area,
    and planning runs no job."""
    runs = cover_runs(zones.select(zone_id, geom), rd, geom).withColumnsRenamed(
        {"y": "_zy", "x0": "_zx0", "x1": "_zx1"}
    )
    joined = raster_cells.join(
        F.broadcast(runs),
        (F.col("y") == F.col("_zy")) & F.col("x").between(F.col("_zx0"), F.col("_zx1")),
    )
    return band_stats(
        joined, stats or ["count", "sum", "mean", "min", "max"], by=[zone_id, "band"]
    )


def clip_raster(raster_cells: DataFrame, mask_cells: DataFrame) -> DataFrame:
    """Mask a raster by another's non-null cells
    (``pythongis/raster/manager.py:1417-1456``) — left_semi join."""
    mask = mask_cells.filter(F.col("val").isNotNull()).select("x", "y").distinct()
    return raster_cells.join(mask, ["x", "y"], "left_semi")


def vectorize_cells(raster_cells: DataFrame, rd: RasterDef, band: int = 0) -> DataFrame:
    """Grid → one feature per cell with col/row/x/y metadata — the
    per-cell mode of ``pythongis/raster/manager.py:1144-1167``. (The
    merged same-value union mode returns MultiPolygons of cell squares;
    exact boundary dissolve needs GEOS — divergence documented.)"""
    gx = rd.xoffset + (F.col("x") + 0.5) * rd.xscale
    gy = rd.yoffset + (F.col("y") + 0.5) * rd.yscale
    return (
        raster_cells.filter((F.col("band") == band) & F.col("val").isNotNull())
        .withColumn("lon", gx)
        .withColumn("lat", gy)
    )


def _duck_dec18_unscaled(x):
    """Replicate DuckDB's ``CAST(x AS DECIMAL(38,18))`` for a POSITIVE
    (or NULL) double column, returning the exact unscaled integer
    (= value·10¹⁸) as an exact decimal.

    DuckDB converts double→decimal on the *binary* value:
    ``rint(x·1e18 + 1e-9)`` (DoubleToDecimalCast nudge + the
    double→hugeint round-half-to-EVEN cast — ties are COMMON here, since
    at magnitudes in [2⁵¹,2⁵²) the double ulp is exactly 0.5), while
    Spark's CAST goes through the shortest decimal repr
    (``BigDecimal.valueOf``). The two differ in the last decimal digit
    for doubles with long binary tails (e.g. 1/d2 IDW weights), which
    surfaced as 1-ulp val drift in the r5 oracle gate. Probed against
    DuckDB 1.0 (20k random samples + per-term tie cases, bit-exact).

    Mechanics: ``m = x·1e18`` (same double multiply as DuckDB);
    ``z = F.bround(m + 1e-9, 0)`` — HALF_EVEN on the shortest repr is
    exact-nearest for non-halves (no integer+½ double can lie strictly
    between a double and its shortest repr) and half-even at exact
    halves, i.e. C ``rint``; then split the integer-valued double z
    (valid for z < 2⁹⁶) into two exact ≤2⁵²-bit limbs and rebuild the
    integer in decimal arithmetic, bypassing Spark's lossy
    double→decimal cast entirely.
    """
    m = x * F.lit(1.0e18)
    z = F.bround(m + F.lit(1.0e-9), 0)
    hi = F.floor(z / F.lit(4503599627370496.0))          # 2^52 → long
    lo = (z - hi.cast("double") * F.lit(4503599627370496.0)).cast("long")
    return (
        hi.cast("decimal(38,0)") * F.lit(_Decimal(2**52))
        + lo.cast("decimal(38,0)")
    ).cast("decimal(38,0)")


def _duck_dec18_sum_to_double(s):
    """Replicate DuckDB's ``CAST(decimal(38,18) AS DOUBLE)`` given the
    exact unscaled integer sum ``s`` (decimal, positive). DuckDB's
    hugeint→double is NOT correctly rounded: it computes
    ``double(u >> 64)·2⁶⁴ + double(u mod 2⁶⁴)`` then divides by 10¹⁸
    (probed: 20k random samples match this, while ~25% mismatch the
    correctly-rounded conversion Spark's decimal→double cast uses)."""
    two64 = F.lit(_Decimal(2**64))
    lower = F.pmod(s, two64)
    upper = ((s - lower) / two64).cast("double")
    d = upper * F.lit(18446744073709551616.0) + lower.cast("double")
    return d / F.lit(1.0e18)


def _duck_exact_idw_sum():
    """The exact-mode IDW aggregate twin of the frozen oracle SQL
    ``CAST(SUM(CAST(w·pval AS DECIMAL(38,18))) AS DOUBLE) /
    CAST(SUM(CAST(w AS DECIMAL(38,18))) AS DOUBLE)`` with DuckDB's binary
    cast semantics reproduced bit-exactly (see _duck_dec18_unscaled)."""
    num = F.sum(_duck_dec18_unscaled(F.col("_w") * F.col("pval")))
    den = F.sum(_duck_dec18_unscaled(F.col("_w")))
    return (
        _duck_dec18_sum_to_double(num) / _duck_dec18_sum_to_double(den)
    ).alias("_idw")


def interpolate_idw(
    points: DataFrame,
    rd: RasterDef,
    valuefield: str,
    lon: str = "lon",
    lat: str = "lat",
    sensitivity: float = 2.0,
    exact: bool = False,
) -> DataFrame:
    """Inverse-distance-weighted interpolation of points onto the grid
    (``pythongis/raster/analyzer.py:150-267``): exact at known cells;
    every grid cell weighs *all* points (reference semantics — a cross
    join; points are pre-aggregated per cell first like the reference's
    ``sql.aggreg`` step ``analyzer.py:199-212``)."""
    cx, cy = geo_to_cell_exprs(rd, F.col(lon), F.col(lat))
    known = (
        points.withColumn("x", cx)
        .withColumn("y", cy)
        .filter(in_grid(rd, F.col("x"), F.col("y")))
        .groupBy("x", "y")
        .agg(F.avg(valuefield).alias("pval"))
    )
    spark = points.sparkSession
    grid = (
        spark.range(rd.width * rd.height)
        .select(
            F.pmod(F.col("id"), rd.width).cast("int").alias("x"),
            F.floor(F.col("id") / rd.width).cast("int").alias("y"),
        )
    )
    k = known.select(
        F.col("x").alias("px"), F.col("y").alias("py"), "pval"
    )
    cand = grid.join(F.broadcast(k))
    dx = F.col("x") - F.col("px")
    dy = F.col("y") - F.col("py")
    d2 = (dx * dx + dy * dy).cast("double")
    if sensitivity == 2.0:
        # exact reciprocal (pow(x,-1) is not guaranteed == 1/x in IEEE)
        wgt = F.when(d2 == 0, None).otherwise(F.lit(1.0) / d2)
    else:
        wgt = F.when(d2 == 0, None).otherwise(
            F.pow(F.sqrt(d2), F.lit(-float(sensitivity)))
        )
    # exact=True: decimal accumulation — order-independent bit-identical
    # sums (used by the DuckDB oracle gate); default double sums
    if exact:
        idw = _duck_exact_idw_sum()
    else:
        idw = (F.sum(F.col("_w") * F.col("pval")) / F.sum("_w")).alias("_idw")
    agg = (
        cand.withColumn("_w", wgt)
        .withColumn("_exact", F.when(d2 == 0, F.col("pval")))
        .groupBy("x", "y")
        .agg(
            F.first("_exact", ignorenulls=True).alias("_ex"),
            idw,
        )
    )
    return agg.select(
        "x", "y", F.lit(0).alias("band"),
        F.coalesce("_ex", "_idw").alias("val"),
    )


def interpolate_idw_bounded(
    points: DataFrame,
    rd: RasterDef,
    valuefield: str,
    radius_cells: int,
    lon: str = "lon",
    lat: str = "lat",
    sensitivity: float = 2.0,
    exact: bool = False,
) -> DataFrame:
    """Neighbourhood-bounded IDW — the scale path for
    :func:`interpolate_idw` (reference's ``neighbours`` kwarg,
    ``pythongis/raster/analyzer.py:150-267``, re-expressed as a radius
    bound): each known cell contributes only to grid cells within
    ``radius_cells`` (Euclidean), so the plan is an explode of
    (2r+1)² offsets + one groupBy — no grid×points cross join. Cells
    with no known point in range produce no row (sparse nodata), unlike
    the unbounded variant which fills the whole grid."""
    cx, cy = geo_to_cell_exprs(rd, F.col(lon), F.col(lat))
    known = (
        points.withColumn("x", cx)
        .withColumn("y", cy)
        .filter(in_grid(rd, F.col("x"), F.col("y")))
        .groupBy("x", "y")
        .agg(F.avg(valuefield).alias("pval"))
    )
    r = radius_cells
    offs = F.sequence(F.lit(-r), F.lit(r))
    spread = (
        known.withColumn("_dx", F.explode(offs))
        .withColumn("_dy", F.explode(offs))
        .withColumn(
            "_d2",
            (F.col("_dx") * F.col("_dx") + F.col("_dy") * F.col("_dy")).cast("double"),
        )
        .filter(F.col("_d2") <= float(r * r))
        .select(
            (F.col("x") + F.col("_dx")).alias("x"),
            (F.col("y") + F.col("_dy")).alias("y"),
            "pval",
            "_d2",
        )
        .filter(in_grid(rd, F.col("x"), F.col("y")))
    )
    if sensitivity == 2.0:
        wgt = F.when(F.col("_d2") == 0, None).otherwise(F.lit(1.0) / F.col("_d2"))
    else:
        wgt = F.when(F.col("_d2") == 0, None).otherwise(
            F.pow(F.sqrt(F.col("_d2")), F.lit(-float(sensitivity)))
        )
    if exact:
        idw = _duck_exact_idw_sum()
    else:
        idw = (F.sum(F.col("_w") * F.col("pval")) / F.sum("_w")).alias("_idw")
    agg = (
        spread.withColumn("_w", wgt)
        .withColumn("_exact", F.when(F.col("_d2") == 0, F.col("pval")))
        .groupBy("x", "y")
        .agg(F.first("_exact", ignorenulls=True).alias("_ex"), idw)
    )
    return agg.select(
        "x", "y", F.lit(0).cast("int").alias("band"),
        F.coalesce("_ex", "_idw").alias("val"),
    )


def density_smooth(
    points: DataFrame,
    rd: RasterDef,
    valuefield: str | None,
    radius_cells: int,
    lon: str = "lon",
    lat: str = "lat",
    exact: bool = False,
) -> DataFrame:
    """Radial kernel smoothing / point density
    (``pythongis/raster/analyzer.py:269-434``): bin points per cell, then
    spread each bin over its neighbor cells with weight ``1 - d/r``
    (``:330-343``). density = smooth of constant 1."""
    cx, cy = geo_to_cell_exprs(rd, F.col(lon), F.col(lat))
    val = F.col(valuefield) if valuefield else F.lit(1.0)
    binned = (
        points.withColumn("x", cx)
        .withColumn("y", cy)
        .filter(in_grid(rd, F.col("x"), F.col("y")))
        .groupBy("x", "y")
        .agg(F.sum(val).alias("v"))
    )
    r = radius_cells
    offs = F.sequence(F.lit(-r), F.lit(r))
    spread = (
        binned.withColumn("_dx", F.explode(offs))
        .withColumn("_dy", F.explode(offs))
        .withColumn("_d", F.sqrt((F.col("_dx") * F.col("_dx") + F.col("_dy") * F.col("_dy")).cast("double")))
        .filter(F.col("_d") <= r)
        .select(
            (F.col("x") + F.col("_dx")).alias("x"),
            (F.col("y") + F.col("_dy")).alias("y"),
            (F.col("v") * (1.0 - F.col("_d") / r)).alias("w"),
        )
        .filter(in_grid(rd, F.col("x"), F.col("y")))
    )
    # exact mode: pre-round to 12 decimals so the double→decimal cast has
    # no near-tie rounding left to disagree on across engines
    agg = (
        F.sum(F.round(F.col("w"), 12).cast("decimal(38,12)")).cast("double")
        if exact
        else F.sum("w")
    )
    return spread.groupBy("x", "y").agg(agg.alias("val")).withColumn(
        "band", F.lit(0).cast("int")
    ).select("x", "y", "band", "val")


def disperse(
    vector: DataFrame,
    rd: RasterDef,
    valuekey: str,
    geom: str = "geom",
    weight_cells: DataFrame | None = None,
) -> DataFrame:
    """Dasymetric disperse: spread each feature's value over its covered
    cells proportional to a weight raster; overlaps add
    (``pythongis/raster/analyzer.py:436-476``)."""
    # _fid must be assigned BEFORE the explode: inside the same select,
    # monotonically_increasing_id() would be evaluated per exploded row
    # (one "feature" per cell), silently breaking the per-feature shares
    feats = vector.select(
        F.monotonically_increasing_id().alias("_fid"),
        F.col(valuekey).cast("double").alias("_v"),
        F.col(geom).alias("_g"),
    )
    feat_cells = cover_cells(feats, rd, "_g").select("_fid", "_v", "x", "y")
    if weight_cells is not None:
        wdf = weight_cells.select("x", "y", F.col("val").alias("_w"))
        feat_cells = feat_cells.join(wdf, ["x", "y"], "left").fillna({"_w": 0.0})
    else:
        feat_cells = feat_cells.withColumn("_w", F.lit(1.0))
    wsum = Window.partitionBy("_fid")
    shared = feat_cells.withColumn(
        "_share",
        F.when(F.sum("_w").over(wsum) > 0, F.col("_v") * F.col("_w") / F.sum("_w").over(wsum)),
    )
    return (
        shared.groupBy("x", "y")
        .agg(F.sum("_share").alias("val"))
        .withColumn("band", F.lit(0).cast("int"))
        .select("x", "y", "band", "val")
    )


# ------------------------------------------------------------------
# vectorize: merged same-value regions
# (``pythongis/raster/manager.py:1076-1142`` mergecells=True)
# ------------------------------------------------------------------

def _trace_region_rings(cells: set[tuple[int, int]]) -> list[np.ndarray]:
    """Boundary rings of a union of unit grid squares.

    Directed boundary edges keep the region interior on the LEFT (CCW
    exteriors, CW holes in grid frame); at pinch vertices the walk takes
    the most-counterclockwise turn, so lobes separate cleanly. Returns
    closed rings in grid-corner coordinates."""
    edges: dict[tuple[int, int], list[tuple[int, int]]] = {}

    def add(a, b):
        edges.setdefault(a, []).append(b)

    if isinstance(cells, dict):
        # boundary-only form: {cell: 4-bit same-region neighbor mask}
        # (1 = (x,y−1), 2 = (x+1,y), 4 = (x,y+1), 8 = (x−1,y) present).
        # Interior cells (mask 15) need not be shipped at all — the
        # distributed caller sends O(perimeter), not O(area).
        items = cells.items()
        for (x, y), m in items:
            if not m & 1:
                add((x, y), (x + 1, y))
            if not m & 2:
                add((x + 1, y), (x + 1, y + 1))
            if not m & 4:
                add((x + 1, y + 1), (x, y + 1))
            if not m & 8:
                add((x, y + 1), (x, y))
    else:
        for (x, y) in cells:
            if (x, y - 1) not in cells:
                add((x, y), (x + 1, y))
            if (x + 1, y) not in cells:
                add((x + 1, y), (x + 1, y + 1))
            if (x, y + 1) not in cells:
                add((x + 1, y + 1), (x, y + 1))
            if (x - 1, y) not in cells:
                add((x, y + 1), (x, y))

    rings = []
    while edges:
        start = next(iter(edges))
        ring = [start]
        cur = start
        d_in = None
        while True:
            outs = edges.get(cur)
            if not outs:
                break  # malformed; bail on this loop
            if d_in is None or len(outs) == 1:
                nxt = outs.pop(0)
            else:
                # most-counterclockwise turn relative to incoming direction
                best_i, best_s = 0, -2
                for i, cand in enumerate(outs):
                    d_out = (cand[0] - cur[0], cand[1] - cur[1])
                    if (d_out[0] + d_in[0], d_out[1] + d_in[1]) == (0, 0):
                        s = -2  # never reverse
                    else:
                        s = d_in[0] * d_out[1] - d_in[1] * d_out[0]
                    if s > best_s:
                        best_i, best_s = i, s
                nxt = outs.pop(best_i)
            if not outs:
                edges.pop(cur, None)
            d_in = (nxt[0] - cur[0], nxt[1] - cur[1])
            cur = nxt
            ring.append(cur)
            if cur == start:
                break
        if len(ring) >= 4 and ring[0] == ring[-1]:
            rings.append(np.array(ring, dtype=np.float64))
    return rings


def vectorize_merged(
    raster_cells: DataFrame, rd: RasterDef, band: int = 0
) -> DataFrame:
    """Merged-mode vectorize: contiguous (4-connected) same-value cell
    regions → one polygon each, boundary melding of the cell squares
    (``raster/manager.py:1076-1142``; the reference uses
    ``shapely.ops.cascaded_union``, ours traces the union boundary
    directly — exact for axis-aligned squares).

    Plan: same-value neighbour edges (two self-joins) → large-star/
    small-star connected components → boundary trace per region in
    ``applyInPandas``. Returns (component, val, n_cells, geom WKB);
    ring orientation follows the world affine (not normalized)."""
    from pythongis_spark.operators.dedup import connected_components

    cells = (
        raster_cells.filter((F.col("band") == band) & F.col("val").isNotNull())
        .select("x", "y", "val")
        .withColumn("_cid", F.col("y").cast("long") * rd.width + F.col("x"))
    )
    a = cells.select(
        F.col("x"), F.col("y"), F.col("val"), F.col("_cid").alias("a_id")
    )
    b = cells.select(
        F.col("x").alias("bx"), F.col("y").alias("by"),
        F.col("val").alias("bval"), F.col("_cid").alias("b_id"),
    )
    right = a.join(
        b, (F.col("bx") == F.col("x") + 1) & (F.col("by") == F.col("y"))
        & (F.col("bval") == F.col("val")),
    ).select("a_id", "b_id")
    down = a.join(
        b, (F.col("bx") == F.col("x")) & (F.col("by") == F.col("y") + 1)
        & (F.col("bval") == F.col("val")),
    ).select("a_id", "b_id")
    comp = connected_components(right.unionByName(down))
    labeled = cells.join(comp, cells._cid == comp.id, "left").select(
        "x", "y", "val", "_cid",
        F.coalesce("component", "_cid").alias("component"),
    )
    # same-region neighbor masks (1=(x,y−1), 2=(x+1,y), 4=(x,y+1),
    # 8=(x−1,y)) so only BOUNDARY cells (mask ≠ 15) are shipped to the
    # per-region trace: a continent-sized region costs O(perimeter) per
    # task, not O(area) — same-value 4-neighbors are same-component by
    # construction, so mask semantics equal the old set-membership test.
    flags = (
        right.select(F.col("a_id").alias("_cid"), F.lit(2).alias("_m"))
        .unionByName(right.select(F.col("b_id").alias("_cid"), F.lit(8).alias("_m")))
        .unionByName(down.select(F.col("a_id").alias("_cid"), F.lit(4).alias("_m")))
        .unionByName(down.select(F.col("b_id").alias("_cid"), F.lit(1).alias("_m")))
        .groupBy("_cid")
        .agg(F.expr("bit_or(_m)").alias("_mask"))
    )
    labeled = labeled.join(flags, "_cid", "left").withColumn(
        "_mask", F.coalesce(F.col("_mask"), F.lit(0))
    )
    ncells = labeled.groupBy("component").agg(F.count("*").alias("_n"))
    boundary = labeled.filter(F.col("_mask") != 15).join(ncells, "component")

    xo, xs_, yo, ys_ = rd.xoffset, rd.xscale, rd.yoffset, rd.yscale

    def trace(pdf: pd.DataFrame) -> pd.DataFrame:
        comp_id = int(pdf["component"].iloc[0])
        val = float(pdf["val"].iloc[0])
        n_region = int(pdf["_n"].iloc[0])
        cellset = {
            (int(x), int(y)): int(m)
            for x, y, m in zip(pdf["x"], pdf["y"], pdf["_mask"])
        }
        rings = _trace_region_rings(cellset)
        if not rings:
            return pd.DataFrame(
                columns=["component", "val", "n_cells", "geom"]
            ).astype({"component": "int64", "val": "float64", "n_cells": "int64"})
        exts, holes = [], []
        for r in rings:
            area = G.ring_signed_area(r)
            world = np.column_stack([xo + r[:, 0] * xs_, yo + r[:, 1] * ys_])
            (exts if area > 0 else holes).append((world, r[0]))
        if not exts:  # degenerate; treat all as exteriors
            exts, holes = holes, []
        if len(exts) == 1:
            geom = ("Polygon", [exts[0][0]] + [h[0] for h in holes])
        else:
            # assign each hole to the exterior whose grid ring contains it
            polys = [[e[0]] for e in exts]
            for hw, hv in holes:
                placed = False
                for i, (ew, ev) in enumerate(exts):
                    if G.points_in_polygon(
                        np.array([hw[0, 0]]), np.array([hw[0, 1]]),
                        ("Polygon", [ew]),
                    )[0]:
                        polys[i].append(hw)
                        placed = True
                        break
                if not placed:
                    polys[0].append(hw)
            geom = ("MultiPolygon", polys)
        return pd.DataFrame(
            [
                {
                    "component": comp_id,
                    "val": val,
                    "n_cells": n_region,
                    "geom": W.encode_wkb(geom),
                }
            ]
        )

    return boundary.groupBy("component").applyInPandas(
        trace, "component long, val double, n_cells long, geom binary"
    )


# ------------------------------------------------------------------
# distance raster (``pythongis/raster/analyzer.py:485-607``)
# ------------------------------------------------------------------

def _envelope_eval(px: np.ndarray, pv: np.ndarray, xs: np.ndarray) -> np.ndarray:
    """Felzenszwalb–Huttenlocher lower envelope of parabolas
    (x - px[i])² + pv[i], evaluated at positions ``xs``. px ascending."""
    n = len(px)
    v_idx = np.zeros(n, dtype=np.int64)   # parabola index per envelope cell
    z = np.full(n + 1, np.inf)            # envelope breakpoints
    z[0] = -np.inf
    k = 0
    for i in range(1, n):
        while True:
            j = v_idx[k]
            denom = 2 * (px[i] - px[j])
            s = ((pv[i] + px[i] * px[i]) - (pv[j] + px[j] * px[j])) / denom
            if s <= z[k]:
                k -= 1
            else:
                break
        k += 1
        v_idx[k] = i
        z[k] = s
        z[k + 1] = np.inf
    ks = np.searchsorted(z[1 : k + 2], xs, side="left")
    idx = v_idx[np.minimum(ks, k)]
    return (xs - px[idx]) ** 2 + pv[idx]


def distance_raster(
    vector: DataFrame, rd: RasterDef, geom: str = "geom"
) -> DataFrame:
    """Distance raster: each cell's Euclidean distance (world units,
    cell-center to cell-center) to the nearest feature-covered cell
    (``pythongis/raster/analyzer.py:485-607`` — the reference compares
    against rasterized edge pixels with an r-tree; here an EXACT
    separable two-pass distance transform (Felzenszwalb & Huttenlocher
    2012), each pass data-parallel per column / per row):

    1. rasterize features → occupied cells;
    2. per column: 1-D nearest-occupied distance in y (dense column out);
    3. per row: lower envelope of parabolas → exact 2-D distance at
       every grid cell.

    Anisotropic cells are handled by scaling each axis by its cell
    size. Covered cells → 0. Returns a dense (x, y, band=0, val) grid
    (empty if the vector layer burns no cells)."""
    occ = rasterize(vector, rd, stat="count", geom=geom).select("x", "y")
    h, w = rd.height, rd.width
    sy, sx = abs(rd.yscale), abs(rd.xscale)

    def pass1(pdf: pd.DataFrame) -> pd.DataFrame:
        x = int(pdf["x"].iloc[0])
        ys = np.sort(pdf["y"].unique())
        all_y = np.arange(h)
        # nearest occupied y per grid y (1-D, two sweeps)
        pos = np.searchsorted(ys, all_y)
        left = np.where(pos > 0, ys[np.maximum(pos - 1, 0)], -(10 ** 9))
        right = np.where(pos < len(ys), ys[np.minimum(pos, len(ys) - 1)], 10 ** 9)
        d = np.minimum(np.abs(all_y - left), np.abs(right - all_y)) * sy
        return pd.DataFrame({"x": x, "y": all_y, "g": d})

    cols = occ.groupBy("x").applyInPandas(pass1, "x int, y int, g double")

    def pass2(pdf: pd.DataFrame) -> pd.DataFrame:
        y = int(pdf["y"].iloc[0])
        order = np.argsort(pdf["x"].to_numpy())
        px = pdf["x"].to_numpy()[order].astype(np.float64) * sx
        pv = (pdf["g"].to_numpy()[order]) ** 2
        xs = np.arange(w, dtype=np.float64) * sx
        d2 = _envelope_eval(px, pv, xs)
        return pd.DataFrame(
            {"x": np.arange(w, dtype=np.int64), "y": y, "val": np.sqrt(d2)}
        )

    out = cols.groupBy("y").applyInPandas(pass2, "x int, y int, val double")
    return out.withColumn("band", F.lit(0).cast("int")).select("x", "y", "band", "val")
