"""Cell-index assignment as DataFrame transforms.

The quadkey/Morton grid is pure integer arithmetic, so both sides of the
index are built-in Catalyst expressions (whole-stage codegen, no Python
at all): a point gets its single cell, and a bbox explodes to its
covering cells with ``explode(sequence(...))`` over its tile spans.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from pythongis_spark.index import quadkey as Q


def point_cell_expr(lon: Column, lat: Column, z: int) -> Column:
    """Morton cell id of a point at level z as a pure Catalyst expression.

    Equivalent to :func:`quadkey.cell_of_points` but JVM-side: tile coords
    by floor arithmetic, then bit-interleave via the shift-mask ladder.
    Keeping this in codegen means the *probe* side of every spatial join
    never leaves the JVM until the refine step.
    """
    n = 1 << z
    tx = F.floor((lon + F.lit(180.0)) / F.lit(360.0) * F.lit(n))
    ty = F.floor((F.lit(90.0) - lat) / F.lit(180.0) * F.lit(n))
    tx = F.greatest(F.lit(0), F.least(F.lit(n - 1), tx)).cast("long")
    ty = F.greatest(F.lit(0), F.least(F.lit(n - 1), ty)).cast("long")
    return interleave_expr(tx, ty)


def _spread_expr(v: Column) -> Column:
    """Spread low 32 bits into even positions (Catalyst translation of
    quadkey._part1by1)."""
    masks = [
        (16, 0x0000FFFF0000FFFF),
        (8, 0x00FF00FF00FF00FF),
        (4, 0x0F0F0F0F0F0F0F0F),
        (2, 0x3333333333333333),
        (1, 0x5555555555555555),
    ]
    v = v.bitwiseAND(F.lit(0xFFFFFFFF))
    for shift, mask in masks:
        v = (v.bitwiseOR(F.shiftleft(v, shift))).bitwiseAND(F.lit(mask))
    return v


def interleave_expr(tx: Column, ty: Column) -> Column:
    return _spread_expr(tx).bitwiseOR(F.shiftleft(_spread_expr(ty), 1))


# Hard ceiling on per-feature cell materialization. The spatial joins
# split oversized features to a nested-loop path BEFORE exploding, so
# rows reaching the explode are bounded by their cell_cap; this cap is
# defense-in-depth for direct callers — fail loudly instead of
# materializing up to 4^z cells in one row (executor OOM / skew).
MAX_CELLS_PER_FEATURE = 65_536

BBOX_COLS = ("bbox_xmin", "bbox_ymin", "bbox_xmax", "bbox_ymax")


def _tile_spans(z: int | Column, prefix: str = "") -> tuple[Column, Column, Column, Column]:
    """(tx0, tx1, ty0, ty1): the tile spans of :func:`quadkey.cells_of_bbox`.
    A non-empty span keeps exactly its bounds; an empty span stays
    empty, with its bounds held to [-1, n] so that no span length can
    overflow a long. A level column gives the same doubles as a literal
    level: 2^z is exact either way."""
    n = F.pow(F.lit(2.0), z).cast("long") if isinstance(z, Column) else F.lit(1 << int(z))
    xmin, ymin, xmax, ymax = (F.col(prefix + c) for c in BBOX_COLS)

    def tile(v: Column, extent: float, lo: int, hi: Column) -> Column:
        return F.least(hi, F.greatest(F.lit(lo), F.floor(v / extent * n)))

    return (
        tile(xmin + 180.0, 360.0, 0, n),
        tile(xmax + 180.0, 360.0, -1, n - 1),
        tile(90.0 - ymax, 180.0, 0, n),
        tile(90.0 - ymin, 180.0, -1, n - 1),
    )


def bbox_cell_count_expr(z: int | Column, prefix: str = "") -> Column:
    """Number of level-z cells a bbox covers, as a pure Catalyst
    expression: the row count of :func:`explode_bbox_cells`, and the
    planning statistic behind the spatial joins' giant-feature split and
    build-side sizing (``z`` may be a level column). Null when a bbox
    coordinate is null, NaN or infinite (such a bbox covers no cell)."""
    return _cell_count(_tile_spans(z, prefix), prefix)


def _cell_count(spans: tuple[Column, ...], prefix: str = "") -> Column:
    tx0, tx1, ty0, ty1 = spans
    finite = [F.abs(F.col(prefix + c)) < float("inf") for c in BBOX_COLS]
    return F.when(
        finite[0] & finite[1] & finite[2] & finite[3],
        F.greatest(F.lit(0), tx1 - tx0 + 1) * F.greatest(F.lit(0), ty1 - ty0 + 1),
    )


def explode_bbox_cells(df: DataFrame, z: int, out: str = "cell") -> DataFrame:
    """One row per (feature, covering cell) — requires bbox_* columns
    (see ``geometry.udfs.with_bbox``). This is the build-side explosion of
    the candidate cell join (reference analog: r-tree insertion,
    ``pythongis/vector/data.py:1189-1229``). Cells come in the order of
    :func:`quadkey.cells_of_bbox` (tx-major); a bbox covering more than
    ``MAX_CELLS_PER_FEATURE`` cells fails the job."""
    spans = tx0, tx1, ty0, ty1 = _tile_spans(z)
    cnt = _cell_count(spans)
    # the count guard also keeps sequence() from counting down over an
    # empty span
    txs = F.when(
        cnt > MAX_CELLS_PER_FEATURE,
        F.raise_error(F.lit(f"bbox covers more cells at z={z} than the cap {MAX_CELLS_PER_FEATURE}")),
    ).when(cnt > 0, F.sequence(tx0, tx1))
    return (
        df.withColumn("_tx", F.explode(txs))
        .withColumn("_ty", F.explode(F.sequence(ty0, ty1)))
        .withColumn(out, interleave_expr(F.col("_tx"), F.col("_ty")))
        .drop("_tx", "_ty")
    )


# a typical build-side bbox covers about this many cells at the picked level
LEVEL_TARGET_CELLS = 16.0


def level_stats(rows: Column | None = None) -> list[Column]:
    """Aggregates behind the index level: the median bbox width and
    height over the whole layer (over the ``rows`` where that column is
    true, if given). Read them back with :func:`level_of`."""
    w = F.col("bbox_xmax") - F.col("bbox_xmin")
    h = F.col("bbox_ymax") - F.col("bbox_ymin")
    if rows is not None:
        w, h = F.when(rows, w), F.when(rows, h)
    return [
        F.percentile_approx(w, 0.5).alias("level_w"),
        F.percentile_approx(h, 0.5).alias("level_h"),
    ]


def level_of(w: float | None, h: float | None) -> int:
    """Index level from the median bbox width and height of
    :func:`level_stats` (null for an empty layer)."""
    return Q.pick_level_for_bbox(
        np.array([1.0 if w is None else w]), np.array([1.0 if h is None else h]),
        target_cells=LEVEL_TARGET_CELLS,
    )


def pick_level(df: DataFrame) -> int:
    """Pick an index level from the build side's median bbox size — the
    planning statistic our engine needs because a fixed grid replaces
    the reference's adaptive r-tree. One aggregate; the spatial joins
    compute the same one inside their layer profile, so they choose the
    same level."""
    return level_of(*df.agg(*level_stats()).first())
