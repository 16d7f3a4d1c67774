"""Distance joins and k-nearest-neighbour joins.

Reference semantics: ``pythongis/vector/manager.py:268-379`` — per left
feature, bbox-overlap matches first, then remaining candidates sorted by
distance; ``radius`` → within-distance join, ``n`` → k nearest. The
reference sort is unstable on ties; we document the divergence and break
ties deterministically by ``(dist, right_id)`` (SURVEY.md §7 build plan
item 5).

Physical plan — ``knn_join`` takes one of two paths:

* **Arrow kernel** (planar metric, targets within
  ``broadcast_targets_rows``): the targets are collected once, sorted by
  id and bucketed into a CSR cell index (cell-sorted permutation plus
  the offsets of each occupied cell) at the level where a cell holds
  ≈ k targets. One ``mapInPandas`` pass over the points ranks each
  point's ring-window targets with numpy, accepts it when its k-th
  distance is inside the ring-boundary guard, widens the ring for the
  rest and ends in an all-targets pass — no join, no window, no
  exchange of the points.
  ``dist`` is evaluated in the Catalyst expression's IEEE operation
  order, so values are bit-identical to the JVM path.
* **JVM cell join** (trig metrics, or targets over the budget): targets
  are exploded to the neighbor cells within a Chebyshev ring R and
  equi-joined to the probe's single codegen cell id; a per-point window
  keeps ``row_number() over (partition by left id order by dist,
  right_id) <= k`` and flags rows whose k-th distance passes the same
  guard. Each round is checkpointed once; the points that fail re-join
  at 2R, and the last remnant falls back to an exact cross join. Trig
  stays on the JVM because numpy libm can differ from it in the last
  ulp, which would break bit-parity with the SQL oracles.

Correctness guard (both paths): a row's k-th distance must be below the
distance to its ring window's boundary, otherwise a nearer target could
sit outside the window.
"""

from __future__ import annotations

import functools
import math

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from pythongis_spark import plan_cache
from pythongis_spark.index import udfs as IU
from pythongis_spark.index import quadkey as Q

EARTH_RADIUS_M = 6371008.8


def _dist_expr(lx, ly, rx, ry, metric: str) -> Column:
    if metric == "planar":
        # explicit multiply (not POWER) so the oracle SQL can reproduce the
        # exact IEEE result with (a-b)*(a-b)
        dx, dy = lx - rx, ly - ry
        return F.sqrt(dx * dx + dy * dy)
    if metric == "haversine":
        # fully JVM-side haversine (whole-stage codegen)
        rl1, rl2 = F.radians(ly), F.radians(ry)
        dlat = rl2 - rl1
        dlon = F.radians(rx) - F.radians(lx)
        h = F.sin(dlat / 2) ** 2 + F.cos(rl1) * F.cos(rl2) * F.sin(dlon / 2) ** 2
        return F.lit(2 * EARTH_RADIUS_M) * F.asin(F.sqrt(F.least(h, F.lit(1.0))))
    if metric == "vincenty":
        from pythongis_spark.geometry.udfs import st_geodetic_distance

        return st_geodetic_distance(lx, ly, rx, ry)
    raise ValueError(f"unknown metric {metric!r}")


def _boundary_guard_expr(lon, lat, z: int, ring: int, metric: str) -> Column:
    """Lower bound of the distance from a point to the outside of its
    (2*ring+1)^2 cell window.

    Longitude wraps: the window extends across the antimeridian (the
    neighbour explosion wraps too), so the east/west guard is the true
    lon-degree distance to the window edge — never +inf at the grid edge
    (a nearer target at lon +179.9 IS considered for a probe at -179.9).
    Latitude does not wrap; beyond the poles nothing exists → +inf."""
    n = 1 << z
    cw, ch = 360.0 / n, 180.0 / n
    tx = F.floor((lon + 180.0) / F.lit(360.0) * n)
    ty = F.floor((F.lit(90.0) - lat) / F.lit(180.0) * n)
    x_lo = F.lit(-180.0) + (tx - ring) * cw       # window west edge (may be < -180)
    x_hi = F.lit(-180.0) + (tx + ring + 1) * cw   # east (may be > 180)
    y_hi = F.lit(90.0) - (ty - ring) * ch         # north
    y_lo = F.lit(90.0) - (ty + ring + 1) * ch     # south
    inf = F.lit(float("inf"))
    wraps_world = (2 * ring + 1) >= n
    d_w = inf if wraps_world else lon - x_lo
    d_e = inf if wraps_world else x_hi - lon
    d_n = F.when(ty - ring <= 0, inf).otherwise(y_hi - lat)
    d_s = F.when(ty + ring >= n - 1, inf).otherwise(lat - y_lo)
    if metric == "planar":
        return F.least(d_w, d_e, d_n, d_s)
    # meters: provably conservative haversine lower bounds per edge.
    #
    # N/S: any target beyond a latitude edge satisfies d ≥ R·Δφ exactly
    # (haversine ≥ 2R·asin(sin(Δφ/2)) = R·Δφ), so deg→m is exact there.
    #
    # E/W: a target beyond the lon edge that is NOT also beyond a lat edge
    # has cos(φ_t) ≥ cos(maxabslat), giving
    #   d ≥ 2R·asin(√(cosφ_p·cosφ_t)·sin(Δλ/2)) ≥ 2R·cos(maxabslat)·sin(Δλ/2).
    # (Targets beyond a lat edge are covered by the exact N/S term because
    # the guard takes the least of all four.) The naive Δλ·deg_m·cosφ form
    # used previously OVERestimates by ≈sin²φ·Δλ²/6 and can admit a miss.
    deg_m = math.pi / 180.0 * EARTH_RADIUS_M
    maxabslat = F.greatest(F.abs(y_lo), F.abs(y_hi))
    coslat = F.cos(F.radians(F.least(maxabslat, F.lit(90.0))))
    if wraps_world:
        ew = inf
    else:
        half = F.radians(F.least(d_w, d_e)) / F.lit(2.0)
        ew = (
            F.lit(2.0 * EARTH_RADIUS_M)
            * F.sin(F.least(half, F.lit(math.pi / 2.0)))
            * coslat
        )
    return F.least(ew, F.least(d_n, d_s) * F.lit(deg_m))


def _explode_neighbor_cells(
    targets: DataFrame,
    lon: str,
    lat: str,
    z: int,
    ring: int,
    ring_x: Column | None = None,
) -> DataFrame:
    """One row per (target, neighbor cell within the ring window).

    The x offset wraps across the antimeridian (lon is periodic — the
    grid edge is NOT a wall); y is clipped at the poles. ``ring_x``
    optionally widens the east-west ring per row (lon degrees shrink by
    cos(lat), so geodetic joins need wider windows at high latitude)."""
    n = 1 << z
    tx = F.floor((F.col(lon) + 180.0) / F.lit(360.0) * n).cast("long")
    ty = F.floor((F.lit(90.0) - F.col(lat)) / F.lit(180.0) * n).cast("long")
    tx = F.greatest(F.lit(0), F.least(F.lit(n - 1), tx))
    ty = F.greatest(F.lit(0), F.least(F.lit(n - 1), ty))
    df = targets.withColumn("_tx", tx).withColumn("_ty", ty)
    rx = (ring_x if ring_x is not None else F.lit(ring)).cast("int")
    # x window: span columns starting `west` left of the target, wrapped.
    # Span is capped at the full world (n columns) so the window is
    # duplicate-free by construction — no dedup shuffle — while a ring
    # wider than the world still covers every column.
    span = F.least(rx * 2 + 1, F.lit(n))
    west = F.least(rx, F.lit(n // 2))
    df = df.withColumn("_dx", F.explode(F.sequence(F.lit(0), span - 1)))
    df = df.withColumn("_dy", F.explode(F.sequence(F.lit(-ring), F.lit(ring))))
    df = df.withColumn(
        "_nx", F.pmod(F.col("_tx") - west + F.col("_dx"), F.lit(n))
    ).withColumn("_ny", F.col("_ty") + F.col("_dy"))
    df = df.filter((F.col("_ny") >= 0) & (F.col("_ny") < n)).withColumn(
        "_nx", F.col("_nx").cast("long")
    )
    df = df.withColumn("cell", IU.interleave_expr(F.col("_nx"), F.col("_ny")))
    return df.drop("_tx", "_ty", "_dx", "_dy", "_nx", "_ny")


def _pick_target_level(n_targets: int, k: int) -> int:
    """Level where a cell holds ≈ k targets on average (so ring=1 holds ≈
    9k — comfortably more than k)."""
    if n_targets <= 0:
        return 0
    cells = max(1.0, n_targets / max(k, 1))
    z = int(math.floor(math.log(cells, 4)))
    return max(0, min(Q.MAX_LEVEL, z))


def knn_join(
    points: DataFrame,
    targets: DataFrame,
    k: int,
    *,
    point_id: str,
    target_id: str,
    lon: str = "lon",
    lat: str = "lat",
    t_lon: str = "lon",
    t_lat: str = "lat",
    metric: str = "planar",
    z: int | None = None,
    ring: int = 1,
    broadcast_targets_rows: int = 100_000,
    max_fallback_rounds: int = 3,
    target_rows: int | None = None,
    point_cols: list[str] | None = None,
) -> DataFrame:
    """k nearest targets per point → columns of ``points`` + ``target_id``
    + ``dist`` + ``knn_rank`` (1-based).

    Exact (guard + fallback), deterministic (ties by (dist, target_id)).
    Reference analog: ``spatial_join(condition='distance', n=k)``
    (``pythongis/vector/manager.py:293-296,345-355``); divergence: ties.

    Planar calls whose targets fit ``broadcast_targets_rows`` run the
    Arrow kernel (:func:`_knn_arrow`); trig metrics and larger target
    sets run the JVM cell join. Both emit ``min(k, targets)`` rows per
    point with bit-identical ``dist`` values.

    ``point_cols`` (r6, guide §4.1): restrict the point-side columns in
    the RESULT to this list (coordinates are still used internally).
    Catalyst prunes the JVM paths on its own, but the Arrow stage is
    opaque — without the hint every point column is serialized back
    from Python k times per point. Result rows are identical to
    selecting the same columns afterwards.
    """
    # planning statistic: an explicit hint avoids a count job per call
    # (dimension tables, repeated joins — reference keeps the r-tree
    # cached; our equivalent is caller-supplied cardinality)
    n_targets = target_rows if target_rows is not None else targets.count()
    tgt = targets.select(
        F.col(target_id).alias("_tid"),
        F.col(t_lon).alias("_tlon"),
        F.col(t_lat).alias("_tlat"),
    )
    pts = points.filter(F.col(lon).isNotNull() & F.col(lat).isNotNull())

    def _restrict(out: DataFrame) -> DataFrame:
        out = out.withColumnRenamed("_tid", target_id)
        if point_cols is None:
            return out
        return out.select(*point_cols, target_id, "dist", "knn_rank")

    if metric == "planar" and n_targets <= broadcast_targets_rows:
        return _restrict(
            _knn_arrow(pts, tgt, k, point_id, lon, lat, z, ring,
                       max_fallback_rounds, out_cols=point_cols)
        )
    # tiny target table, trig metrics: exact broadcast cross join. The
    # bound is ABSOLUTE: cross-join work is O(points × targets), so tying
    # it to broadcast_targets_rows (a broadcast-SIZE knob) silently turned
    # a raised budget into a billion-row cartesian at scale (sf0.1 sweep)
    if n_targets <= max(k * 4, 1000):
        return _restrict(
            _knn_bruteforce(pts, tgt, k, point_id, lon, lat, metric, n_targets)
        )

    if z is None:
        z = _pick_target_level(n_targets, k)

    rounds = []
    pending = pts
    cur_ring = ring
    by_pt = Window.partitionBy(point_id)
    for _ in range(max_fallback_rounds if z > 0 else 0):
        exploded = _explode_neighbor_cells(tgt, "_tlon", "_tlat", z, cur_ring)
        if n_targets * (2 * cur_ring + 1) ** 2 <= broadcast_targets_rows:
            exploded = F.broadcast(exploded)
        probe = pending.withColumn(
            "cell", IU.point_cell_expr(F.col(lon), F.col(lat), z)
        )
        # left join: a point with no target in its window keeps one null
        # row, so the round's checkpoint holds every pending point
        cand = probe.join(exploded, "cell", "left").withColumn(
            "dist",
            _dist_expr(F.col(lon), F.col(lat), F.col("_tlon"), F.col("_tlat"), metric),
        )
        topk = cand.withColumn(
            "knn_rank", F.row_number().over(by_pt.orderBy("dist", "_tid"))
        ).filter(F.col("knn_rank") <= k)
        guard = _boundary_guard_expr(F.col(lon), F.col(lat), z, cur_ring, metric)
        ok = (F.count("_tid").over(by_pt) >= k) & (F.max("dist").over(by_pt) < guard)
        # one eager checkpoint per round: both the accepted rows and the
        # next round's remnant read it, so the join and window run once
        # (without the lineage cut each round's plan embeds the previous
        # rounds several times and Spark recomputes them combinatorially)
        flagged = topk.withColumn(
            "_ok", F.coalesce(ok, F.lit(False))
        ).localCheckpoint(eager=True)
        rounds.append(
            flagged.filter(F.col("_ok")).drop("_ok", "cell", "_tlon", "_tlat")
        )
        pending = flagged.filter(~F.col("_ok") & (F.col("knn_rank") == 1)).select(
            *pts.columns
        )
        if pending.isEmpty():
            pending = None
            break
        cur_ring *= 2
    if pending is not None:
        # the remnant set is tiny, but the TARGET side here is the full
        # table — only broadcast it when it's genuinely small, else use a
        # partition-pair cartesian (pending has few partitions, so task
        # count stays ~|target partitions|; no 8 GB broadcast cap risk)
        rounds.append(_knn_bruteforce(
            pending, tgt, k, point_id, lon, lat, metric, n_targets,
            allow_broadcast=n_targets <= broadcast_targets_rows,
        ))
    return _restrict(functools.reduce(DataFrame.unionByName, rounds))


# Element budget of one distance matrix in the Arrow kernel (1M doubles
# = 8 MB): bounds worker memory on wide rings and all-targets passes
# whatever the batch or target-set size.
_KERNEL_ELEMS = 1 << 20


def _cell_xy(lon: np.ndarray, lat: np.ndarray, n: int):
    """Clipped tile column/row at n × n cells — the floor/clip formulas
    of ``point_cell_expr`` and ``_explode_neighbor_cells`` in numpy
    (NaN lands in cell 0; its guard never passes)."""
    tx = np.nan_to_num(np.floor((lon + 180.0) / 360.0 * n))
    ty = np.nan_to_num(np.floor((90.0 - lat) / 180.0 * n))
    return (np.clip(tx, 0, n - 1).astype(np.int64),
            np.clip(ty, 0, n - 1).astype(np.int64))


def _planar_guard(px: np.ndarray, py: np.ndarray, n: int, ring: int) -> np.ndarray:
    """:func:`_boundary_guard_expr` (planar) in numpy, same IEEE order."""
    cw, ch = 360.0 / n, 180.0 / n
    tx = np.floor((px + 180.0) / 360.0 * n)
    ty = np.floor((90.0 - py) / 180.0 * n)
    d_n = np.where(ty - ring <= 0, np.inf, (90.0 - (ty - ring) * ch) - py)
    d_s = np.where(ty + ring >= n - 1, np.inf, py - (90.0 - (ty + ring + 1) * ch))
    g = np.minimum(d_n, d_s)
    if 2 * ring + 1 < n:
        d_w = px - (-180.0 + (tx - ring) * cw)
        d_e = (-180.0 + (tx + ring + 1) * cw) - px
        g = np.minimum(g, np.minimum(d_w, d_e))
    return g


def _planar_dist(px, py, tx, ty):
    """sqrt(dx*dx + dy*dy) in the operation order of :func:`_dist_expr`
    (each step correctly rounded, so bits match the JVM), in place."""
    dx = px - tx
    dy = py - ty
    np.multiply(dx, dx, out=dx)
    np.multiply(dy, dy, out=dy)
    np.add(dx, dy, out=dx)
    return np.sqrt(dx, out=dx)


def _topk(d: np.ndarray, kk: int, j: np.ndarray | None = None):
    """Top-kk of each row of a (rows × candidates) distance matrix,
    ordered by (dist, target position) like the window's
    ``orderBy(dist, _tid)`` (targets are indexed in id order).

    ``j`` holds each entry's target position (−1 marks padding); None
    means the column index. An O(width) partition per row finds the
    kk-th distance, and only the entries not beyond it are sorted (a
    stable lexsort). Ranking uses the post-sqrt value: two distinct d²
    can round to one sqrt, and such pairs tie. Returns (rows with ≥ kk
    candidates, their kk positions, their kk dists)."""
    kth = np.partition(d, kk - 1, axis=1)[:, kk - 1:kk] if kk < d.shape[1] else np.inf
    r, c = np.nonzero(~(d > kth))
    if j is None:
        jj = c
    else:
        jj = j[r, c]
        real = jj >= 0
        r, c, jj = r[real], c[real], jj[real]
    dd = d[r, c]
    order = np.lexsort((jj, dd, r))
    cnt = np.bincount(r, minlength=len(d))
    full = cnt >= kk
    at = order[((np.cumsum(cnt) - cnt)[full][:, None] + np.arange(kk)).ravel()]
    return full, jj[at].reshape(-1, kk), dd[at].reshape(-1, kk)


def _chunks(widths: np.ndarray):
    """[a, b) row ranges over non-decreasing row widths whose padded
    matrix (rows × widest row) stays within ``_KERNEL_ELEMS`` (a wider
    single row gets a range of its own)."""
    a = 0
    while a < len(widths):
        lim = min(len(widths), a + max(1, _KERNEL_ELEMS // max(int(widths[a]), 1)))
        size = np.arange(1, lim - a + 1) * widths[a:lim]
        b = a + max(1, int(np.searchsorted(size, _KERNEL_ELEMS, side="right")))
        yield a, b
        a = b


class _CellIndex:
    """CSR index of the targets at level z: targets sorted by id, then a
    cell-sorted permutation ``perm`` with the start and length of every
    occupied cell (sorted cell ids, so any level fits in O(targets))."""

    def __init__(self, tx: np.ndarray, ty: np.ndarray, z: int):
        self.tx, self.ty, self.z = tx, ty, z
        # coordinates with a trailing +inf pad, read by position -1
        self.txp, self.typ = np.append(tx, np.inf), np.append(ty, np.inf)
        n = 1 << z
        cx, cy = _cell_xy(tx, ty, n)
        cell = cy * n + cx
        self.perm = np.argsort(cell, kind="stable")
        self.cells, self.start, self.count = np.unique(
            cell[self.perm], return_index=True, return_counts=True
        )

    def window(self, cx, cy, ring: int):
        """(start, count) per (point, window cell) of the ring window —
        the target cells whose neighbor explosion reaches the point's
        cell: x wraps (span capped at the world), y clips at the poles."""
        n = 1 << self.z
        span, west = min(2 * ring + 1, n), min(ring, n // 2)
        cols = (cx[:, None] + (west - np.arange(span))) % n
        rows = cy[:, None] + np.arange(-ring, ring + 1)
        cell = (rows[:, :, None] * n + cols[:, None, :]).reshape(len(cx), -1)
        i = np.searchsorted(self.cells, cell).clip(max=len(self.cells) - 1)
        on_grid = np.repeat((rows >= 0) & (rows < n), span, axis=1)
        cnt = np.where(on_grid & (self.cells[i] == cell), self.count[i], 0)
        return self.start[i], cnt

    def ring_pass(self, px, py, ring: int, kk: int):
        """Rank each point's ring-window targets; accept a point when it
        has ≥ kk of them and its kk-th distance is below the guard.
        Returns (accepted point positions, their kk positions, dists)."""
        n = 1 << self.z
        cx, cy = _cell_xy(px, py, n)
        step = max(1, _KERNEL_ELEMS // (min(2 * ring + 1, n) * (2 * ring + 1)))
        out = []
        for a in range(0, len(px), step):  # bounds the (points × cells) tables
            start, cnt = self.window(cx[a:a + step], cy[a:a + step], ring)
            tot = cnt.sum(axis=1)
            by = np.argsort(tot, kind="stable")  # like-sized windows pad little
            for b, e in _chunks(tot[by]):
                rows, w = by[b:e], tot[by[e - 1]]
                lo, ln = start[rows].ravel(), cnt[rows].ravel()
                flat = np.arange(ln.sum())
                # (rows × w) target positions, -1 padded (→ the +inf pad)
                jm = np.full((e - b, w), -1)
                jm[np.repeat(np.arange(e - b), tot[rows]),
                   flat - np.repeat(np.cumsum(tot[rows]) - tot[rows], tot[rows])
                   ] = self.perm[np.repeat(lo - (np.cumsum(ln) - ln), ln) + flat]
                pt = a + rows
                d = _planar_dist(px[pt, None], py[pt, None], self.txp[jm], self.typ[jm])
                full, jk, dk = _topk(d, kk, jm)
                pt = pt[full]
                ok = dk[:, -1] < _planar_guard(px[pt], py[pt], n, ring)
                out.append((pt[ok], jk[ok], dk[ok]))
        return tuple(map(np.concatenate, zip(*out)))

    def all_pass(self, px, py, kk: int):
        """Exact top-kk against every target: dense (chunk × targets)
        distance matrices, ranked by :func:`_topk`."""
        jj, dd = [], []
        for a, b in _chunks(np.full(len(px), len(self.tx))):
            d = _planar_dist(px[a:b, None], py[a:b, None], self.tx, self.ty)
            _, jk, dk = _topk(d, kk)
            jj.append(jk)
            dd.append(dk)
        return np.concatenate(jj), np.concatenate(dd)


def _knn_arrow(pts: DataFrame, tgt: DataFrame, k: int, point_id: str,
               lon: str, lat: str, z: int | None, ring: int, rounds: int,
               out_cols: list[str] | None = None) -> DataFrame:
    """Exact planar kNN as ONE mapInPandas pass over the points against
    a broadcast :class:`_CellIndex` of the targets.

    Per Arrow batch: rank the ring window (:meth:`_CellIndex.ring_pass`)
    with the same rounds, ring doubling and guard as the JVM join, then
    rank every target for the points still failing
    (:meth:`_CellIndex.all_pass`) — exact by definition. Targets with a
    null coordinate have no distance and are skipped.

    Output columns are built by numpy gathers; ``out_cols`` limits the
    point columns serialized back (the stage is opaque to Catalyst's
    pruning); and when the probe scan has fewer
    partitions than the cluster's parallelism (single-row-group local
    parquet), it is hash-repartitioned so the Python stage runs on every
    core — a real many-row-group table skips the exchange. The scan's
    partition count is probed once per plan (``plan_cache``)."""
    from pyspark.sql import types as T

    tdf = tgt.toPandas()
    tdf = tdf[tdf["_tlon"].notna() & tdf["_tlat"].notna()]
    tdf = tdf.sort_values("_tid", kind="stable")
    tids = tdf["_tid"].to_numpy()
    kk = min(k, len(tids))
    index = _CellIndex(
        tdf["_tlon"].to_numpy(np.float64), tdf["_tlat"].to_numpy(np.float64),
        _pick_target_level(len(tids), k) if z is None else z,
    )
    keep = list(pts.columns) if out_cols is None else list(out_cols)
    out_schema = T.StructType(
        [pts.schema[c] for c in keep]
        + [
            T.StructField("_tid", tgt.schema["_tid"].dataType),
            T.StructField("dist", T.DoubleType()),
            T.StructField("knn_rank", T.IntegerType()),
        ]
    )

    par = pts.sparkSession.sparkContext.defaultParallelism
    if not pts.isStreaming and plan_cache.memo(
        pts, "scan_partitions", lambda: pts.rdd.getNumPartitions()
    ) < par:
        pts = pts.repartition(par, F.col(point_id))

    def gen(batches):
        ranks = np.arange(1, kk + 1, dtype=np.int32)
        for pdf in batches:
            if len(pdf) == 0 or kk == 0:
                continue
            px = pdf[lon].to_numpy(np.float64)
            py = pdf[lat].to_numpy(np.float64)
            todo = np.arange(len(pdf))
            found = []  # (point rows, kk target positions, kk dists)
            r = ring
            for _ in range(rounds if index.z > 0 else 0):
                hit, jk, dk = index.ring_pass(px[todo], py[todo], r, kk)
                found.append((todo[hit], jk, dk))
                todo = np.delete(todo, hit)
                if len(todo) == 0:
                    break
                r *= 2
            if len(todo):
                found.append((todo, *index.all_pass(px[todo], py[todo], kk)))
            at, jk, dk = map(np.concatenate, zip(*found))
            at = np.repeat(at, kk)
            cols = {c: pdf[c].to_numpy()[at] for c in keep}
            cols["_tid"] = tids[jk.ravel()]
            cols["dist"] = dk.ravel()
            cols["knn_rank"] = np.tile(ranks, len(at) // kk)
            yield pd.DataFrame(cols)

    return pts.mapInPandas(gen, out_schema)


def _knn_bruteforce(pts, tgt, k, point_id, lon, lat, metric, n_targets=None,
                    allow_broadcast=True):
    """Exact kNN against a small target set: broadcast crossJoin +
    per-point window. (A literal-struct-array top-k variant was measured
    and is SLOWER — the per-target expression tree exceeds whole-stage
    codegen limits and falls back to interpreted eval.)"""
    if n_targets == 0:
        return (
            pts.withColumn("dist", F.lit(None).cast("double"))
            .withColumn("knn_rank", F.lit(None).cast("int"))
            .withColumn("_tid", F.lit(None).cast("long"))
            .filter(F.lit(False))
        )
    if not allow_broadcast:
        # coalesce the (small) probe side so the cartesian's task count is
        # bounded by the target side's partitioning
        pts = pts.coalesce(4)
        tgt = tgt.hint("shuffle_replicate_nl")
        cand = pts.crossJoin(tgt)
    else:
        cand = pts.crossJoin(F.broadcast(tgt))
    cand = cand.withColumn(
        "dist",
        _dist_expr(F.col(lon), F.col(lat), F.col("_tlon"), F.col("_tlat"), metric),
    )
    w = Window.partitionBy(point_id).orderBy("dist", "_tid")
    return (
        cand.withColumn("knn_rank", F.row_number().over(w))
        .filter(F.col("knn_rank") <= k)
        .drop("_tlon", "_tlat")
    )


def distance_join(
    points: DataFrame,
    targets: DataFrame,
    radius: float,
    *,
    point_id: str,
    target_id: str,
    lon: str = "lon",
    lat: str = "lat",
    t_lon: str = "lon",
    t_lat: str = "lat",
    metric: str = "planar",
    z: int | None = None,
    broadcast_targets_rows: int = 500_000,
    target_rows: int | None = None,
) -> DataFrame:
    """All (point, target) pairs within ``radius`` — the reference's
    within-distance join (``pythongis/vector/manager.py:282-291,333-337``,
    geodetic-buffer approach replaced by cell-ring candidates + exact
    distance refine). Output: point columns + ``target_id`` + ``dist``.
    """
    tgt = targets.select(
        F.col(target_id).alias("_tid"),
        F.col(t_lon).alias("_tlon"),
        F.col(t_lat).alias("_tlat"),
    )
    pts = points.filter(F.col(lon).isNotNull() & F.col(lat).isNotNull())
    def _n_targets():
        return target_rows if target_rows is not None else targets.count()

    # choose z so one cell edge ≥ radius → ring=1 window covers radius
    if metric == "planar":
        rad_deg = radius
    else:
        rad_deg = radius / (math.pi / 180.0 * EARTH_RADIUS_M)  # ≥ true lat-deg
    if z is None:
        # strict > so cellh(z) > rad_deg: with rad == cellh exactly and
        # boundary-aligned points, |Δty| can hit 2 — one ring would miss
        z = 0
        while z < Q.MAX_LEVEL and 180.0 / (1 << (z + 1)) > rad_deg:
            z += 1
    # at high z with huge radius fall back to brute force
    if z == 0:
        cand = pts.crossJoin(F.broadcast(tgt))
    elif metric == "planar":
        # planar degrees are isotropic: ring 1 covers the radius exactly
        exploded = _explode_neighbor_cells(tgt, "_tlon", "_tlat", z, 1)
        if _n_targets() * 9 <= broadcast_targets_rows:
            exploded = F.broadcast(exploded)
        probe = pts.withColumn("cell", IU.point_cell_expr(F.col(lon), F.col(lat), z))
        cand = probe.join(exploded, "cell", "inner").drop("cell")
    else:
        # geodetic: lon degrees shrink by cos(lat), so the x-ring widens
        # per target with the worst latitude either endpoint of a match
        # can reach (|tlat| + rad_deg). Targets whose matches can touch
        # the polar caps (cos → 0) go to an exact brute-force leg instead
        # of an unbounded explosion. The window itself wraps across the
        # antimeridian (see _explode_neighbor_cells).
        POLAR_CUTOFF = 85.0
        n = 1 << z
        cellw = 360.0 / n
        pair_lat = F.abs(F.col("_tlat")) + F.lit(rad_deg)
        main_t = tgt.filter(pair_lat < POLAR_CUTOFF)
        polar_t = tgt.filter(pair_lat >= POLAR_CUTOFF)
        # +1: cell-edge alignment can push |Δtx| to floor(Δlon/cellw)+1
        ring_x = F.ceil(
            F.lit(rad_deg) / (F.lit(cellw) * F.cos(F.radians(pair_lat)))
        ) + F.lit(1)
        exploded = _explode_neighbor_cells(main_t, "_tlon", "_tlat", z, 1, ring_x=ring_x)
        # worst-case x-span at the cutoff bounds the explosion factor
        max_span = 2 * (math.ceil(rad_deg / (cellw * math.cos(math.radians(POLAR_CUTOFF)))) + 1) + 1
        if _n_targets() * 3 * max_span <= broadcast_targets_rows:
            exploded = F.broadcast(exploded)
        probe = pts.withColumn("cell", IU.point_cell_expr(F.col(lon), F.col(lat), z))
        cand = probe.join(exploded, "cell", "inner").drop("cell")
        # polar leg: few targets by construction; probes prefiltered by
        # the only geometry that can reach them (lat within rad_deg)
        polar_probe = pts.filter(
            F.abs(F.col(lat)) >= F.lit(POLAR_CUTOFF - 2.0 * rad_deg)
        )
        cand = cand.unionByName(polar_probe.crossJoin(F.broadcast(polar_t)))
    out = cand.withColumn(
        "dist",
        _dist_expr(F.col(lon), F.col(lat), F.col("_tlon"), F.col("_tlat"), metric),
    ).filter(F.col("dist") <= radius)
    return out.drop("_tlon", "_tlat").withColumnRenamed("_tid", target_id)
