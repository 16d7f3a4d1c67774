"""rasterize priority/partial modes and merged-mode vectorize
(reference: pythongis/raster/manager.py:933-972, 1076-1142)."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pythongis_spark.geometry import core as G
from pythongis_spark.geometry import wkb as W
from pythongis_spark.raster.model import RasterDef
from pythongis_spark.raster.zonal import (
    _trace_region_rings,
    rasterize,
    vectorize_merged,
)

RD = RasterDef(10, 10, (1.0, 0.0, 0.0, 0.0, -1.0, 10.0))


def _rect(x0, y0, x1, y1):
    return W.wkb_polygon(
        np.array([[x0, y0], [x1, y0], [x1, y1], [x0, y1], [x0, y0]], float)
    )


def test_rasterize_priority(spark):
    # two overlapping rectangles; priority picks the higher-priority one
    feats = spark.createDataFrame(
        pd.DataFrame(
            {
                "fid": [1, 2],
                "v": [10.0, 20.0],
                "pri": [1, 5],
                "geom": [_rect(0, 0, 6, 10), _rect(4, 0, 10, 10)],
            }
        )
    )
    out = rasterize(
        feats, RD, valuekey="v", stat="sum", priority_col="pri"
    ).toPandas().set_index(["x", "y"])["val"]
    # overlap zone x in [4,6): only feature 2 (pri 5) survives
    assert out[(4, 5)] == 20.0 and out[(5, 5)] == 20.0
    assert out[(1, 5)] == 10.0 and out[(8, 5)] == 20.0


def test_rasterize_partial_weights(spark):
    # rectangle covering half of the border cells: partial weights by
    # covered fraction; total mass == exact geometric area * value
    feats = spark.createDataFrame(
        pd.DataFrame({"fid": [1], "v": [2.0], "geom": [_rect(0.5, 0.5, 3.5, 3.5)]})
    )
    out = rasterize(feats, RD, valuekey="v", stat="sum", partial=True).toPandas()
    total = out["val"].sum()
    assert total == pytest.approx(2.0 * 9.0)  # area 3x3
    got = out.set_index(["x", "y"])["val"]
    # interior cell fully covered
    assert got[(1, 7)] == pytest.approx(2.0)
    # corner cell quarter covered
    assert got[(0, 9)] == pytest.approx(0.5)
    # without partial, center-rule drops the half-covered border cells
    strict = rasterize(feats, RD, valuekey="v", stat="sum").toPandas()
    assert len(strict) < len(out)


def test_trace_simple_square():
    rings = _trace_region_rings({(0, 0), (1, 0), (0, 1), (1, 1)})
    assert len(rings) == 1
    assert abs(G.ring_signed_area(rings[0])) == pytest.approx(4.0)


def test_trace_region_with_hole():
    cells = {(x, y) for x in range(3) for y in range(3)} - {(1, 1)}
    rings = _trace_region_rings(cells)
    areas = sorted(G.ring_signed_area(r) for r in rings)
    assert len(rings) == 2
    assert areas[1] == pytest.approx(9.0)   # exterior CCW
    assert areas[0] == pytest.approx(-1.0)  # hole CW


def test_trace_pinch_vertex():
    # U-shape folded to touch diagonally: {(0,0),(1,1)} not 4-connected,
    # but {(0,0),(1,0),(1,1)} pinches nothing; use the classic diagonal
    # double-lobe within one edge set
    rings = _trace_region_rings({(0, 0), (1, 1)})
    # two separate loops, one per lobe (no crossing)
    assert len(rings) == 2
    for r in rings:
        assert abs(G.ring_signed_area(r)) == pytest.approx(1.0)


def test_vectorize_merged(spark):
    # two regions of value 1 (L-shape + distant square) and one of value 2
    rows = []
    lshape = [(0, 0), (0, 1), (1, 1)]
    far = [(5, 5), (6, 5)]
    other = [(3, 3)]
    for x, y in lshape + far:
        rows.append((x, y, 0, 1.0))
    for x, y in other:
        rows.append((x, y, 0, 2.0))
    cells = spark.createDataFrame(rows, "x INT, y INT, band INT, val DOUBLE")
    out = vectorize_merged(cells, RD).toPandas()
    assert len(out) == 3
    by_val = out.groupby("val")["n_cells"].sum()
    assert by_val[1.0] == 5 and by_val[2.0] == 1
    for _, r in out.iterrows():
        g = W.decode_wkb(bytes(r["geom"]))
        assert G.polygon_area(g) == pytest.approx(float(r["n_cells"]))


def test_vectorize_merged_hole(spark):
    rows = [
        (x, y, 0, 7.0)
        for x in range(3)
        for y in range(3)
        if not (x == 1 and y == 1)
    ]
    cells = spark.createDataFrame(rows, "x INT, y INT, band INT, val DOUBLE")
    out = vectorize_merged(cells, RD).toPandas()
    assert len(out) == 1
    g = W.decode_wkb(bytes(out.iloc[0]["geom"]))
    assert g[0] == "Polygon" and len(g[1]) == 2  # exterior + hole
    assert G.polygon_area(g) == pytest.approx(8.0)


def test_distance_raster_exact_vs_brute(spark):
    from pythongis_spark.raster.zonal import distance_raster

    rd = RasterDef(12, 8, (1.0, 0.0, 0.0, 0.0, -1.0, 8.0))
    feats = spark.createDataFrame(
        pd.DataFrame(
            {
                "fid": [1, 2],
                "geom": [
                    W.wkb_point(2.5, 5.5),   # cell (2, 2)
                    _rect(8, 1, 10, 3),       # cells x 8..9, y 5..6
                ],
            }
        )
    )
    out = distance_raster(feats, rd).toPandas().set_index(["x", "y"])["val"]
    # brute force: occupied set from the same rasterize rule
    from pythongis_spark.raster.zonal import rasterize

    occ = rasterize(feats, rd, stat="count").toPandas()
    occ_set = list(zip(occ["x"], occ["y"]))
    assert len(out) == 12 * 8
    for x in range(12):
        for y in range(8):
            want = min(
                np.hypot(float(x - ox), float(y - oy)) for ox, oy in occ_set
            )
            assert out[(x, y)] == pytest.approx(want, abs=1e-9), (x, y)


def test_distance_raster_anisotropic(spark):
    from pythongis_spark.raster.zonal import distance_raster

    rd = RasterDef(6, 6, (2.0, 0.0, 0.0, 0.0, -1.0, 6.0))  # 2x1 cells
    feats = spark.createDataFrame(
        pd.DataFrame({"fid": [1], "geom": [W.wkb_point(1.0, 5.5)]})  # cell (0,0)
    )
    out = distance_raster(feats, rd).toPandas().set_index(["x", "y"])["val"]
    assert out[(0, 0)] == 0.0
    assert out[(3, 0)] == pytest.approx(6.0)   # 3 cells * 2.0 wide
    assert out[(0, 4)] == pytest.approx(4.0)   # 4 cells * 1.0 tall
    assert out[(3, 4)] == pytest.approx(np.hypot(6.0, 4.0))


def test_giant_feature_runs_cover_full_grid(spark):
    """A polygon covering the whole grid: both cover rules emit at most
    one run per grid row, and expanding them gives every cell exactly
    once (partial: every weight exactly 1.0)."""
    from pythongis_spark.raster import zonal as Z

    rd = RasterDef(width=360, height=180,
                   affine=(1.0, 0.0, -180.0, 0.0, -1.0, 90.0))
    ring = np.array([[-200, -100], [200, -100], [200, 100], [-200, 100],
                     [-200, -100]], dtype=float)
    df = spark.createDataFrame(
        pd.DataFrame({"zid": [7], "geom": [W.wkb_polygon(ring)]})
    )
    g = W.decode_wkb(W.wkb_polygon(ring))
    assert len(Z._cover_intervals(g, rd)[0]) <= rd.height
    assert len(Z._partial_intervals(g, rd)[0]) <= rd.height
    cells = Z.cover_cells(df, rd, "geom")
    assert cells.count() == 360 * 180
    assert cells.select("x", "y").distinct().count() == 360 * 180
    w = Z.cover_cells(df, rd, "geom", partial=True)
    row = w.agg(F.count("*").alias("n"),
                F.countDistinct("x", "y").alias("cells"),
                F.min("w").alias("mn"), F.max("w").alias("mx")).collect()[0]
    assert row["n"] == row["cells"] == 360 * 180
    assert row["mn"] == 1.0 and row["mx"] == 1.0


def test_small_feature_cover_on_large_grid(spark):
    from pythongis_spark.raster import zonal as Z

    rd = RasterDef(width=360, height=180,
                   affine=(1.0, 0.0, -180.0, 0.0, -1.0, 90.0))
    ring = np.array([[0, 0], [10, 0], [10, 10], [0, 10], [0, 0]], dtype=float)
    df = spark.createDataFrame(
        pd.DataFrame({"zid": [1], "geom": [W.wkb_polygon(ring)]})
    )
    assert Z.cover_cells(df, rd, "geom").count() == 100
    # edges on cell boundaries: the partial cover is the same 100 cells
    w = [r["w"] for r in Z.cover_cells(df, rd, "geom", partial=True).collect()]
    assert len(w) == 100 and set(w) == {1.0}


# ------------------------------------------------------------------
# centre-rule cover as grid-row runs: parity with the per-cell rule
# ------------------------------------------------------------------

def _closed(*pts):
    a = np.array(pts, float)
    return np.vstack([a, a[:1]])


# every input lies in the world box [0, 10]², which each affine below maps
# onto its 10 × 10 grid; cell centres sit on the .5 lattice
PARITY_GEOMS = {
    "hole": W.wkb_polygon(
        _closed((0.2, 0.2), (9.3, 0.2), (9.3, 9.1), (0.2, 9.1)),
        [_closed((3.1, 3.2), (6.6, 3.2), (6.6, 6.7), (3.1, 6.7))],
    ),
    "multipolygon": W.wkb_multipolygon([
        (_closed((0.4, 0.6), (4.3, 1.1), (2.2, 4.8)), []),
        (_closed((5.1, 5.3), (9.7, 6.2), (7.4, 9.6)), []),
    ]),
    # concave: the rows between the arms hold two runs
    "u_shape": W.wkb_polygon(
        _closed((1, 1), (9, 1), (9, 9), (7, 9), (7, 3), (3, 3), (3, 9), (1, 9))
    ),
    # horizontal edge exactly on the centre row y = 5.5
    "centre_row_edge": W.wkb_polygon(
        _closed((1.2, 5.5), (8.8, 5.5), (7.1, 8.3), (2.2, 8.9))
    ),
    # vertices on a cell centre (2.5, 1.5) and on the centre row y = 5.5
    "centre_vertex": W.wkb_polygon(
        _closed((2.5, 1.5), (8.3, 5.5), (5.5, 9.2), (0.9, 5.5))
    ),
    # vertical edges on the centre columns x = 1.5 and x = 6.5
    "centre_column_edges": W.wkb_polygon(
        _closed((1.5, 2.2), (6.5, 2.2), (6.5, 7.8), (1.5, 7.8))
    ),
    # unclosed ring: rows crossed an odd number of times
    "unclosed": W.wkb_polygon(np.array([[1.2, 1.3], [8.7, 2.1], [6.3, 9.4]])),
    "line": W.wkb_linestring(np.array([[0.3, 0.4], [9.6, 7.7], [4.4, 9.8]])),
    # centres exactly half a cell from the line (dyadic, so exact)
    "line_half_cell": W.wkb_linestring(np.array([[0.0, 5.0], [8.0, 5.0]])),
    # two points in one cell, one outside the grid
    "multipoint": W.wkb_multipoint([(2.2, 2.3), (2.7, 2.9), (8.1, 0.6), (12.0, 3.0)]),
}


def _per_cell_cover(g, rd):
    """The per-cell centre rule: every bbox cell centre tested on its own."""
    from collections import Counter

    from pythongis_spark.raster import zonal as Z

    if g[0] in ("Point", "MultiPoint"):
        c = W.all_coords(g)
        cx = np.floor((c[:, 0] - rd.xoffset) / rd.xscale).astype(int)
        cy = np.floor((c[:, 1] - rd.yoffset) / rd.yscale).astype(int)
        k = (cx >= 0) & (cx < rd.width) & (cy >= 0) & (cy < rd.height)
        return Counter(zip(cx[k].tolist(), cy[k].tolist()))
    x0, x1, y0, y1 = Z._grid_bbox(g, rd)
    xs, ys = np.meshgrid(np.arange(x0, x1 + 1), np.arange(y0, y1 + 1))
    xs, ys = xs.ravel(), ys.ravel()
    px = rd.xoffset + (xs + 0.5) * rd.xscale
    py = rd.yoffset + (ys + 0.5) * rd.yscale
    if g[0] in ("Polygon", "MultiPolygon"):
        inside = G.points_in_polygon(px, py, g)
    else:
        inside = G.points_to_geom_dist(px, py, g) <= 0.5 * abs(rd.xscale)
    return Counter(zip(xs[inside].tolist(), ys[inside].tolist()))


@pytest.mark.parametrize(
    "affine",
    [
        (1.0, 0.0, 0.0, 0.0, -1.0, 10.0),   # north-up
        (-1.0, 0.0, 10.0, 0.0, -1.0, 10.0),  # xscale < 0: descending centres
        (1.0, 0.0, 0.0, 0.0, 1.0, 0.0),     # yscale > 0
    ],
    ids=["north_up", "xscale_neg", "yscale_pos"],
)
def test_cover_cells_matches_per_cell_rule(spark, affine):
    from collections import Counter

    from pythongis_spark.raster.zonal import cover_cells

    rd = RasterDef(10, 10, affine)
    names = list(PARITY_GEOMS)
    df = spark.createDataFrame(
        pd.DataFrame({"fid": range(len(names)), "geom": list(PARITY_GEOMS.values())})
    )
    got = {n: Counter() for n in names}
    for r in cover_cells(df, rd).collect():
        got[names[r["fid"]]][(r["x"], r["y"])] += 1
    for n in names:
        want = _per_cell_cover(W.decode_wkb(PARITY_GEOMS[n]), rd)
        assert want, n
        assert got[n] == want, n
    assert 2 in got["multipoint"].values()  # duplicates stay duplicates

    # partial leg: fractional weights from the same runs
    weights = _partial_cover(spark, PARTIAL_GEOMS, rd)
    for n, b in PARTIAL_GEOMS.items():
        assert _partial_cover_errors(W.decode_wkb(b), rd, weights[n]) == [], n
    assert not weights["off_grid"]
    assert set(weights["larger_than_grid"].values()) == {(1.0,)}
    assert len(weights["larger_than_grid"]) == 100
    # overlapping parts: union capped at 1, border weights from both
    assert max(w for (w,) in weights["overlapping_parts"].values()) == 1.0


# polygonal cases of the partial cover, in the same [0, 10]² world box
PARTIAL_GEOMS = {
    "hole": PARITY_GEOMS["hole"],
    "overlapping_parts": W.wkb_multipolygon([
        (_closed((0.4, 0.6), (7.3, 1.1), (5.2, 7.8)), []),
        (_closed((2.1, 2.3), (9.7, 4.2), (6.4, 9.6)), []),
    ]),
    "u_shape": PARITY_GEOMS["u_shape"],
    # edges on the cell boundaries x = 2, x = 7 and y = 1
    "cell_edge": W.wkb_polygon(_closed((2, 1), (7, 1), (7, 8), (4.6, 9.3), (2, 8))),
    # every vertex on a cell corner; the diagonals cross cell corners
    "corner_vertex": W.wkb_polygon(_closed((5, 1), (9, 5), (5, 9), (1, 5))),
    "larger_than_grid": W.wkb_polygon(
        _closed((-3.3, -2.1), (13.2, -1.7), (12.6, 12.4), (-2.8, 11.9))
    ),
    "off_grid": W.wkb_polygon(_closed((12, 12), (15, 12), (14, 15))),
    "unclosed": PARITY_GEOMS["unclosed"],
}

# a per-cell clip fraction this close to 0 or 1 is rounding on a cell no
# edge enters
_WHOLE = 1e-12


def _partial_cover(spark, geoms, rd):
    """name -> {(x, y): (w, ...)} from cover_cells(partial=True)."""
    from collections import defaultdict

    from pythongis_spark.raster.zonal import cover_cells

    names = list(geoms)
    df = spark.createDataFrame(
        pd.DataFrame({"fid": range(len(names)), "geom": list(geoms.values())})
    )
    got = {n: defaultdict(tuple) for n in names}
    for r in cover_cells(df, rd, partial=True).collect():
        got[names[r["fid"]]][(r["x"], r["y"])] += (r["w"],)
    return got


def _edge_meets(p, q, xmin, ymin, xmax, ymax) -> bool:
    """Liang–Barsky: does segment pq meet the closed rectangle?"""
    t0, t1 = 0.0, 1.0
    d = q - p
    for pk, qk in ((-d[0], p[0] - xmin), (d[0], xmax - p[0]),
                   (-d[1], p[1] - ymin), (d[1], ymax - p[1])):
        if pk == 0:
            if qk < 0:
                return False
        elif pk < 0:
            t0 = max(t0, qk / pk)
        else:
            t1 = min(t1, qk / pk)
    return t0 <= t1


def _partial_cover_errors(g, rd, got) -> list:
    """Compare a partial cover ``{(x, y): (w, ...)}`` with
    ``_cover_fraction`` over every bbox cell: one row per cell; a
    fractional cell carries its per-cell weight bit for bit; a cell whose
    fraction is 0 or 1 up to ``_WHOLE`` reads exactly 1.0 or is absent,
    and may carry its per-cell weight only when a ring edge meets it."""
    from pythongis_spark.raster.zonal import _cover_fraction, _grid_bbox

    rings = [r if np.array_equal(r[0], r[-1]) else np.vstack([r, r[:1]])
             for r in W.iter_rings(g)]
    edges = [(r[i], r[i + 1]) for r in rings for i in range(len(r) - 1)]
    got = dict(got)
    errors = [("duplicate", k, w) for k, w in got.items() if len(w) != 1]
    bb = _grid_bbox(g, rd)
    cells = [] if bb is None else [
        (x, y) for x in range(bb[0], bb[1] + 1) for y in range(bb[2], bb[3] + 1)
    ]
    for x, y in cells:
        v = _cover_fraction(g, rd, x, y)
        w = got.pop((x, y), (None,))[0]
        per_cell = v if v > 0 else None
        whole = 1.0 if v >= 1 - _WHOLE else None if v < _WHOLE else "fraction"
        if whole == "fraction" or w not in (per_cell, whole):
            if w != per_cell:
                errors.append(("weight", (x, y), v, w))
            continue
        xa, xb = sorted((rd.xoffset + x * rd.xscale, rd.xoffset + (x + 1) * rd.xscale))
        ya, yb = sorted((rd.yoffset + y * rd.yscale, rd.yoffset + (y + 1) * rd.yscale))
        if w != whole and not any(_edge_meets(p, q, xa, ya, xb, yb) for p, q in edges):
            errors.append(("not whole", (x, y), v, w))
    errors += [("outside bbox", k, w) for k, w in got.items()]
    return errors


def _ngon(cx, cy, r, n):
    t = np.linspace(0, 2 * np.pi, n, endpoint=False)
    return _closed(*zip(cx + r * np.cos(t), cy + r * np.sin(t)))


@pytest.mark.parametrize(
    "affine",
    [
        (1 / 3, 0.0, -180.0, 0.0, -1 / 3, 90.0),
        (-1 / 3, 0.0, 180.0, 0.0, -1 / 3, 90.0),
        (1 / 3, 0.0, -180.0, 0.0, 1 / 3, -90.0),
    ],
    ids=["north_up", "xscale_neg", "yscale_pos"],
)
def test_partial_cover_whole_cells_exact(spark, affine):
    # on a 1/3° grid the per-cell clip of a wholly covered cell reads
    # 1 - 1e-14-ish, and of a cell wholly inside a clockwise hole 1e-16-ish:
    # the runs read exactly 1.0 and drop the hole cells
    from pythongis_spark.raster.zonal import _cover_fraction, _grid_bbox

    rd = RasterDef(1080, 540, affine)
    blob = W.wkb_polygon(_ngon(0.3, 0.2, 6.0, 48), [_ngon(0.8, -0.1, 3.5, 12)[::-1]])
    g = W.decode_wkb(blob)
    got = _partial_cover(spark, {"holed": blob}, rd)["holed"]
    assert _partial_cover_errors(g, rd, got) == []
    x0, x1, y0, y1 = _grid_bbox(g, rd)
    per_cell = {(x, y): _cover_fraction(g, rd, x, y)
                for x in range(x0, x1 + 1) for y in range(y0, y1 + 1)}
    rounded = [k for k, v in per_cell.items() if 1 - _WHOLE <= v < 1.0]
    residue = [k for k, v in per_cell.items() if 0.0 < v < _WHOLE]
    assert rounded and residue
    assert all(got[k] == (1.0,) for k in rounded)
    assert not any(k in got for k in residue)


def test_partial_cover_rejects_lines(spark):
    from pythongis_spark.raster.zonal import _partial_intervals, cover_cells

    line = PARITY_GEOMS["line"]
    with pytest.raises(ValueError, match="polygonal"):
        _partial_intervals(W.decode_wkb(line), RD)
    df = spark.createDataFrame(pd.DataFrame({"fid": [0], "geom": [line]}))
    with pytest.raises(Exception, match="partial rasterize needs polygonal"):
        cover_cells(df, RD, partial=True).collect()


def test_cover_runs_split_concave_rows():
    from pythongis_spark.raster.zonal import _cover_intervals

    y, x0, x1 = _cover_intervals(W.decode_wkb(PARITY_GEOMS["u_shape"]), RD)
    rows, n_runs = np.unique(y, return_counts=True)
    assert n_runs.max() == 2 and n_runs.min() == 1
    assert (x1 >= x0).all()


def test_cover_runs_row_blocks_do_not_change_result(monkeypatch):
    # a tiny element budget forces one block per row (polygons) and per
    # few rows (lines); the runs must not change
    from pythongis_spark.raster import zonal as Z

    full = {n: Z._cover_intervals(W.decode_wkb(b), RD) for n, b in PARITY_GEOMS.items()}
    monkeypatch.setattr(Z, "_SCAN_BLOCK_ELEMS", 3)
    for n, b in PARITY_GEOMS.items():
        got = Z._cover_intervals(W.decode_wkb(b), RD)
        for a, e in zip(got, full[n]):
            np.testing.assert_array_equal(np.sort(a), np.sort(e), err_msg=n)


# ------------------------------------------------------------------
# plan cache: the point_in_polygon_join broadcast build side; zonal
# statistics plan without it
# ------------------------------------------------------------------

def _zone_layer(spark, x0):
    return spark.createDataFrame(
        pd.DataFrame({"zone_id": [x0], "geom": [_rect(x0, 0, x0 + 3, 3)]})
    )


def _value_cells(spark):
    return spark.createDataFrame(
        [(x, y, 0, float(10 * x + y)) for x in range(10) for y in range(10)],
        "x INT, y INT, band INT, val DOUBLE",
    )


def _zone_sum(x0):
    # _rect(x0, 0, x0 + 3, 3) covers columns x0..x0+2, rows 7..9 of RD
    return float(sum(10 * x + y for x in range(x0, x0 + 3) for y in range(7, 10)))


def _zonal_call(spark):
    from pythongis_spark.raster import zonal as Z

    cells = _value_cells(spark)
    return lambda zones: Z.zonal_statistics(
        zones, cells, RD, stats=["count", "sum"]
    ).select("zone_id", "count", "sum")


def test_zonal_statistics_plans_with_no_job(spark, pcache):
    """A fresh zone layer's runs join plans without running a job, and
    leaves nothing persisted behind."""
    import uuid

    sc = spark.sparkContext
    run, zones = _zonal_call(spark), _zone_layer(spark, 0)
    group = f"zonal-plan-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        planned = run(zones)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert list(sc.statusTracker().getJobIdsForGroup(group) or []) == []
    assert not pcache
    assert [tuple(r) for r in planned.collect()] == [(0, 9, _zone_sum(0))]


PIP_Z = 8


def _pip_call(spark):
    from pythongis_spark.operators.spatial_join import point_in_polygon_join

    # one point per RD cell centre, carrying that cell's value
    pts = spark.createDataFrame(
        [(10 * x + y, x + 0.5, 9.5 - y, float(10 * x + y))
         for x in range(10) for y in range(10)],
        "pid INT, lon DOUBLE, lat DOUBLE, val DOUBLE",
    )
    return lambda zones: (
        point_in_polygon_join(pts, zones, point_id="pid", z=PIP_Z)
        .groupBy("zone_id")
        .agg(F.count("*").alias("count"), F.sum("val").alias("sum"))
    )


# kind -> (call(spark) -> run(zones) planning (zone_id, count, sum) rows,
#          facts -> memoized sizing count, its value for _zone_layer(spark, 0))
CACHED = {
    # the 3 x 3 degree rect spans 3 x 6 level-8 index cells: the layer
    # profile's cell total at PIP_Z
    "pip_build": (
        _pip_call, lambda facts: facts[("profile", "geom", 4096)].cells[PIP_Z], 18
    ),
}


def _frame(facts):
    """The one persisted frame among an entry's facts."""
    [frame] = [v for v in facts.values() if isinstance(v, DataFrame)]
    return frame


@pytest.mark.parametrize("kind", CACHED)
def test_plan_cache_hit_reuses_frame_and_count(spark, pcache, monkeypatch, kind):
    call, count_fact, n_cells = CACHED[kind]
    run, zones = call(spark), _zone_layer(spark, 0)
    first = run(zones).collect()
    [(key, (_, facts))] = pcache.items()
    frame = _frame(facts)
    assert count_fact(facts) == n_cells
    counted = []
    orig = type(frame).count
    monkeypatch.setattr(type(frame), "count", lambda df: counted.append(df) or orig(df))
    again = run(zones)
    assert counted == []  # the memoized count: no sizing job on a hit
    assert list(pcache) == [key] and _frame(pcache[key][1]) is frame
    assert sorted(again.collect()) == sorted(first)
    assert [tuple(r) for r in first] == [(0, 9, _zone_sum(0))]


@pytest.mark.parametrize("kind", CACHED)
def test_plan_cache_collision_persists_afresh(spark, pcache, monkeypatch, kind):
    run = CACHED[kind][0](spark)
    a, b = _zone_layer(spark, 0), _zone_layer(spark, 5)
    # every plan hashes alike: only sameSemantics tells the layers apart
    monkeypatch.setattr(type(a), "semanticHash", lambda df: 0)
    run(a)
    displaced = _frame(pcache[0][1])
    assert displaced.is_cached
    out = run(b).collect()
    assert len(pcache) == 1 and _frame(pcache[0][1]) is not displaced
    assert not displaced.is_cached and not displaced.storageLevel.useMemory
    # b's cells, not a's cached ones
    assert [tuple(r) for r in out] == [(5, 9, _zone_sum(5))]


@pytest.mark.parametrize("kind", CACHED)
def test_plan_cache_evicts_least_recently_used(spark, pcache, monkeypatch, kind):
    from pythongis_spark import plan_cache

    monkeypatch.setattr(plan_cache, "MAX_PLANS", 2)
    run = CACHED[kind][0](spark)
    layers = [_zone_layer(spark, x0) for x0 in (0, 3, 6)]

    def plan(i):
        run(layers[i])
        return _frame(next(reversed(pcache.values()))[1])

    f0, f1 = plan(0), plan(1)
    assert plan(0) is f0  # hit: layer 0 becomes the most recently used
    f2 = plan(2)
    assert [_frame(facts) for _, facts in pcache.values()] == [f0, f2]
    assert not f1.is_cached and not f1.storageLevel.useMemory
    assert f0.is_cached and f2.is_cached


@pytest.mark.parametrize("kind", CACHED)
def test_plan_cache_clear_releases_frames(spark, pcache, kind):
    from pythongis_spark import plan_cache

    run, zones = CACHED[kind][0](spark), _zone_layer(spark, 0)
    run(zones)
    old = _frame(pcache[next(iter(pcache))][1])
    plan_cache.clear()
    assert not pcache
    assert not old.is_cached and not old.storageLevel.useMemory
    out = run(zones).collect()
    fresh = _frame(pcache[next(iter(pcache))][1])
    assert fresh is not old and fresh.is_cached
    assert [tuple(r) for r in out] == [(0, 9, _zone_sum(0))]
