"""Raster model / algebra / zonal tests vs small numpy oracles."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from pythongis_spark import fixtures as FX
from pythongis_spark.geometry import wkb as W
from pythongis_spark.raster import algebra as A
from pythongis_spark.raster import model as M
from pythongis_spark.raster import zonal as Z

RD = M.RasterDef(36, 18, (10.0, 0.0, -180.0, 0.0, -10.0, 90.0))


@pytest.fixture(scope="module")
def cells(spark):
    return FX.raster_cells(spark, w=36, h=18, bands=2).cache()


def _np_grid(w=36, h=18, bands=2):
    x, y, b = np.meshgrid(np.arange(w), np.arange(h), np.arange(bands), indexing="ij")
    val = ((x * 7 + y * 13 + b * 17) % 1000) / 10.0
    nod = (x * 31 + y * 29 + b) % 20 == 0
    return x, y, b, np.where(nod, np.nan, val)


def test_fixture_matches_numpy(spark, cells):
    pdf = cells.toPandas()
    x, y, b, val = _np_grid()
    lookup = {(int(a), int(c), int(d)): v for a, c, d, v in zip(x.ravel(), y.ravel(), b.ravel(), val.ravel())}
    assert len(pdf) == 36 * 18 * 2
    for _, r in pdf.sample(50, random_state=0).iterrows():
        expect = lookup[(r["x"], r["y"], r["band"])]
        if np.isnan(expect):
            assert pd.isna(r["val"])
        else:
            assert r["val"] == expect


def test_band_stats(spark, cells):
    out = A.band_stats(cells, ["count", "sum", "mean", "min", "max", "median", "majority"]).toPandas()
    x, y, b, val = _np_grid()
    for _, r in out.iterrows():
        v = val[:, :, int(r["band"])]
        v = v[~np.isnan(v)]
        assert r["count"] == len(v)
        assert abs(r["sum"] - v.sum()) < 1e-6
        assert r["min"] == v.min() and r["max"] == v.max()
        assert abs(r["median"] - np.median(v)) < 1e-9


def test_map_algebra_and_compute(spark, cells):
    b0 = A.band(cells, 0)
    b1 = A.band(cells, 1)
    out = A.map_algebra("a + b * 2", a=b0, b=b1).toPandas()
    x, y, b, val = _np_grid()
    expect = val[:, :, 0] + val[:, :, 1] * 2
    some = out.dropna().sample(20, random_state=1)
    for _, r in some.iterrows():
        assert abs(r["val"] - expect[int(r["x"]), int(r["y"])]) < 1e-9
    # compute with condition preserves nodata
    c = A.compute(b0, "val * 0 + 1", condition="val > 50").toPandas()
    assert set(c["val"].dropna().unique()) <= {1.0} | set(
        v for v in val[:, :, 0].ravel() if not np.isnan(v) and v <= 50
    )


def test_map_algebra_rejects_multiband_input(spark, cells):
    """Passing a multi-band frame to map_algebra would silently produce
    a band cross-product through the (x, y) grid join — it must raise."""
    with pytest.raises(ValueError, match="multiple bands"):
        A.map_algebra("a + b", a=cells, b=A.band(cells, 0))
    with pytest.raises(ValueError, match="multiple bands"):
        A.sequence_interpolate(cells, A.band(cells, 1), 0.5)


def test_histogram_per_group_bounds_and_empty(spark):
    """Bin edges are per group (the reference histograms each Band
    separately): a [0,1]-range band next to a [0,1000]-range band keeps
    its own 10 bins instead of collapsing into bin 0. Empty input →
    empty frame, not a driver crash."""
    rows = ([(i, 0, 0, i / 100.0) for i in range(100)]
            + [(i, 0, 1, i * 10.0) for i in range(100)])
    df = spark.createDataFrame(rows, "x int, y int, band int, val double")
    h = A.histogram(df, bins=10).toPandas()
    per_band = h.groupby("band")["bin"].nunique()
    assert per_band[0] == 10 and per_band[1] == 10
    n = h.set_index(["band", "bin"])["n"]
    assert (n == 10).all()  # uniform data → 10 per bin in BOTH bands
    empty = df.filter("val IS NULL")
    assert A.histogram(empty, bins=10).count() == 0


def test_mosaic_last_wins(spark):
    a = spark.createDataFrame(
        pd.DataFrame({"x": [0, 1], "y": [0, 0], "band": [0, 0], "val": [1.0, None]})
    )
    b = spark.createDataFrame(
        pd.DataFrame({"x": [0, 1], "y": [0, 0], "band": [0, 0], "val": [9.0, 5.0]})
    )
    last = A.mosaic([a, b], "last").toPandas().set_index("x")["val"]
    first = A.mosaic([a, b], "first").toPandas().set_index("x")["val"]
    assert last[0] == 9.0 and last[1] == 5.0
    assert first[0] == 1.0 and first[1] == 5.0  # null in a -> falls through


def test_upscale_sum(spark, cells):
    out = A.upscale(A.band(cells, 0), 6, "sum").toPandas()
    assert len(out) == 6 * 3
    x, y, b, val = _np_grid()
    v = np.nan_to_num(val[:, :, 0])
    blk = v[:6, :6].sum()
    got = out[(out.x == 0) & (out.y == 0)]["val"].iloc[0]
    assert abs(got - blk) < 1e-9


def test_rasterize_and_zonal(spark):
    # two rectangles burned with their zone ids, then zonal stats
    z1 = W.wkb_polygon(np.array([[-180, -90], [0, -90], [0, 90], [-180, 90], [-180, -90]], float))
    z2 = W.wkb_polygon(np.array([[0, -90], [180, -90], [180, 90], [0, 90], [0, -90]], float))
    zones = spark.createDataFrame(
        pd.DataFrame({"zone_id": [1, 2], "geom": [z1, z2]})
    )
    burned = Z.rasterize(zones, RD, valuekey="zone_id", stat="sum").toPandas()
    # every grid cell center is in exactly one zone
    assert len(burned) == 36 * 18
    assert set(burned["val"].unique()) == {1.0, 2.0}
    west = burned[burned.x < 18]
    assert (west["val"] == 1.0).all()

    vals = FX.raster_cells(spark, w=36, h=18, bands=1)
    zs = Z.zonal_statistics(zones, vals, RD, stats=["count", "sum", "mean"]).toPandas()
    x, y, b, val = _np_grid(bands=1)
    v_west = val[:18, :, 0]
    v_west = v_west[~np.isnan(v_west)]
    r = zs[zs.zone_id == 1].iloc[0]
    assert r["count"] == len(v_west)
    assert abs(r["sum"] - v_west.sum()) < 1e-6


def test_crop_and_roll(spark, cells):
    c = M.crop(A.band(cells, 0), RD, (-180, 0, 0, 90), worldcoords=True).toPandas()
    assert c["x"].max() <= 18 and c["y"].max() <= 9
    r = M.roll(A.band(cells, 0), RD, 5, 0).toPandas()
    assert set(r["x"].unique()) == set(range(36))


def test_tile_windows_caps():
    wins = M.tile_windows(100, 50, 30, 30)
    assert len(wins) == 4 * 2
    last = wins[-1]
    assert last["x0"] == 90 and last["w"] == 10
    assert last["y0"] == 30 and last["h"] == 20


def test_interpolate_idw_exact_at_known(spark):
    pts = spark.createDataFrame(
        pd.DataFrame({"lon": [-175.0, 175.0], "lat": [85.0, -85.0], "v": [10.0, 50.0]})
    )
    rd = M.RasterDef(36, 18, (10.0, 0.0, -180.0, 0.0, -10.0, 90.0))
    out = Z.interpolate_idw(pts, rd, "v").toPandas()
    assert len(out) == 36 * 18
    known = out[(out.x == 0) & (out.y == 0)]["val"].iloc[0]
    assert known == 10.0
    mid = out[(out.x == 18) & (out.y == 9)]["val"].iloc[0]
    assert 10.0 < mid < 50.0


def test_density_smooth(spark):
    pts = spark.createDataFrame(
        pd.DataFrame({"lon": [-175.0, -175.0], "lat": [85.0, 85.0]})
    )
    rd = M.RasterDef(36, 18, (10.0, 0.0, -180.0, 0.0, -10.0, 90.0))
    out = Z.density_smooth(pts, rd, None, radius_cells=2).toPandas()
    center = out[(out.x == 0) & (out.y == 0)]["val"].iloc[0]
    assert center == 2.0  # weight 1 at d=0, both points in the cell
    assert (out["val"] <= 2.0).all()


def _box(x0, y0, x1, y1):
    return np.array([[x0, y0], [x1, y0], [x1, y1], [x0, y1], [x0, y0]], float)


def test_zonal_statistics_runs_join_matches_cell_join(spark):
    """The broadcast runs join counts every value cell once per covering
    run: the same stats as an (x, y) equi-join on the expanded cover
    cells, duplicate point cells included, on both x directions."""
    zones = spark.createDataFrame(pd.DataFrame({
        "zone_id": [1, 2, 3, 4, 5, 6],
        "geom": [
            W.wkb_polygon(_box(-150, -60, -30, 60), [_box(-120, -30, -60, 30)]),
            W.wkb_multipolygon([(_box(0, 0, 60, 60), []), (_box(30, 30, 90, 80), [])]),
            W.wkb_linestring(np.array([[-170, -80], [170, 70]], float)),
            W.wkb_multipoint(np.array([[15, -15], [15, -15], [95, 45]], float)),
            W.wkb_polygon(_box(200, 100, 250, 120)),
            W.wkb_polygon(_box(-500, -300, 500, 300)),
        ],
    }))
    vals = FX.raster_cells(spark, w=36, h=18, bands=2).withColumn(
        "val", F.col("val").cast("decimal(38,9)")
    )
    stats, key = ["count", "sum", "min", "max"], ["zone_id", "band"]
    for rd in (RD, M.RasterDef(36, 18, (-10.0, 0.0, 180.0, 0.0, -10.0, 90.0))):
        got = Z.zonal_statistics(zones, vals, rd, stats=stats)
        cells = Z.cover_cells(zones, rd).select("zone_id", "x", "y")
        want = A.band_stats(vals.join(cells, ["x", "y"]), stats, by=key)
        got = got.toPandas().sort_values(key).reset_index(drop=True)
        want = want.toPandas().sort_values(key).reset_index(drop=True)
        pd.testing.assert_frame_equal(got, want)
        assert sorted(set(got["zone_id"])) == [1, 2, 3, 4, 6]  # 5 is off the grid
        # both points of the repeated pair fall on a band-0 value cell
        assert got[(got.zone_id == 4) & (got.band == 0)]["count"].item() == 3


def test_idw_bounded_matches_unbounded_locally(spark):
    """Within the radius of every known point, the bounded IDW equals
    the exact value at known cells and stays within the known value
    range elsewhere; cells beyond every radius produce no row."""
    pts = spark.createDataFrame(
        pd.DataFrame({"lon": [-175.0, -105.0], "lat": [85.0, 85.0], "v": [10.0, 20.0]})
    )
    out = Z.interpolate_idw_bounded(pts, RD, "v", radius_cells=2).toPandas()
    got = out.set_index(["x", "y"])["val"]
    # known cells exact (cell (0,0) and (7,0))
    assert got[(0, 0)] == 10.0 and got[(7, 0)] == 20.0
    # no row outside every radius
    assert (3, 9) not in got.index
    # neighbours within radius exist and interpolate to the single value
    assert got[(1, 0)] == 10.0 and got[(6, 0)] == 20.0


def test_horn_terrain_numpy_parity(spark):
    """Horn gradients, slope, aspect, hillshade vs a straightforward
    numpy stencil on a small grid with a nodata hole."""
    import math

    import numpy as np
    from pyspark.sql import functions as F

    from pythongis_spark.raster.algebra import horn_terrain

    w, h = 12, 9
    rng = np.random.default_rng(3)
    z = rng.uniform(0, 100, size=(h, w))
    hole = (4, 5)
    rows = [
        (x, y, 0, None if (y, x) == hole else float(z[y, x]))
        for y in range(h) for x in range(w)
    ]
    df = spark.createDataFrame(rows, "x int, y int, band int, val double")
    out = {(r["x"], r["y"]): r for r in horn_terrain(df, cellsize=2.0).collect()}

    for y in range(h):
        for x in range(w):
            r = out[(x, y)]
            nb = [(x + dx, y + dy) for dy in (-1, 0, 1) for dx in (-1, 0, 1)]
            full = all(0 <= nx < w and 0 <= ny < h and (ny, nx) != hole
                       for nx, ny in nb)
            if not full:
                assert r["gx8"] is None and r["slope_deg"] is None, (x, y)
                continue
            a, b, c = z[y-1, x-1], z[y-1, x], z[y-1, x+1]
            d, _, f = z[y, x-1], z[y, x], z[y, x+1]
            g_, hh, i = z[y+1, x-1], z[y+1, x], z[y+1, x+1]
            gx8 = (c + 2*f + i) - (a + 2*d + g_)
            gy8 = (g_ + 2*hh + i) - (a + 2*b + c)
            assert abs(r["gx8"] - gx8) < 1e-9 and abs(r["gy8"] - gy8) < 1e-9
            dzdx, dzdy = gx8 / 16.0, gy8 / 16.0
            slope = math.degrees(math.atan(math.hypot(dzdx, dzdy)))
            assert abs(r["slope_deg"] - slope) < 1e-9
            aspect = (90.0 - math.degrees(math.atan2(dzdy, -dzdx))) % 360.0
            assert abs(r["aspect_deg"] - aspect) < 1e-9
            zen, azm = math.radians(45.0), math.radians(360 - 315 + 90)
            hs = 255.0 * (math.cos(zen) * math.cos(math.atan(math.hypot(dzdx, dzdy)))
                          + math.sin(zen) * math.sin(math.atan(math.hypot(dzdx, dzdy)))
                          * math.cos(azm - math.atan2(dzdy, -dzdx)))
            assert abs(r["hillshade"] - max(0.0, hs)) < 1e-9


def test_viewshed_wall_and_brute_force(spark):
    import math

    import numpy as np

    from pythongis_spark.raster.algebra import viewshed

    # 1-row DEM with a wall: cells behind it are hidden, the wall shows
    rows = [(x, 0, 0, [0.0, 0.0, 5.0, 0.0, 0.0][x]) for x in range(5)]
    df = spark.createDataFrame(rows, "x int, y int, band int, val double")
    vis = {(r["x"], r["y"]): r["visible"]
           for r in viewshed(df, 0, 0, observer_height=1.0, radius=10).collect()}
    assert vis[(0, 0)] and vis[(1, 0)] and vis[(2, 0)]
    assert not vis[(3, 0)] and not vis[(4, 0)]

    # 2D grid vs an independent numpy replay of the DDA spec
    w, h, R = 11, 9, 6
    rng = np.random.default_rng(9)
    z = np.round(rng.uniform(0, 8, size=(h, w)), 3)
    z[3, 4] = np.nan  # nodata hole (transparent, NULL target)
    cells = [(x, y, 0, None if math.isnan(z[y, x]) else float(z[y, x]))
             for y in range(h) for x in range(w)]
    df = spark.createDataFrame(cells, "x int, y int, band int, val double")
    ox, oy = 5, 4
    got = {(r["x"], r["y"]): r["visible"]
           for r in viewshed(df, ox, oy, 1.5, R).collect()}
    oz = z[oy, ox] + 1.5
    for (x, y), v in got.items():
        if math.isnan(z[y, x]):
            assert v is None
            continue
        L = max(abs(x - ox), abs(y - oy))
        d = math.hypot(x - ox, y - oy)
        mt = None
        for k in range(1, L):
            f = k / L
            sx = math.floor(ox + 0.5 + (x - ox) * f)
            sy = math.floor(oy + 0.5 + (y - oy) * f)
            if (sx, sy) == (x, y) or math.isnan(z[sy, sx]):
                continue
            t = (z[sy, sx] - oz) / (f * d)
            mt = t if mt is None else max(mt, t)
        expect = True if mt is None else (z[y, x] - oz) / d >= mt
        assert v == expect, (x, y)


def test_viewshed_sectors_matches_dda(spark):
    """The sector-decomposed scale path is bit-identical to the DDA
    explode on a nodata-holed random DEM (off-center observer so wedges
    clip the grid asymmetrically), including the boundary ring where
    sample cells floor just outside the radius."""
    import math

    import numpy as np

    from pythongis_spark.raster.algebra import viewshed, viewshed_sectors

    w, h, R = 21, 17, 9
    rng = np.random.default_rng(13)
    z = np.round(rng.uniform(0, 10, size=(h, w)), 3)
    z[5, 7] = np.nan
    z[12, 15] = np.nan
    cells = [(x, y, 0, None if math.isnan(z[y, x]) else float(z[y, x]))
             for y in range(h) for x in range(w)]
    df = spark.createDataFrame(cells, "x int, y int, band int, val double")
    for ox, oy, ns in [(10, 8, 8), (3, 2, 16)]:
        dda = {(r["x"], r["y"]): (r["dist"], r["visible"])
               for r in viewshed(df, ox, oy, 1.5, R).collect()}
        sec = {(r["x"], r["y"]): (r["dist"], r["visible"])
               for r in viewshed_sectors(df, ox, oy, 1.5, R,
                                         n_sectors=ns).collect()}
        assert dda == sec, (ox, oy, ns)


def test_viewshed_sectors_far_branch_many_sectors(spark):
    """Equivalence through the FAR (_r >= 32) replication branch with
    n_sectors large enough that sector width < the old 3-point probe
    gap (n_sectors > 2π·32/3 ≈ 67): the index-range replication must
    ship every blocker to every wedge that needs it — the sampled
    probes silently dropped blockers here and reported targets behind
    them visible."""
    import numpy as np

    from pythongis_spark.raster.algebra import viewshed, viewshed_sectors

    n, R = 90, 40
    rng = np.random.default_rng(7)
    z = np.round(rng.uniform(0, 30, size=(n, n)), 3)
    cells = [(x, y, 0, float(z[y, x])) for y in range(n) for x in range(n)]
    df = spark.createDataFrame(cells, "x int, y int, band int, val double")
    dda = {(r["x"], r["y"]): (r["dist"], r["visible"])
           for r in viewshed(df, 44, 43, 1.0, R).collect()}
    sec = {(r["x"], r["y"]): (r["dist"], r["visible"])
           for r in viewshed_sectors(df, 44, 43, 1.0, R,
                                     n_sectors=135).collect()}
    assert dda == sec


def test_viewshed_sectors_large_radius_rowcount(spark):
    """Radius 120 on a 256² DEM: the sector path shuffles O(cells) rows
    (the explode would be ~radius³ ≈ 1.7M sample rows) and completes;
    output rows = the in-radius disk exactly."""
    from pyspark.sql import functions as F

    from pythongis_spark.raster.algebra import viewshed_sectors

    n, R = 256, 120
    base = spark.range(n * n).select(
        (F.col("id") % n).cast("int").alias("x"),
        (F.col("id") / n).cast("int").alias("y"),
        F.lit(0).alias("band"),
        (F.pmod(F.col("id") * 2654435761, F.lit(97)) / 10.0).alias("val"),
    )
    out = viewshed_sectors(base, 128, 128, 2.0, R, n_sectors=64)
    got = out.agg(
        F.count("*").alias("n"),
        F.sum(F.col("visible").cast("int")).alias("nvis"),
    ).first()
    expect = sum(1 for x in range(n) for y in range(n)
                 if (x - 128) ** 2 + (y - 128) ** 2 <= R * R)
    assert got["n"] == expect
    assert 0 < got["nvis"] < got["n"]


def test_viewshed_and_cost_distance_invalid_start_raise(spark):
    """A missing or nodata observer/source cell raises up front instead
    of silently producing an all-visible viewshed / empty cost raster."""
    import pytest

    from pythongis_spark.raster.algebra import cost_distance, viewshed

    rows = [(x, 0, 0, None if x == 1 else 1.0) for x in range(3)]
    df = spark.createDataFrame(rows, "x int, y int, band int, val double")
    with pytest.raises(ValueError, match="missing or nodata"):
        viewshed(df, 9, 9, radius=5)          # absent cell
    with pytest.raises(ValueError, match="missing or nodata"):
        viewshed(df, 1, 0, radius=5)          # nodata cell
    with pytest.raises(ValueError, match="missing or nodata"):
        cost_distance(df, [(9, 9)], max_rounds=4)
    with pytest.raises(ValueError, match="missing or nodata"):
        cost_distance(df, [(1, 0)], max_rounds=4)


def test_bil_round_trip_all_layouts(spark, tmp_path):
    import numpy as np

    from pythongis_spark.raster.model import RasterDef
    from pythongis_spark.sources.bil import read_bil, write_bil

    w, h, bands = 7, 5, 2
    rng = np.random.default_rng(4)
    vals = np.round(rng.uniform(-50, 50, size=(bands, h, w)), 3)
    vals[0, 2, 3] = np.nan  # nodata hole
    cells = [(x, y, b, None if np.isnan(vals[b, y, x]) else float(vals[b, y, x]))
             for b in range(bands) for y in range(h) for x in range(w)]
    df = spark.createDataFrame(cells, "x int, y int, band int, val double")
    rd = RasterDef(w, h, (0.5, 0.0, 10.0, 0.0, -0.5, 20.0), nodata=-9999.0)

    for layout in ("BIL", "BIP", "BSQ"):
        p = str(tmp_path / f"r_{layout}.bil")
        write_bil(df, rd, p, bands=bands, layout=layout, nbits=64)
        out, rd2 = read_bil(spark, p)
        assert (rd2.width, rd2.height) == (w, h)
        assert rd2.affine == rd.affine
        got = {(r["x"], r["y"], r["band"]): r["val"] for r in out.collect()}
        assert (3, 2, 0) not in got  # nodata omitted
        for b in range(bands):
            for y in range(h):
                for x in range(w):
                    if np.isnan(vals[b, y, x]):
                        continue
                    assert got[(x, y, b)] == vals[b, y, x], (layout, x, y, b)


def test_bil_out_of_range_int_cast_raises(spark, tmp_path):
    """Casting the float grid into an integer pixel type must refuse
    values outside the dtype's range (the -9999 nodata fill wrapped into
    uint8 garbage that read back as real data)."""
    from pythongis_spark.raster.model import RasterDef
    from pythongis_spark.sources.bil import write_bil

    df = spark.createDataFrame(
        [(0, 0, 0, 12.0), (1, 0, 0, 250.0)],
        "x int, y int, band int, val double")
    rd = RasterDef(3, 1, (1.0, 0.0, 0.0, 0.0, -1.0, 1.0), nodata=-9999.0)
    with pytest.raises(ValueError, match="does not fit"):
        write_bil(df, rd, str(tmp_path / "bad.bil"),
                  pixeltype="UNSIGNEDINT", nbits=8)
    # representable nodata → fine
    rd2 = RasterDef(3, 1, (1.0, 0.0, 0.0, 0.0, -1.0, 1.0), nodata=255.0)
    write_bil(df, rd2, str(tmp_path / "ok.bil"),
              pixeltype="UNSIGNEDINT", nbits=8)


def test_bil_int16_big_endian(spark, tmp_path):
    """Hand-written big-endian INT16 BIL decodes per spec."""
    import struct

    from pythongis_spark.sources.bil import read_bil

    # 2 cols x 2 rows x 1 band, values 1, -2 / 300, 4, MSB first
    (tmp_path / "g.bil").write_bytes(struct.pack(">4h", 1, -2, 300, 4))
    (tmp_path / "g.hdr").write_text(
        "NROWS 2\nNCOLS 2\nNBANDS 1\nNBITS 16\nBYTEORDER M\nLAYOUT BIL\n"
        "PIXELTYPE SIGNEDINT\nULXMAP 0.5\nULYMAP 1.5\nXDIM 1\nYDIM 1\n")
    df, rd = read_bil(spark, str(tmp_path / "g.bil"))
    got = {(r["x"], r["y"]): r["val"] for r in df.collect()}
    assert got == {(0, 0): 1.0, (1, 0): -2.0, (0, 1): 300.0, (1, 1): 4.0}
    assert rd.affine == (1.0, 0.0, 0.0, 0.0, -1.0, 2.0)


def test_bil_row_padding_raises(spark, tmp_path):
    """TOTALROWBYTES larger than the packed row size means padded rows —
    the dense reader must refuse rather than misdecode silently. A
    header that states the exact packed sizes still reads fine."""
    import struct

    import pytest

    from pythongis_spark.sources.bil import read_bil

    (tmp_path / "p.bil").write_bytes(struct.pack(">4h", 1, -2, 300, 4))
    hdr = ("NROWS 2\nNCOLS 2\nNBANDS 1\nNBITS 16\nBYTEORDER M\nLAYOUT BIL\n"
           "PIXELTYPE SIGNEDINT\nULXMAP 0.5\nULYMAP 1.5\nXDIM 1\nYDIM 1\n")
    (tmp_path / "p.hdr").write_text(hdr + "BANDROWBYTES 4\nTOTALROWBYTES 8\n")
    with pytest.raises(NotImplementedError, match="row padding"):
        read_bil(spark, str(tmp_path / "p.bil"))

    (tmp_path / "p.hdr").write_text(hdr + "BANDROWBYTES 4\nTOTALROWBYTES 4\n")
    df, _ = read_bil(spark, str(tmp_path / "p.bil"))
    got = {(r["x"], r["y"]): r["val"] for r in df.collect()}
    assert got == {(0, 0): 1.0, (1, 0): -2.0, (0, 1): 300.0, (1, 1): 4.0}


def test_netcdf3_hand_fixture_and_roundtrip(spark, tmp_path):
    """Reader against a spec-assembled CDF-1 fixture (independent of
    the writer), then a full write->read round trip with fill holes."""
    import struct

    import numpy as np

    from pythongis_spark.raster.model import RasterDef
    from pythongis_spark.sources.netcdf3 import read_netcdf, write_netcdf

    def name(s):
        b = s.encode()
        return struct.pack(">i", len(b)) + b + b"\x00" * ((-len(b)) % 4)

    h, w = 2, 3
    data = np.array([[1.5, -2.0, 3.25], [4.0, -9999.0, 6.5]], dtype=">f8")
    ybytes = np.array([10.0, 20.0], dtype=">f8").tobytes()
    xbytes = np.array([100.0, 101.0, 102.0], dtype=">f8").tobytes()
    hdr = b"CDF\x01" + struct.pack(">i", 0)
    hdr += (struct.pack(">ii", 0x0A, 2) + name("y") + struct.pack(">i", h)
            + name("x") + struct.pack(">i", w))
    hdr += b"\x00" * 8 + struct.pack(">ii", 0x0B, 3)
    fill = (struct.pack(">ii", 0x0C, 1) + name("_FillValue")
            + struct.pack(">ii", 6, 1) + struct.pack(">d", -9999.0))
    entries = [
        name("y") + struct.pack(">ii", 1, 0) + b"\x00" * 8
        + struct.pack(">ii", 6, len(ybytes)),
        name("x") + struct.pack(">ii", 1, 1) + b"\x00" * 8
        + struct.pack(">ii", 6, len(xbytes)),
        name("temp") + struct.pack(">i", 2) + struct.pack(">ii", 0, 1)
        + fill + struct.pack(">ii", 6, data.nbytes),
    ]
    off = len(hdr) + sum(len(e) + 4 for e in entries)
    blob, begins = hdr, []
    for payload in (ybytes, xbytes, data.tobytes()):
        begins.append(off)
        off += len(payload)
    for e, b0 in zip(entries, begins):
        blob += e + struct.pack(">i", b0)
    blob += ybytes + xbytes + data.tobytes()
    p = tmp_path / "fix.nc"
    p.write_bytes(blob)

    df, rd = read_netcdf(spark, str(p))
    got = {(r["x"], r["y"]): r["val"] for r in df.collect()}
    assert got == {(0, 0): 1.5, (1, 0): -2.0, (2, 0): 3.25,
                   (0, 1): 4.0, (2, 1): 6.5}  # fill omitted
    assert rd.affine == (1.0, 0.0, 99.5, 0.0, 10.0, 5.0)

    # round trip through our writer (2 bands, nodata hole)
    cells = [(x, y, b, None if (x, y, b) == (1, 1, 0)
              else float(x * 7 + y * 13 + b * 29))
             for b in range(2) for y in range(4) for x in range(5)]
    src = spark.createDataFrame(cells, "x int, y int, band int, val double")
    rd0 = RasterDef(5, 4, (0.25, 0.0, -1.0, 0.0, -0.5, 3.0))
    out = tmp_path / "rt.nc"
    write_netcdf(src, rd0, str(out), var="z", bands=2)
    df2, rd2 = read_netcdf(spark, str(out), var="z")
    assert rd2.affine == rd0.affine
    got2 = {(r["x"], r["y"], r["band"]): r["val"] for r in df2.collect()}
    assert (1, 1, 0) not in got2 and len(got2) == 39
    for (x, y, b), v in got2.items():
        assert v == float(x * 7 + y * 13 + b * 29)


def test_netcdf3_single_short_record_var_unpadded(spark, tmp_path):
    """Unidata classic-format padding note: exactly ONE record variable
    of type byte/char/short is packed with NO per-record padding — the
    stride is the natural (here 6-byte) record size. A padded-stride
    reader returns garbage for every record after the first."""
    import struct

    import numpy as np

    from pythongis_spark.sources.netcdf3 import parse_netcdf, read_netcdf

    def name(s):
        b = s.encode()
        return struct.pack(">i", len(b)) + b + b"\x00" * ((-len(b)) % 4)

    recs = np.array([[1, -2, 300], [4, 5, -6]], dtype=">i2")
    hdr = b"CDF\x01" + struct.pack(">i", 2)  # numrecs = 2
    hdr += (struct.pack(">ii", 0x0A, 2) + name("time") + struct.pack(">i", 0)
            + name("x") + struct.pack(">i", 3))
    hdr += b"\x00" * 8 + struct.pack(">ii", 0x0B, 1)
    entry = (name("temp") + struct.pack(">i", 2) + struct.pack(">ii", 0, 1)
             + b"\x00" * 8 + struct.pack(">ii", 3, 8))  # short, vsize=8
    begin = len(hdr) + len(entry) + 4
    blob = hdr + entry + struct.pack(">i", begin)
    blob += recs[0].tobytes() + recs[1].tobytes()  # 6-byte packed records
    p = tmp_path / "shortrec.nc"
    p.write_bytes(blob)

    nc = parse_netcdf(blob)
    assert nc["vars"]["temp"]["data"].tolist() == [[1, -2, 300], [4, 5, -6]]

    df, _rd = read_netcdf(spark, str(p))
    got = {(r["x"], r["y"]): r["val"] for r in df.collect()}
    assert got == {(0, 0): 1.0, (1, 0): -2.0, (2, 0): 300.0,
                   (0, 1): 4.0, (1, 1): 5.0, (2, 1): -6.0}


def test_downscale_inverts_upscale(spark):
    from pyspark.sql import functions as F

    from pythongis_spark.raster.algebra import downscale, upscale

    cells = [(x, y, 0, float(x * 7 + y * 13)) for y in range(4) for x in range(6)]
    df = spark.createDataFrame(cells, "x int, y int, band int, val double")
    down = downscale(df, 2, "spread")
    assert down.count() == 4 * len(cells)
    # mass-preserving: upscale(sum) of the spread grid reproduces the input
    back = {(r["x"], r["y"]): r["val"] for r in upscale(down, 2, "sum").collect()}
    for x, y, _, v in cells:
        assert back[(x, y)] == v
    # copy replicates
    rep = {(r["x"], r["y"]): r["val"]
           for r in downscale(df, 2, "copy").collect()}
    assert rep[(5, 3)] == rep[(4, 2)] == float(2 * 7 + 1 * 13)


def test_cost_distance_dijkstra_parity_and_path(spark):
    """cost_distance vs a driver-side Dijkstra over the same step costs
    (wall + barrier forces a detour), plus the backtracked path."""
    import heapq
    import math

    import numpy as np

    from pythongis_spark.raster.algebra import cost_distance, least_cost_path

    w, h = 8, 6
    rng = np.random.default_rng(6)
    c = np.round(rng.uniform(1, 5, size=(h, w)), 2)
    c[1:5, 3] = np.nan  # vertical barrier with a gap at the top/bottom
    cells = [(x, y, 0, None if math.isnan(c[y, x]) else float(c[y, x]))
             for y in range(h) for x in range(w)]
    df = spark.createDataFrame(cells, "x int, y int, band int, val double")

    got = {(r["x"], r["y"]): r["dist"]
           for r in cost_distance(df, [(0, 0)], max_rounds=40).collect()}

    # reference Dijkstra with identical float steps
    offs = [(dx, dy, math.sqrt(2) if dx * dy else 1.0)
            for dx in (-1, 0, 1) for dy in (-1, 0, 1) if (dx, dy) != (0, 0)]
    dist = {(0, 0): 0.0}
    pq = [(0.0, (0, 0))]
    while pq:
        d0, (x, y) = heapq.heappop(pq)
        if d0 > dist.get((x, y), math.inf):
            continue
        for dx, dy, wgt in offs:
            nx, ny = x + dx, y + dy
            if not (0 <= nx < w and 0 <= ny < h) or math.isnan(c[ny, nx]):
                continue
            nd = d0 + ((c[y, x] + c[ny, nx]) / 2.0) * wgt
            if nd < dist.get((nx, ny), math.inf):
                dist[(nx, ny)] = nd
                heapq.heappush(pq, (nd, (nx, ny)))
    assert set(got) == set(dist)
    for k in dist:
        assert abs(got[k] - dist[k]) < 1e-12, k

    path = least_cost_path(df, (0, 0), (7, 5), max_rounds=40)
    assert path[0] == (7, 5) and path[-1] == (0, 0)
    # path is connected, monotone in dist, and avoids the barrier
    for (x1, y1), (x2, y2) in zip(path, path[1:]):
        assert max(abs(x1 - x2), abs(y1 - y2)) == 1
        assert got[(x2, y2)] < got[(x1, y1)]
        assert not math.isnan(c[y1, x1])

    # the driver-collect crop contract is enforced, not advisory
    import pytest

    with pytest.raises(ValueError, match="max_cells"):
        least_cost_path(df, (0, 0), (7, 5), max_rounds=40, max_cells=10)


def test_least_cost_path_backtrack_uses_step_cost(spark):
    """The backtrack must pick the predecessor minimizing
    d(nbr) + step(nbr, cur) — min d(nbr) alone walks into a low-dist
    diagonal decoy whose step into the expensive target cell is huge,
    returning a path costlier than the computed cost distance."""
    import math

    from pythongis_spark.raster.algebra import cost_distance, least_cost_path

    # (0,0)/(1,0) barriers; T=(2,0) c=20; S=(0,1), decoy D=(1,1),
    # true pred P=(2,1) all c=1. d(D)=1 < d(P)=2 but the diagonal
    # step D→T costs 14.85 vs P→T's 10.5 → optimal path goes via P.
    cells = [
        (2, 0, 0, 20.0),
        (0, 1, 0, 1.0), (1, 1, 0, 1.0), (2, 1, 0, 1.0),
    ]
    df = spark.createDataFrame(cells, "x int, y int, band int, val double")
    d = {(r["x"], r["y"]): r["dist"]
         for r in cost_distance(df, [(0, 1)], max_rounds=20).collect()}
    assert d[(2, 0)] == pytest.approx(2.0 + (1.0 + 20.0) / 2.0)
    path = least_cost_path(df, (0, 1), (2, 0), max_rounds=20)
    assert path == [(2, 0), (2, 1), (1, 1), (0, 1)]
    # total stepped cost along the returned path equals d(target)
    c = {(x, y): v for x, y, _, v in cells}
    tot = 0.0
    for a, b in zip(path, path[1:]):
        w = math.sqrt(2) if (a[0] - b[0]) * (a[1] - b[1]) else 1.0
        tot += (c[a] + c[b]) / 2.0 * w
    assert tot == pytest.approx(d[(2, 0)], rel=1e-12)


def test_cost_distance_tile_rounds_scale_with_path_tiles(spark):
    """Tile-blocked Dijkstra converges in O(path length in TILES)
    rounds, not cells: a 41-cell corridor with tile_size=8 (6 tiles)
    must finish within path_tiles + 2 rounds — the cell-level Bellman
    bound would be 40+ rounds. Values must equal the single-tile run
    bit-exactly (both are the same relaxation fixpoint)."""
    from pythongis_spark.raster import algebra as RA

    w = 41
    rows = [(x, y, 0, 1.0 + (x % 3) * 0.25) for x in range(w) for y in range(2)]
    df = spark.createDataFrame(rows, "x int, y int, band int, val double")
    got = {(r["x"], r["y"]): r["dist"]
           for r in RA.cost_distance(df, [(0, 0)], max_rounds=10,
                                     tile_size=8).collect()}
    assert len(got) == w * 2
    assert RA.LAST_TILE_ROUNDS <= (w - 1) // 8 + 1 + 2, RA.LAST_TILE_ROUNDS
    one_tile = {(r["x"], r["y"]): r["dist"]
                for r in RA.cost_distance(df, [(0, 0)], max_rounds=4,
                                          tile_size=64).collect()}
    assert got == one_tile


def test_cell_table_roundtrip_both_modes(spark, tmp_path):
    """Cell-table .txt (reference loader.py:421-520 / saver.py:146-180):
    dense write + distributed CSV read back, colrow AND xy modes, world
    file affine, nodata holes omitted on read."""
    import numpy as np

    from pythongis_spark.raster.model import RasterDef
    from pythongis_spark.sources.cell_table import (
        read_cell_table,
        write_cell_table,
    )

    w, h = 7, 5
    rng = np.random.default_rng(21)
    vals = np.round(rng.uniform(-40, 40, size=(h, w)), 3)
    vals[2, 3] = np.nan
    cells = [(x, y, 0, None if np.isnan(vals[y, x]) else float(vals[y, x]))
             for y in range(h) for x in range(w)]
    df = spark.createDataFrame(cells, "x int, y int, band int, val double")
    rd = RasterDef(w, h, (0.25, 0.0, -2.0, 0.0, -0.5, 4.0), nodata=-9999.0)

    for cellid in ("colrow", "xy"):
        p = str(tmp_path / f"cells_{cellid}.txt")
        write_cell_table(df, rd, p, cellid=cellid)
        out, rd2 = read_cell_table(spark, p)
        assert rd2.affine == rd.affine, cellid   # world-file sidecar
        assert (rd2.width, rd2.height) == (w, h), cellid
        got = {(r["x"], r["y"]): r["val"] for r in out.collect()}
        assert (3, 2) not in got, cellid
        assert len(got) == w * h - 1, cellid
        for (x, y), v in got.items():
            assert v == vals[y, x], (cellid, x, y)

    # header without recognizable id fields raises like the reference
    (tmp_path / "bad.txt").write_text("a\tb\tvalue\n1\t2\t3.0\n")
    import pytest

    with pytest.raises(ValueError, match="column/row or x/y"):
        read_cell_table(spark, str(tmp_path / "bad.txt"))
