"""Spatial join correctness vs a brute-force in-memory oracle."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from pythongis_spark import fixtures as FX
from pythongis_spark.geometry import core as G
from pythongis_spark.geometry import wkb as W
from pythongis_spark.operators.spatial_join import (
    point_in_polygon_join,
    spatial_anti_join,
    spatial_join,
    spatial_semi_join,
)


@pytest.fixture(scope="module")
def zones(spark):
    return spark.createDataFrame(FX.golden_zones_pdf(60)).cache()


@pytest.fixture(scope="module")
def points(spark):
    return spark.createDataFrame(FX.golden_points_pdf(800)).cache()


def brute_force_pip(points_pdf: pd.DataFrame, zones_pdf: pd.DataFrame) -> set:
    """O(P x Z) oracle mirroring the reference's exact matching loop
    (pythongis/vector/manager.py:381-431)."""
    pairs = set()
    pts = points_pdf.dropna(subset=["lon"])
    px = pts["lon"].to_numpy()
    py = pts["lat"].to_numpy()
    pid = pts["point_id"].to_numpy()
    for _, zrow in zones_pdf.iterrows():
        geom = W.decode_wkb(zrow["geom"])
        inside = G.points_in_polygon(px, py, geom)
        for p in pid[inside]:
            pairs.add((int(p), int(zrow["zone_id"])))
    return pairs


def test_pip_join_matches_bruteforce(spark, zones, points):
    expected = brute_force_pip(points.toPandas(), zones.toPandas())
    got = point_in_polygon_join(
        points, zones, lon="lon", lat="lat", point_id="point_id"
    )
    pairs = {
        (r["point_id"], r["zone_id"])
        for r in got.select("point_id", "zone_id").collect()
    }
    assert pairs == expected
    assert len(pairs) > 100  # sanity: join actually matched things


def test_pip_giant_polygon_takes_nested_loop_leg(spark, zones, points):
    """A polygon covering more than DEFAULT_CELL_CAP level-8 cells joins
    through the broadcast nested-loop leg; the pairs stay exact."""
    x0, y0, x1, y1 = -170.0, -80.0, 170.0, 80.0
    giant = zones.limit(1).toPandas().assign(
        zone_id=999,
        geom=[W.wkb_polygon(np.array([[x0, y0], [x1, y0], [x1, y1], [x0, y1], [x0, y0]]))],
        bbox_xmin=x0, bbox_ymin=y0, bbox_xmax=x1, bbox_ymax=y1,
    )
    layer = zones.unionByName(spark.createDataFrame(giant, zones.schema))
    expected = brute_force_pip(points.toPandas(), layer.toPandas())
    got = point_in_polygon_join(points, layer, point_id="point_id", z=8)
    pairs = {(r["point_id"], r["zone_id"]) for r in got.select("point_id", "zone_id").collect()}
    assert pairs == expected
    assert any(zid == 999 for _, zid in pairs)


def test_pip_join_salted_equals_broadcast(spark, zones, points):
    """Salted shuffle path must produce the identical pair set."""
    base = point_in_polygon_join(points, zones, point_id="point_id")
    salted = point_in_polygon_join(
        points,
        zones,
        point_id="point_id",
        broadcast_rows=0,  # force shuffle path
        salt_threshold=10,  # force salting of nearly every cell
        max_salt=4,
    )
    a = {(r["point_id"], r["zone_id"]) for r in base.select("point_id", "zone_id").collect()}
    b = {(r["point_id"], r["zone_id"]) for r in salted.select("point_id", "zone_id").collect()}
    assert a == b


def test_pip_keepall_nullpad(spark, zones, points):
    got = point_in_polygon_join(points, zones, point_id="point_id", keepall=True)
    n_points = points.count()
    matched_ids = {
        r["point_id"]
        for r in point_in_polygon_join(points, zones, point_id="point_id")
        .select("point_id")
        .distinct()
        .collect()
    }
    # every point appears at least once; unmatched rows have null zone_id
    assert got.select("point_id").distinct().count() == n_points
    nulls = got.filter(F.col("zone_id").isNull()).select("point_id").collect()
    assert all(r["point_id"] not in matched_ids for r in nulls)


@pytest.mark.parametrize("keepall", [False, True])
def test_pip_output_columns_drop_colliding_polygon_field(spark, keepall):
    """Point columns first, then the polygon columns with their bare
    names; a polygon column named like a point column is dropped, and a
    point column keeps its name whatever its prefix."""
    box = np.array([[0, 0], [4, 0], [4, 4], [0, 4], [0, 0]], float)
    cases = [
        # (point column, polygon column, output columns, polygon values)
        ("name", "name", ["pid", "lon", "lat", "name", "zone_id", "area"], (7, 16.0)),
        ("r_id", "id", ["pid", "lon", "lat", "r_id", "zone_id", "id", "area"],
         (7, "zone", 16.0)),
    ]
    for pt_col, poly_col, cols, poly_vals in cases:
        polys = spark.createDataFrame(pd.DataFrame(
            {"zone_id": [7], poly_col: ["zone"], "area": [16.0], "geom": [W.wkb_polygon(box)]}
        ))
        pts = spark.createDataFrame(pd.DataFrame(
            {"pid": [1, 2], "lon": [1.5, 9.5], "lat": [1.5, 9.5], pt_col: ["in", "out"]}
        ))
        got = point_in_polygon_join(pts, polys, point_id="pid", keepall=keepall)
        assert got.columns == cols
        rows = sorted(tuple(r) for r in got.collect())
        want = [(1, 1.5, 1.5, "in", *poly_vals)]
        if keepall:
            want.append((2, 9.5, 9.5, "out", *(None,) * len(poly_vals)))
        assert rows == want


@pytest.mark.parametrize("keepall", [False, True])
def test_spatial_join_output_keeps_left_r_column(spark, keepall):
    """A left column named ``r_id`` keeps its name next to a right ``id``."""
    def square(x0):
        return W.wkb_polygon(np.array(
            [[x0, 0], [x0 + 4, 0], [x0 + 4, 4], [x0, 4], [x0, 0]], float
        ))

    left = spark.createDataFrame(pd.DataFrame(
        {"a_id": [1, 2], "r_id": ["a", "b"], "geom": [square(0), square(20)]}
    ))
    right = spark.createDataFrame(pd.DataFrame(
        {"b_id": [9], "id": ["z"], "geom": [square(2)]}
    ))
    got = spatial_join(left, right, "intersects", left_id="a_id", keepall=keepall)
    assert got.columns == ["a_id", "r_id", "geom", "b_id", "id"]
    rows = sorted((r["a_id"], r["r_id"], r["b_id"], r["id"]) for r in got.collect())
    want = [(1, "a", 9, "z")]
    assert rows == (want + [(2, "b", None, None)] if keepall else want)


def test_semi_and_anti_partition_points(spark, zones, points):
    semi = spatial_semi_join(points, zones, point_id="point_id")
    anti = spatial_anti_join(points, zones, point_id="point_id")
    n = points.count()
    ns, na = semi.count(), anti.count()
    assert ns + na == n
    assert semi.join(anti, "point_id", "inner").count() == 0
    # null-geometry points land in anti (no match possible)
    null_ids = {r["point_id"] for r in points.filter(F.col("lon").isNull()).collect()}
    anti_ids = {r["point_id"] for r in anti.select("point_id").collect()}
    assert null_ids <= anti_ids


def test_subkey_filters_matches(spark, zones, points):
    pts = points.withColumn("category", F.lit("A"))
    got = point_in_polygon_join(
        pts, zones, point_id="point_id", subkey=("category", "category")
    )
    cats = {r["category"] for r in got.select("category").distinct().collect()}
    assert cats <= {"A"}


def test_general_spatial_join_polygons(spark, zones):
    """Polygon-vs-polygon intersects via the general path, vs brute force."""
    zpdf = FX.golden_zones_pdf(40)
    a_pdf = zpdf.iloc[:20][["zone_id", "geom"]].rename(columns={"zone_id": "a_id"})
    b_pdf = zpdf.iloc[15:40][["zone_id", "geom"]].rename(columns={"zone_id": "b_id"})
    a = spark.createDataFrame(a_pdf)
    b = spark.createDataFrame(b_pdf)
    got = spatial_join(a, b, "intersects", left_id="a_id")
    pairs = {(r["a_id"], r["b_id"]) for r in got.select("a_id", "b_id").collect()}
    expected = set()
    for _, ra in a_pdf.iterrows():
        ga = W.decode_wkb(ra["geom"])
        for _, rb in b_pdf.iterrows():
            if G.geoms_intersect(ga, W.decode_wkb(rb["geom"])):
                expected.add((int(ra["a_id"]), int(rb["b_id"])))
    assert pairs == expected
    # self-overlap rows (15..19) must match themselves
    assert all((i, i) in pairs for i in range(15, 20))


def _golden_ab(spark, n=40):
    zpdf = FX.golden_zones_pdf(n)
    a_pdf = zpdf.iloc[: n // 2][["zone_id", "geom"]].rename(columns={"zone_id": "a_id"})
    b_pdf = zpdf.iloc[n // 4 :][["zone_id", "geom"]].rename(columns={"zone_id": "b_id"})
    return (
        spark.createDataFrame(a_pdf),
        spark.createDataFrame(b_pdf),
        a_pdf,
        b_pdf,
    )


def _brute_pairs(a_pdf, b_pdf, pred):
    out = set()
    for _, ra in a_pdf.iterrows():
        ga = W.decode_wkb(ra["geom"])
        for _, rb in b_pdf.iterrows():
            if pred(ga, W.decode_wkb(rb["geom"])):
                out.add((int(ra["a_id"]), int(rb["b_id"])))
    return out


def test_general_join_salted_path_identical(spark):
    """Forcing the salted shuffle plan must give the same row set as the
    broadcast plan (determinism across physical strategies)."""
    a, b, a_pdf, b_pdf = _golden_ab(spark)
    bc = spatial_join(a, b, "intersects", left_id="a_id")
    salted = spatial_join(
        a, b, "intersects", left_id="a_id",
        broadcast_rows=0, salt_threshold=2, max_salt=4,
    )
    p1 = {(r["a_id"], r["b_id"]) for r in bc.select("a_id", "b_id").collect()}
    p2 = {(r["a_id"], r["b_id"]) for r in salted.select("a_id", "b_id").collect()}
    assert p1 == p2 and p1


def test_general_join_giant_split_identical(spark):
    """A tiny cell_cap routes (almost) everything through the
    broadcast-NL giant path — row set must not change."""
    a, b, a_pdf, b_pdf = _golden_ab(spark)
    normal = spatial_join(a, b, "intersects", left_id="a_id")
    forced = spatial_join(a, b, "intersects", left_id="a_id", cell_cap=1)
    p1 = {(r["a_id"], r["b_id"]) for r in normal.select("a_id", "b_id").collect()}
    p2 = {(r["a_id"], r["b_id"]) for r in forced.select("a_id", "b_id").collect()}
    assert p1 == p2 and p1


def test_general_join_crosses_touches(spark):
    import pandas as pd
    # two squares sharing an edge + a line crossing one of them
    a_rows = [
        (0, W.wkb_polygon([[0, 0], [10, 0], [10, 10], [0, 10], [0, 0]])),
        (1, W.wkb_linestring([[-5, 5], [15, 5]])),
    ]
    b_rows = [
        (100, W.wkb_polygon([[10, 0], [20, 0], [20, 10], [10, 10], [10, 0]])),
        (101, W.wkb_polygon([[0, 0], [10, 0], [10, 10], [0, 10], [0, 0]])),
    ]
    a = spark.createDataFrame(pd.DataFrame(a_rows, columns=["a_id", "geom"]))
    b = spark.createDataFrame(pd.DataFrame(b_rows, columns=["b_id", "geom"]))
    touches = spatial_join(a, b, "touches", left_id="a_id")
    tp = {(r["a_id"], r["b_id"]) for r in touches.select("a_id", "b_id").collect()}
    assert (0, 100) in tp          # shared edge
    assert (0, 101) not in tp      # identical squares overlap interiors
    crosses = spatial_join(a, b, "crosses", left_id="a_id")
    cp = {(r["a_id"], r["b_id"]) for r in crosses.select("a_id", "b_id").collect()}
    assert (1, 100) in cp and (1, 101) in cp  # line passes through both
    assert (0, 100) not in cp      # polygons never cross


def test_general_join_covers_boundary(spark):
    import pandas as pd
    outer = W.wkb_polygon([[0, 0], [10, 0], [10, 10], [0, 10], [0, 0]])
    # inner polygon sharing outer's left edge: covers AND contains-with-interior
    inner = W.wkb_polygon([[0, 2], [4, 2], [4, 6], [0, 6], [0, 2]])
    # line along the boundary: covered but not contained (no interior)
    edge = W.wkb_linestring([[0, 0], [0, 10]])
    a = spark.createDataFrame(pd.DataFrame([(0, outer)], columns=["a_id", "geom"]))
    b = spark.createDataFrame(
        pd.DataFrame([(1, inner), (2, edge)], columns=["b_id", "geom"])
    )
    covers = spatial_join(a, b, "covers", left_id="a_id")
    cp = {(r["a_id"], r["b_id"]) for r in covers.select("a_id", "b_id").collect()}
    assert cp == {(0, 1), (0, 2)}
    contains = spatial_join(a, b, "contains", left_id="a_id")
    kp = {(r["a_id"], r["b_id"]) for r in contains.select("a_id", "b_id").collect()}
    assert kp == {(0, 1)}  # boundary line has no interior intersection


def test_general_join_clip_intersection(spark):
    import pandas as pd
    a_rows = [(0, W.wkb_polygon([[0, 0], [10, 0], [10, 10], [0, 10], [0, 0]]))]
    b_rows = [(1, W.wkb_polygon([[5, 5], [15, 5], [15, 15], [5, 15], [5, 5]]))]
    a = spark.createDataFrame(pd.DataFrame(a_rows, columns=["a_id", "geom"]))
    b = spark.createDataFrame(pd.DataFrame(b_rows, columns=["b_id", "geom"]))
    out = spatial_join(a, b, "intersects", left_id="a_id", clip="intersection")
    rows = out.collect()
    assert len(rows) == 1
    clipped = W.decode_wkb(bytes(rows[0]["clip_geom"]))
    assert clipped[0] == "Polygon"
    assert abs(G.ring_signed_area(clipped[1][0])) == 25.0


# ------------------------------------------------------------------
# rectangle fast path: boundary semantics + plan purity
# ------------------------------------------------------------------

def test_rect_fast_path_edge_points_half_open(spark):
    """Points exactly ON zone edges/corners: the rectangle fast path's
    half-open box test must reproduce ray-cast parity (= the floor-based
    zone formula) — a point on a shared edge matches exactly ONE zone,
    points on the grid's max edges match none. Fixture points avoid
    edges, so this is the only coverage of the boundary contract."""
    import pandas as pd

    zones = FX.oracle_zones(spark)
    # interior shared vertical edge, shared horizontal edge, 4-zone
    # corner, grid min corner, grid max edges (lat=90, lon=180)
    pts = pd.DataFrame(
        [
            (0, -144.0, -75.0),   # on vertical edge between zone 0 and 1 -> zone 1
            (1, -170.0, -60.0),   # on horizontal edge zones 0/10 -> zone 10
            (2, -144.0, -60.0),   # 4-zone corner -> zone 11
            (3, -180.0, -90.0),   # grid min corner -> zone 0
            (4, 0.0, 90.0),       # top edge of the world -> no zone
            (5, 180.0, 0.0),      # right edge of the world -> no zone
            (6, -150.0, -80.0),   # plain interior point -> zone 0
        ],
        columns=["point_id", "lon", "lat"],
    )
    out = point_in_polygon_join(
        spark.createDataFrame(pts), zones, point_id="point_id", z=6, build_rows=0
    )
    got = {(r["point_id"], r["zone_id"]) for r in out.select("point_id", "zone_id").collect()}
    assert got == {(0, 1), (1, 10), (2, 11), (3, 0), (6, 0)}


def test_rect_fast_path_plan_is_pure_jvm(spark):
    """All-rectangle build side -> no Arrow refine in the physical plan;
    concave/holed build (golden zones) -> refine stays."""
    import contextlib
    import io

    import pandas as pd

    def fmt(df):
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        return buf.getvalue()

    pts = spark.createDataFrame(
        pd.DataFrame([(0, -150.0, -80.0)], columns=["point_id", "lon", "lat"])
    )
    rect_plan = fmt(
        point_in_polygon_join(
            pts, FX.oracle_zones(spark), point_id="point_id", z=6, build_rows=0
        )
    )
    # build-side cell cover is still Arrow; the per-candidate refine is not
    assert "_refine_pip" not in rect_plan
    golden_plan = fmt(
        point_in_polygon_join(
            pts,
            spark.createDataFrame(FX.golden_zones_pdf(40)),
            point_id="point_id",
            z=6,
            build_rows=0,
        )
    )
    assert "_refine_pip" in golden_plan
    # a double-traced ring shares the 4-corner vertex SET but has even
    # ray-cast parity (everything outside) — must NOT take the fast path
    twice = W.wkb_polygon(
        [[0, 0], [10, 0], [10, 10], [0, 10], [0, 0],
         [10, 0], [10, 10], [0, 10], [0, 0]]
    )
    degen = spark.createDataFrame(
        pd.DataFrame([(0, twice)], columns=["zone_id", "geom"])
    )
    degen_plan = fmt(
        point_in_polygon_join(pts, degen, point_id="point_id", z=6, build_rows=0)
    )
    assert "_refine_pip" in degen_plan


def test_general_join_rect_fast_path(spark):
    """intersects over two all-rectangle sides: closed bbox overlap IS
    the exact predicate — edge- and corner-touching rects match, the
    Arrow pair refine leaves the plan, and a non-rect side restores it."""
    import contextlib
    import io

    import pandas as pd

    def fmt(df):
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        return buf.getvalue()

    def rect_df(rows, idc):
        return spark.createDataFrame(
            pd.DataFrame(
                [(i, W.wkb_polygon([[x0, y0], [x1, y0], [x1, y1], [x0, y1], [x0, y0]]))
                 for i, (x0, y0, x1, y1) in rows],
                columns=[idc, "geom"],
            )
        )

    a = rect_df([(0, (0, 0, 10, 10))], "a_id")
    b = rect_df(
        [
            (1, (10, 0, 20, 10)),   # edge-touch -> match
            (2, (10, 10, 20, 20)),  # corner-touch -> match
            (3, (2, 2, 8, 8)),      # contained -> match
            (4, (11, 0, 20, 10)),   # disjoint -> no match
        ],
        "b_id",
    )
    out = spatial_join(a, b, "intersects", left_id="a_id")
    got = {(r["a_id"], r["b_id"]) for r in out.select("a_id", "b_id").collect()}
    assert got == {(0, 1), (0, 2), (0, 3)}
    assert "FilterFunction" not in fmt(out)
    assert "refine" not in fmt(out)

    # concave right side: refine must come back
    concave = spark.createDataFrame(
        pd.DataFrame(
            [(9, W.wkb_polygon([[0, 0], [10, 0], [10, 10], [5, 5], [0, 10], [0, 0]]))],
            columns=["b_id", "geom"],
        )
    )
    plan = fmt(spatial_join(a, concave, "intersects", left_id="a_id"))
    assert "refine" in plan


def test_general_join_rect_containment_fast_path(spark):
    """within/contains over all-rectangle sides: closed bbox containment
    is exact (incl. identical rects and shared edges); refine absent
    from the plan; results equal the geometric brute force."""
    import contextlib
    import io

    import pandas as pd

    def fmt(df):
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        return buf.getvalue()

    def rect_df(rows, idc):
        return spark.createDataFrame(
            pd.DataFrame(
                [(i, W.wkb_polygon([[x0, y0], [x1, y0], [x1, y1], [x0, y1], [x0, y0]]))
                 for i, (x0, y0, x1, y1) in rows],
                columns=[idc, "geom"],
            )
        )

    a_rows = [(0, (2, 2, 8, 8)), (1, (0, 0, 10, 10)), (2, (5, 5, 15, 15))]
    b_rows = [(10, (0, 0, 10, 10)), (11, (2, 2, 8, 8))]
    a = rect_df(a_rows, "a_id")
    b = rect_df(b_rows, "b_id")

    for cond in ("within", "coveredby", "contains", "covers"):
        out = spatial_join(a, b, cond, left_id="a_id")
        got = {(r["a_id"], r["b_id"]) for r in out.select("a_id", "b_id").collect()}
        pred = {
            "within": lambda ga, gb: G.geom_within_covers(ga, gb, require_interior=True),
            "coveredby": lambda ga, gb: G.geom_within_covers(ga, gb, require_interior=False),
            "contains": lambda ga, gb: G.geom_within_covers(gb, ga, require_interior=True),
            "covers": lambda ga, gb: G.geom_within_covers(gb, ga, require_interior=False),
        }[cond]
        expected = set()
        for i, ra in a_rows:
            ga = W.decode_wkb(rect_df([(i, ra)], "x").toPandas()["geom"][0])
            for j, rb in b_rows:
                gb = W.decode_wkb(rect_df([(j, rb)], "x").toPandas()["geom"][0])
                if pred(ga, gb):
                    expected.add((i, j))
        assert got == expected, cond
        assert "refine" not in fmt(out), cond
    # identical rect must self-match under within AND contains
    w = {(r["a_id"], r["b_id"]) for r in
         spatial_join(a, b, "within", left_id="a_id").select("a_id", "b_id").collect()}
    assert (1, 10) in w and (0, 11) in w


def test_general_join_rect_touches_fast_path(spark):
    """touches over all-rectangle sides = closed bbox overlap minus OPEN
    overlap — edge/corner contact matches, overlap/containment/identity
    do not; refine absent from the plan."""
    import contextlib
    import io

    import pandas as pd

    def fmt(df):
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        return buf.getvalue()

    def rect_df(rows, idc):
        return spark.createDataFrame(
            pd.DataFrame(
                [(i, W.wkb_polygon([[x0, y0], [x1, y0], [x1, y1], [x0, y1], [x0, y0]]))
                 for i, (x0, y0, x1, y1) in rows],
                columns=[idc, "geom"],
            )
        )

    a = rect_df([(0, (0, 0, 10, 10))], "a_id")
    b = rect_df(
        [
            (1, (10, 0, 20, 10)),    # shared edge -> touches
            (2, (10, 10, 20, 20)),   # corner -> touches
            (3, (10, -5, 20, 5)),    # offset edge abutment -> touches
            (4, (5, 5, 15, 15)),     # overlap -> no
            (5, (0, 0, 10, 10)),     # identical -> no
            (6, (2, 2, 8, 8)),       # contained -> no
            (7, (0, 2, 5, 8)),       # contained sharing an edge -> no
            (8, (11, 0, 20, 10)),    # disjoint -> no
        ],
        "b_id",
    )
    out = spatial_join(a, b, "touches", left_id="a_id")
    got = {(r["a_id"], r["b_id"]) for r in out.select("a_id", "b_id").collect()}
    assert got == {(0, 1), (0, 2), (0, 3)}
    assert "refine" not in fmt(out)
    # crosses over two polygon sides is statically empty (area x area)
    assert spatial_join(a, b, "crosses", left_id="a_id").count() == 0


def test_rect_fast_path_equals_refine_randomized(spark):
    """Equivalence sweep: for random rectangle layouts (dyadic /16
    coords so edge/corner coincidences actually occur), the codegen fast
    path and the forced Arrow-refine path (rect_fast_path=False) must
    produce identical row sets for every predicate in the family."""
    import pandas as pd

    rng = np.random.Generator(np.random.PCG64(31))

    def rand_rects(n, idc):
        x0 = rng.integers(0, 40, n) / 16 * 16  # integers in [0, 40)
        y0 = rng.integers(0, 40, n)
        wdt = rng.integers(1, 12, n)
        hgt = rng.integers(1, 12, n)
        rows = [
            (int(i), W.wkb_polygon(
                [[float(a), float(b)], [float(a + c), float(b)],
                 [float(a + c), float(b + d)], [float(a), float(b + d)],
                 [float(a), float(b)]]
            ))
            for i, (a, b, c, d) in enumerate(zip(x0, y0, wdt, hgt))
        ]
        return spark.createDataFrame(pd.DataFrame(rows, columns=[idc, "geom"]))

    a = rand_rects(25, "a_id")
    b = rand_rects(30, "b_id")
    for cond in ("intersects", "within", "contains", "touches", "covers"):
        fast = spatial_join(a, b, cond, left_id="a_id")
        slow = spatial_join(a, b, cond, left_id="a_id", rect_fast_path=False)
        pf = {(r["a_id"], r["b_id"]) for r in fast.select("a_id", "b_id").collect()}
        ps = {(r["a_id"], r["b_id"]) for r in slow.select("a_id", "b_id").collect()}
        assert pf == ps, f"{cond}: fast^slow={pf ^ ps}"


def test_pip_rect_fast_path_equals_refine_randomized(spark):
    """Same equivalence for the pip hot path: integer-lattice points (so
    many land exactly on rect edges) through the half-open codegen test
    vs the forced ray-cast refine."""
    import pandas as pd

    rng = np.random.Generator(np.random.PCG64(41))
    zones = FX.oracle_zones(spark)
    pts = pd.DataFrame({
        "point_id": range(500),
        # multiples of 9 and 7.5 hit the 36/30-degree zone edges often
        "lon": (rng.integers(-20, 21, 500) * 9).astype(float),
        "lat": (rng.integers(-12, 13, 500) * 7.5).astype(float),
    })
    p = spark.createDataFrame(pts)
    fast = point_in_polygon_join(p, zones, point_id="point_id", z=6, build_rows=0)
    slow = point_in_polygon_join(
        p, zones, point_id="point_id", z=6, build_rows=0, rect_fast_path=False
    )
    pf = {(r["point_id"], r["zone_id"]) for r in fast.select("point_id", "zone_id").collect()}
    ps = {(r["point_id"], r["zone_id"]) for r in slow.select("point_id", "zone_id").collect()}
    assert pf == ps and pf


def test_pip_rect_probe_keyed_by_geometry_column(spark):
    """The memoized all-rectangle probe belongs to the joined geometry
    column: a triangle sharing its bbox with a square must be refined
    even after a join on the square took the rectangle fast path."""
    from pythongis_spark.geometry.udfs import with_bbox

    sq = np.array([[0, 0], [4, 0], [4, 4], [0, 4], [0, 0]], float)
    tri = np.array([[0, 0], [4, 0], [0, 4], [0, 0]], float)
    zones = with_bbox(spark.createDataFrame(pd.DataFrame({
        "zone_id": [7], "sq": [W.wkb_polygon(sq)], "tri": [W.wkb_polygon(tri)],
    })), "sq")
    pts = spark.createDataFrame(
        pd.DataFrame({"pid": [1, 2], "lon": [1.0, 3.0], "lat": [1.0, 3.0]})
    )

    def pids(geom):
        got = point_in_polygon_join(pts, zones, polygon_geom=geom, point_id="pid")
        return sorted(r["pid"] for r in got.collect())

    assert pids("sq") == [1, 2]
    assert pids("tri") == [1]


def test_geom_equals_is_topological():
    """condition='equals' must match topologically equal geometries —
    the same ring started at a different vertex, or MultiPolygon parts
    in a different order — like shapely equals in the reference
    (manager.py:196), not just identical coordinate arrays."""
    import numpy as np

    from pythongis_spark.geometry import wkb as W
    from pythongis_spark.operators.spatial_join import _geom_equals

    def poly(ring):
        return W.decode_wkb(W.encode_wkb(("Polygon", [np.array(ring, float)])))

    sq = [[0, 0], [4, 0], [4, 4], [0, 4], [0, 0]]
    rot = [[4, 4], [0, 4], [0, 0], [4, 0], [4, 4]]
    other = [[0, 0], [5, 0], [5, 4], [0, 4], [0, 0]]
    assert _geom_equals(poly(sq), poly(sq))
    assert _geom_equals(poly(sq), poly(rot))
    assert not _geom_equals(poly(sq), poly(other))
    # MultiPolygon parts in a different order
    a = np.array(sq, float)
    b = np.array([[10, 10], [12, 10], [12, 12], [10, 12], [10, 10]], float)
    m1 = W.decode_wkb(W.encode_wkb(("MultiPolygon", [[a], [b]])))
    m2 = W.decode_wkb(W.encode_wkb(("MultiPolygon", [[b], [a]])))
    assert _geom_equals(m1, m2)


def test_is_bbox_rect_rejects_bowtie(spark):
    """A crossed 'bowtie' quad over the same 4 corners shares the bbox
    vertex SET but not ray-cast parity — it must NOT enable the
    all-rect half-open fast path."""
    import numpy as np
    import pandas as pd

    from pythongis_spark.geometry import wkb as W
    from pythongis_spark.geometry.udfs import st_is_bbox_rect

    rect = W.encode_wkb(("Polygon", [np.array(
        [[0, 0], [1, 0], [1, 1], [0, 1], [0, 0]], float)]))
    bowtie = W.encode_wkb(("Polygon", [np.array(
        [[0, 0], [1, 0], [0, 1], [1, 1], [0, 0]], float)]))
    df = spark.createDataFrame(pd.DataFrame({"geom": [rect, bowtie]}))
    got = [r[0] for r in df.select(st_is_bbox_rect("geom")).collect()]
    assert got == [True, False]


# ------------------------------------------------------------------
# plan-time facts: one profile aggregate per layer
# ------------------------------------------------------------------

def _plan_actions(spark, run) -> int:
    """SQL executions started by ``run()``, plus each job outside any —
    the way the benchmark counts plan-time actions."""
    import uuid

    sc = spark.sparkContext
    group = f"plan-actions-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        run()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    conv = sc._jvm.scala.jdk.javaapi.CollectionConverters
    store = spark._jsparkSession.sharedState().statusStore()
    execution_of = {
        int(job): int(ex.executionId())
        for ex in conv.asJava(store.executionsList())
        for job in conv.asJava(ex.jobs()).keySet()
    }
    jobs = sc.statusTracker().getJobIdsForGroup(group) or []
    return len({execution_of.get(j, ("job", j)) for j in jobs})


def test_join_planning_runs_one_profile_job_per_layer(spark, points, pcache):
    zones = spark.createDataFrame(FX.golden_zones_pdf(40))  # not all rectangles

    def pip():
        point_in_polygon_join(points, zones, point_id="point_id")

    assert _plan_actions(spark, pip) == 1
    assert _plan_actions(spark, pip) == 0
    left = spark.createDataFrame(FX.golden_zones_pdf(30, seed=3))
    right = spark.createDataFrame(FX.golden_zones_pdf(20, seed=4))
    assert _plan_actions(spark, lambda: spatial_join(left, right, left_id="zone_id")) <= 2


def test_layer_profile_facts(spark, pcache):
    """The profile's level is pick_level's, its per-level cell total is
    the explode's row count within the cap, and its giant flag marks the
    levels where some feature exceeds the cap."""
    import importlib

    from pythongis_spark.index import quadkey as Q
    from pythongis_spark.index import udfs as IU

    SJ = importlib.import_module("pythongis_spark.operators.spatial_join")
    zones = spark.createDataFrame(FX.golden_zones_pdf(30))
    cap = 64
    prof = SJ._profile(zones, "geom", cap)
    assert prof.z == IU.pick_level(zones)
    assert not prof.all_rect
    n = IU.bbox_cell_count_expr
    for z in range(8):
        within = zones.filter(n(z) <= cap)
        assert prof.cells[z] == IU.explode_bbox_cells(within, z).count(), z
        assert prof.giants[z] == (zones.filter(n(z) > cap).count() > 0), z
    assert len(prof.cells) == len(prof.giants) == Q.MAX_LEVEL + 1
    assert prof.giants[Q.MAX_LEVEL] and not prof.giants[0]
    # the fact is memoized: the same object comes back
    assert SJ._profile(zones, "geom", cap) is prof
    # an empty layer: nothing to refine, so every geometry is a rectangle
    empty = SJ._profile(zones.limit(0), "geom", cap)
    assert empty.all_rect and not any(empty.giants) and not any(empty.cells)
    assert SJ._profile(FX.oracle_zones(spark), "geom", cap).all_rect
