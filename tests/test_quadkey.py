import numpy as np
import pytest

from pythongis_spark.index import quadkey as Q


def test_morton_roundtrip():
    tx = np.array([0, 1, 2, 1023, 12345], dtype=np.int64)
    ty = np.array([0, 2, 1, 511, 54321], dtype=np.int64)
    code = Q.morton_encode(tx, ty)
    rx, ry = Q.morton_decode(code)
    assert rx.tolist() == tx.tolist()
    assert ry.tolist() == ty.tolist()


def test_morton_order():
    # (0,0)->0 (1,0)->1 (0,1)->2 (1,1)->3
    assert Q.morton_encode(np.array([0, 1, 0, 1]), np.array([0, 0, 1, 1])).tolist() == [
        0,
        1,
        2,
        3,
    ]


def test_cell_of_points_corners():
    z = 3
    n = 1 << z
    # lon near -180, lat near +90 -> cell 0
    assert Q.cell_of_points(np.array([-179.9]), np.array([89.9]), z)[0] == 0
    # lon near +180, lat near -90 -> last cell
    last = Q.cell_of_points(np.array([179.9]), np.array([-89.9]), z)[0]
    assert last == Q.morton_encode(np.array([n - 1]), np.array([n - 1]))[0]


def test_cell_bounds_contains_point():
    z = 6
    lon, lat = np.array([12.34]), np.array([45.67])
    cell = Q.cell_of_points(lon, lat, z)[0]
    xmin, ymin, xmax, ymax = Q.cell_bounds(int(cell), z)
    assert xmin <= lon[0] < xmax
    assert ymin < lat[0] <= ymax


def test_cells_of_bbox_cover():
    z = 4
    cells = Q.cells_of_bbox(-10.0, -10.0, 10.0, 10.0, z)
    # every point cell inside the bbox must be in the cover set
    pts_lon = np.linspace(-9.9, 9.9, 25)
    pts_lat = np.linspace(-9.9, 9.9, 25)
    gx, gy = np.meshgrid(pts_lon, pts_lat)
    pc = Q.cell_of_points(gx.ravel(), gy.ravel(), z)
    assert set(pc.tolist()) <= set(cells.tolist())


def test_quadkey_str_matches_cell():
    z = 5
    cells = Q.cell_of_points(np.array([10.0, -120.0]), np.array([50.0, -30.0]), z)
    qks = Q.quadkey_str(cells, z)
    assert [int(q, 4) for q in qks] == cells.tolist()
    assert all(len(q) == z for q in qks)


def test_parent_cell_is_prefix():
    z = 8
    cell = Q.cell_of_points(np.array([33.3]), np.array([44.4]), z)
    parent = Q.parent_cell(cell, z, z - 2)
    qk = Q.quadkey_str(cell, z)[0]
    qkp = Q.quadkey_str(parent, z - 2)[0]
    assert qk.startswith(qkp)


def test_neighbors_and_rings():
    z = 5
    cell = int(Q.cell_of_points(np.array([0.1]), np.array([0.1]), z)[0])
    nb = Q.neighbors(cell, z, 1)
    assert len(nb) == 9 and cell in nb.tolist()
    r1 = Q.ring_cells(cell, z, 1)
    assert len(r1) == 8 and cell not in r1.tolist()
    assert set(r1.tolist()) | {cell} == set(nb.tolist())


def test_pick_level():
    # huge bboxes -> coarse level; tiny -> fine
    z_big = Q.pick_level_for_bbox(np.array([90.0]), np.array([45.0]))
    z_small = Q.pick_level_for_bbox(np.array([0.01]), np.array([0.01]))
    assert z_big < z_small
    assert 0 <= z_big <= Q.MAX_LEVEL and z_small <= Q.MAX_LEVEL


# ------------------------------------------------------------------
# build-side cells in Catalyst (index.udfs.explode_bbox_cells)
# ------------------------------------------------------------------

NAN, INF = float("nan"), float("inf")
BBOXES = [
    (-10.0, -5.0, 20.0, 15.0),  # normal
    (10.0, 10.0, 10.0, 10.0),  # degenerate point
    (-180.0, -90.0, 180.0, 90.0),  # the full world
    (170.0, -100.0, 200.0, -80.0),  # lon > 180, lat < -90
    (20.0, 0.0, 10.0, 5.0),  # inverted in x
    (20.0, 5.0, 10.0, 0.0),  # inverted in both axes
    (None, 0.0, 1.0, 1.0),
    (0.0, None, 1.0, 1.0),
    (NAN, 0.0, 1.0, 1.0),
    (0.0, NAN, 1.0, 1.0),
    (0.0, 0.0, INF, 1.0),
    (-INF, 0.0, 1.0, 1.0),
]


def _bbox_df(spark, bboxes):
    return spark.createDataFrame(
        [(i, *b) for i, b in enumerate(bboxes)],
        "id long, bbox_xmin double, bbox_ymin double, bbox_xmax double, bbox_ymax double",
    )


def _expected_cells(bbox, z):
    """Q.cells_of_bbox, or no cells when a coordinate is null or not
    finite."""
    if not all(v is not None and np.isfinite(v) for v in bbox):
        return []
    return Q.cells_of_bbox(*bbox, z).tolist()


@pytest.mark.parametrize("z", [0, 3, 5])
def test_explode_bbox_cells_matches_cells_of_bbox(spark, z):
    from pythongis_spark.index import udfs as IU

    got: dict[int, list[int]] = {}
    for r in IU.explode_bbox_cells(_bbox_df(spark, BBOXES), z).select("id", "cell").collect():
        got.setdefault(r["id"], []).append(r["cell"])
    for i, bbox in enumerate(BBOXES):
        # same cells in the same (tx-major) order
        assert got.get(i, []) == _expected_cells(bbox, z), (bbox, z)


def test_explode_bbox_cells_plans_no_python(spark):
    from pythongis_spark.index import udfs as IU

    plan = IU.explode_bbox_cells(_bbox_df(spark, BBOXES), 4)._jdf.queryExecution().executedPlan().toString()
    assert "Generate explode(" in plan
    assert "EvalPython" not in plan


def test_bbox_cell_count_closed_form(spark):
    """The per-level cell total summed from the count expression is the
    row count of the explode, over every bbox kind above."""
    from pyspark.sql import functions as F

    from pythongis_spark.index import udfs as IU

    df = _bbox_df(spark, BBOXES)
    for z in range(9):
        total = df.agg(F.sum(IU.bbox_cell_count_expr(z))).first()[0]
        assert total == IU.explode_bbox_cells(df, z).count() > 0, z


def test_explode_bbox_cells_cap_raises(spark):
    from pythongis_spark.index import udfs as IU

    # the full world covers 4^9 = 262144 level-9 cells
    world = _bbox_df(spark, [(-180.0, -90.0, 180.0, 90.0)])
    with pytest.raises(Exception, match=f"cap {IU.MAX_CELLS_PER_FEATURE}"):
        IU.explode_bbox_cells(world, 9).collect()
