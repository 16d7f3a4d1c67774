"""kNN / distance join correctness vs brute-force pandas oracle."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from pythongis_spark.geometry import geodesy
from pythongis_spark.operators.knn import distance_join, knn_join


def _mkpoints(n, seed, prefix):
    rng = np.random.Generator(np.random.PCG64(seed))
    return pd.DataFrame(
        {
            f"{prefix}_id": np.arange(n, dtype=np.int64),
            "lon": rng.uniform(-170, 170, n),
            "lat": rng.uniform(-70, 70, n),
        }
    )


def brute_knn(pts: pd.DataFrame, tgt: pd.DataFrame, k: int, metric="planar") -> set:
    out = set()
    for _, p in pts.iterrows():
        if metric == "planar":
            d = np.sqrt((tgt["lon"] - p["lon"]) ** 2 + (tgt["lat"] - p["lat"]) ** 2)
        else:
            d = geodesy.haversine_m(
                np.full(len(tgt), p["lon"]), np.full(len(tgt), p["lat"]),
                tgt["lon"].to_numpy(), tgt["lat"].to_numpy(),
            )
        order = sorted(zip(d, tgt["t_id"]))[:k]
        for rk, (dist, tid) in enumerate(order, 1):
            out.add((int(p["p_id"]), int(tid), rk))
    return out


@pytest.fixture(scope="module")
def small(spark):
    pts = _mkpoints(300, 1, "p")
    tgt = _mkpoints(40, 2, "t")
    return spark.createDataFrame(pts).cache(), spark.createDataFrame(tgt).cache(), pts, tgt


@pytest.fixture(scope="module")
def big_targets(spark):
    pts = _mkpoints(400, 3, "p")
    tgt = _mkpoints(20_000, 4, "t")
    return spark.createDataFrame(pts).cache(), spark.createDataFrame(tgt).cache(), pts, tgt


def _collect_knn(df):
    return {
        (r["p_id"], r["t_id"], r["knn_rank"])
        for r in df.select("p_id", "t_id", "knn_rank").collect()
    }


def test_knn_bruteforce_path(spark, small):
    spts, stgt, pts, tgt = small
    got = knn_join(spts, stgt, 3, point_id="p_id", target_id="t_id")
    assert _collect_knn(got) == brute_knn(pts, tgt, 3)


def test_knn_grid_path_exact(spark, big_targets):
    spts, stgt, pts, tgt = big_targets
    got = knn_join(spts, stgt, 5, point_id="p_id", target_id="t_id")
    assert _collect_knn(got) == brute_knn(pts, tgt, 5)


def test_knn_haversine_metric(spark, small):
    spts, stgt, pts, tgt = small
    got = knn_join(spts, stgt, 2, point_id="p_id", target_id="t_id", metric="haversine")
    assert _collect_knn(got) == brute_knn(pts, tgt, 2, metric="haversine")


def test_knn_k_larger_than_targets(spark, small):
    spts, stgt, pts, tgt = small
    got = knn_join(spts, stgt, 100, point_id="p_id", target_id="t_id")
    # every point gets all 40 targets
    counts = got.groupBy("p_id").count().select("count").distinct().collect()
    assert [r["count"] for r in counts] == [40]


def test_distance_join_planar(spark, big_targets):
    spts, stgt, pts, tgt = big_targets
    radius = 3.0
    got = distance_join(spts, stgt, radius, point_id="p_id", target_id="t_id")
    pairs = {(r["p_id"], r["t_id"]) for r in got.select("p_id", "t_id").collect()}
    expected = set()
    for _, p in pts.iterrows():
        d = np.sqrt((tgt["lon"] - p["lon"]) ** 2 + (tgt["lat"] - p["lat"]) ** 2)
        for tid in tgt["t_id"][d <= radius]:
            expected.add((int(p["p_id"]), int(tid)))
    assert pairs == expected
    assert len(pairs) > 0


def test_distance_join_haversine(spark, small):
    spts, stgt, pts, tgt = small
    radius = 500_000.0  # 500 km
    got = distance_join(
        spts, stgt, radius, point_id="p_id", target_id="t_id", metric="haversine"
    )
    pairs = {(r["p_id"], r["t_id"]) for r in got.select("p_id", "t_id").collect()}
    expected = set()
    for _, p in pts.iterrows():
        d = geodesy.haversine_m(
            np.full(len(tgt), p["lon"]), np.full(len(tgt), p["lat"]),
            tgt["lon"].to_numpy(), tgt["lat"].to_numpy(),
        )
        for tid in tgt["t_id"][d <= radius]:
            expected.add((int(p["p_id"]), int(tid)))
    assert pairs == expected
    assert len(pairs) > 0


def _mk_extreme(n, seed, prefix):
    """Points concentrated at high latitude and around the antimeridian —
    the configurations the fixed-ring/grid-edge code used to miss."""
    rng = np.random.Generator(np.random.PCG64(seed))
    lon = np.where(
        rng.uniform(size=n) < 0.5,
        rng.uniform(170, 180, n) * rng.choice([-1, 1], n),
        rng.uniform(-180, 180, n),
    )
    lat = np.where(
        rng.uniform(size=n) < 0.5,
        rng.uniform(76, 89.5, n) * rng.choice([-1, 1], n),
        rng.uniform(-89, 89, n),
    )
    return pd.DataFrame({f"{prefix}_id": np.arange(n, dtype=np.int64), "lon": lon, "lat": lat})


def brute_distance(pts, tgt, radius, metric):
    out = set()
    for _, p in pts.iterrows():
        if metric == "planar":
            d = np.sqrt((tgt["lon"] - p["lon"]) ** 2 + (tgt["lat"] - p["lat"]) ** 2)
        else:
            d = geodesy.haversine_m(
                np.full(len(tgt), p["lon"]), np.full(len(tgt), p["lat"]),
                tgt["lon"].to_numpy(), tgt["lat"].to_numpy(),
            )
        for tid in tgt["t_id"][np.asarray(d) <= radius]:
            out.add((int(p["p_id"]), int(tid)))
    return out


def test_distance_join_haversine_high_lat_antimeridian(spark):
    """Geodetic distance join at |lat| up to 89.5 and across ±180: the
    dynamic lon-ring + wrap + polar brute leg must match brute force
    (the fixed ring=2 / grid-edge-as-wall version missed matches here)."""
    pts = _mk_extreme(250, 11, "p")
    tgt = _mk_extreme(3000, 12, "t")
    spts, stgt = spark.createDataFrame(pts), spark.createDataFrame(tgt)
    radius = 300_000.0  # 300 km
    got = distance_join(
        spts, stgt, radius, point_id="p_id", target_id="t_id",
        metric="haversine", broadcast_targets_rows=10,
    )
    pairs = {(r["p_id"], r["t_id"]) for r in got.select("p_id", "t_id").collect()}
    assert pairs == brute_distance(pts, tgt, radius, "haversine")


def test_knn_haversine_antimeridian_wrap(spark):
    """A probe at lon -179.9 must find its true nearest target at +179.9
    (pre-fix: the grid edge was treated as 'nothing beyond')."""
    pts = pd.DataFrame({"p_id": [0], "lon": [-179.9], "lat": [10.0]})
    # nearest target is across the antimeridian; decoys closer in lon
    tgt = pd.DataFrame(
        {"t_id": [0, 1, 2], "lon": [179.9, -170.0, -160.0], "lat": [10.0, 10.0, 10.0]}
    )
    # pad targets so the grid path is taken rather than broadcast brute force
    pad = _mkpoints(20_000, 13, "t")
    pad["t_id"] = pad["t_id"] + 10
    pad["lat"] = pad["lat"].clip(-60, 60) - 80  # push pad far south
    tgt_all = pd.concat([tgt, pad], ignore_index=True)
    got = knn_join(
        spark.createDataFrame(pts), spark.createDataFrame(tgt_all), 1,
        point_id="p_id", target_id="t_id", metric="haversine",
    )
    rows = got.collect()
    assert len(rows) == 1 and rows[0]["t_id"] == 0


def test_knn_tiny_path_repartitions_single_partition_probe(spark, small):
    """r6 parallelism guard: a probe scanned into fewer partitions than
    defaultParallelism is hash-repartitioned before the tiny-target
    Arrow stage (single-row-group parquet would otherwise run the whole
    Python stage on one core), and the result set is unchanged."""
    spts, stgt, pts, tgt = small
    one = spts.coalesce(1)
    got = knn_join(one, stgt, 3, point_id="p_id", target_id="t_id")
    plan = got._jdf.queryExecution().executedPlan().toString()
    if spark.sparkContext.defaultParallelism > 1:
        assert "Exchange" in plan
    assert _collect_knn(got) == brute_knn(pts, tgt, 3)


def test_knn_scan_partition_probe_memoized(spark, small, monkeypatch):
    """The scan-partition probe (``DataFrame.rdd``) runs once per points
    plan: a repeat knn_join on the same points plans without it."""
    spts, stgt, pts, tgt = small
    first = knn_join(spts, stgt, 3, point_id="p_id", target_id="t_id")
    touched = []
    cls = type(spts)
    rdd = cls.rdd
    monkeypatch.setattr(
        cls, "rdd", property(lambda df: touched.append(df) or rdd.__get__(df, cls))
    )
    again = knn_join(spts, stgt, 3, point_id="p_id", target_id="t_id")
    assert touched == []
    assert _collect_knn(again) == _collect_knn(first) == brute_knn(pts, tgt, 3)


def test_knn_point_cols_restriction_identical(spark, small):
    """r6: point_cols restricts the point-side columns serialized out of
    the opaque Arrow stage; rows must equal selecting afterwards."""
    spts, stgt, pts, tgt = small
    full = knn_join(spts, stgt, 3, point_id="p_id", target_id="t_id")
    narrow = knn_join(
        spts, stgt, 3, point_id="p_id", target_id="t_id",
        point_cols=["p_id"],
    )
    assert narrow.columns == ["p_id", "t_id", "dist", "knn_rank"]
    a = sorted(map(tuple, full.select("p_id", "t_id", "dist", "knn_rank").collect()))
    b = sorted(map(tuple, narrow.collect()))
    assert a == b


def _parity_case(name):
    """(points, targets) of one Arrow-kernel vs JVM-join parity case.
    Every target set exceeds the 1000-row brute-force shortcut, so the
    forced JVM call runs the grid rounds."""
    rng = np.random.Generator(np.random.PCG64(sum(map(ord, name))))
    if name == "hot_cell":
        pts = _mkpoints(400, 21, "p")
        hot = pts.index < 200
        pts.loc[hot, "lon"] = 10.0 + rng.random(200)
        pts.loc[hot, "lat"] = 50.0 + rng.random(200)
        tgt = _mkpoints(2500, 22, "t")
        tgt.loc[:99, "lon"] = 10.0 + rng.random(100)
        tgt.loc[:99, "lat"] = 50.0 + rng.random(100)
    elif name == "antimeridian":
        pts, tgt = _mkpoints(300, 23, "p"), _mkpoints(1500, 24, "t")
        for df in (pts, tgt):
            df["lon"] = rng.uniform(170.0, 190.0, len(df))
            df["lon"] = df["lon"].where(df["lon"] <= 180.0, df["lon"] - 360.0)
        pts.loc[:3, "lon"] = [-180.0, 180.0, -179.999, 179.999]
    elif name == "polar":
        pts, tgt = _mk_extreme(300, 25, "p"), _mk_extreme(1500, 26, "t")
        pts.loc[:3, "lat"] = [90.0, -90.0, 89.999, -89.999]
        tgt.loc[:1, "lat"] = [90.0, -90.0]
    elif name == "duplicate_targets":
        pts = _mkpoints(300, 27, "p")
        # coarse lattice: many locations hold several target ids, and
        # ids run opposite to row order, so ties must break by id
        tgt = pd.DataFrame({
            "t_id": np.arange(3000, dtype=np.int64)[::-1].copy(),
            "lon": rng.integers(-40, 40, 3000) * 4.0,
            "lat": rng.integers(-15, 15, 3000) * 4.0,
        })
    else:  # corner_targets: most points' rings stay empty → all-targets pass
        pts, tgt = _mkpoints(300, 28, "p"), _mkpoints(1500, 29, "t")
        tgt["lon"] = rng.uniform(175.0, 180.0, len(tgt))
        tgt["lat"] = rng.uniform(85.0, 90.0, len(tgt))
    return pts, tgt


def _plan(df):
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.mark.parametrize(
    "case", ["hot_cell", "antimeridian", "polar", "duplicate_targets", "corner_targets"]
)
def test_knn_arrow_kernel_matches_jvm_join(spark, case):
    """The planar Arrow kernel and the JVM cell join (forced by a target
    budget below the target count) return the same target ids and ranks
    and bit-identical distances."""
    pts, tgt = _parity_case(case)
    spts, stgt = spark.createDataFrame(pts), spark.createDataFrame(tgt)
    kw = dict(point_id="p_id", target_id="t_id")
    arrow = knn_join(spts, stgt, 3, **kw)
    jvm = knn_join(spts, stgt, 3, broadcast_targets_rows=len(tgt) - 1, **kw)
    assert "MapInPandas" in _plan(arrow) and "MapInPandas" not in _plan(jvm)
    cols = ["p_id", "knn_rank", "t_id", "dist"]
    a, b = (
        df.select(*cols).toPandas().sort_values(cols[:2]).reset_index(drop=True)
        for df in (arrow, jvm)
    )
    assert len(a) == 3 * len(pts)
    assert a[cols[:3]].equals(b[cols[:3]])
    assert np.array_equal(a["dist"].to_numpy().view(np.int64),
                          b["dist"].to_numpy().view(np.int64))


def test_knn_haversine_over_1000_targets_uses_jvm_join(spark, big_targets, monkeypatch):
    """Trig metrics stay on the JVM join above the brute-force shortcut:
    each grid round plans a per-point Window (seen in the plan the round
    checkpoints) and no Python stage."""
    spts, stgt, _, _ = big_targets
    few = stgt.filter(F.col("t_id") < 1500)
    checkpointed = []
    cls = type(spts)
    real = cls.localCheckpoint

    def spy(self, *args, **kwargs):
        checkpointed.append(_plan(self))
        return real(self, *args, **kwargs)

    monkeypatch.setattr(cls, "localCheckpoint", spy)
    got = knn_join(spts, few, 2, point_id="p_id", target_id="t_id",
                   metric="haversine", target_rows=1500)
    assert got.count() == 2 * 400
    assert checkpointed and all("Window" in p for p in checkpointed)
    assert not any("MapInPandas" in p for p in checkpointed + [_plan(got)])


def test_knn_arrow_zero_targets_empty(spark, small):
    spts, stgt, _, _ = small
    got = knn_join(spts, stgt.filter(F.lit(False)), 3, point_id="p_id",
                   target_id="t_id", point_cols=["p_id"])
    assert got.columns == ["p_id", "t_id", "dist", "knn_rank"]
    assert got.count() == 0


def test_knn_kernel_budget_chunks_match_loop_reference(monkeypatch):
    """The Arrow kernel's passes give the same top-k whether the element
    budget splits them into many padded chunks or none, and the
    all-targets pass equals a per-point loop (ties by target position)."""
    from pythongis_spark.operators import knn as K

    rng = np.random.Generator(np.random.PCG64(31))
    # coarse lattice targets: many exact duplicate locations → ties
    tx = rng.integers(-20, 20, 600) * 9.0
    ty = rng.integers(-10, 10, 600) * 9.0
    px, py = rng.uniform(-180, 180, 250), rng.uniform(-90, 90, 250)
    px[:3], py[:3] = [180.0, -180.0, 0.0], [90.0, -90.0, np.nan]
    index = K._CellIndex(tx, ty, 3)

    def passes():
        ok, j, d = index.ring_pass(px, py, 1, 4)
        o = np.argsort(ok)  # accepted points come back in chunk order
        return (ok[o], j[o], d[o]), index.all_pass(px, py, 4)

    (ok1, j1, d1), (ja, da) = passes()
    monkeypatch.setattr(K, "_KERNEL_ELEMS", 50)
    (ok2, j2, d2), (jb, db) = passes()
    assert 0 < len(ok1) < len(px)
    assert np.array_equal(ok1, ok2) and np.array_equal(j1, j2)
    assert np.array_equal(d1, d2, equal_nan=True)
    assert np.array_equal(ja, jb) and np.array_equal(da, db, equal_nan=True)
    for i in range(len(px)):
        dx, dy = px[i] - tx, py[i] - ty
        d = np.sqrt(dx * dx + dy * dy)
        want = np.lexsort((np.arange(len(tx)), d))[:4]
        assert np.array_equal(ja[i], want)
        assert np.array_equal(da[i], d[want], equal_nan=True)
    # an accepted ring-pass point has its exact top-k
    assert np.array_equal(j1, ja[ok1]) and np.array_equal(d1, da[ok1])
