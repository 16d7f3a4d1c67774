"""The workloads. Each has a ``setup`` (inputs, warm-up) and a
``step`` (one closed-loop iteration). Untraced steps run the flow a
user would run and time its operations; traced steps materialize each
layer's output separately, over cached inputs, inside a span per layer
call, so the per-layer numbers can be read from the spans.
"""

from __future__ import annotations

import os
import shutil
import statistics
from collections import Counter

import numpy as np
from pyspark.sql import functions as F

import inputs
import reference as R

K = 3           # neighbours per point in vector_raster
TILE_Z = 8      # tile level of the tile assignment
IMG_PIP_Z = 6   # pip level bench.py and the queries use for the oracle zones
PIP_COLS = ("pid", "zone_id", "tile")
KNN_COLS = ("pid", "tid", "knn_rank", "dist")
WARMUP = 1 << 20  # iteration number of the untimed warm-up step

SIZES = {
    "full": dict(images=3000, points=8000, zones=200, targets=2500,
                 knn_sample=200, grid=(1080, 540)),
    "tiny": dict(images=60, points=600, zones=20, targets=1100,
                 knn_sample=20, grid=(120, 60)),
}


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _tile(lon="lon", lat="lat"):
    from pythongis_spark.index.udfs import point_cell_expr

    return point_cell_expr(F.col(lon), F.col(lat), TILE_Z)


def _candidates(points, zones, z: int, lon="lon", lat="lat") -> int:
    """(point, polygon) pairs sharing an index cell at level z, counted
    with the index layer's public functions."""
    from pythongis_spark.index import udfs as IU

    pc = points.select(IU.point_cell_expr(F.col(lon), F.col(lat), z).alias("cell"))
    zc = IU.explode_bbox_cells(zones.select("bbox_xmin", "bbox_ymin", "bbox_xmax", "bbox_ymax"), z)
    return pc.join(zc.select("cell"), "cell").count()


def _dir_stats(path: str) -> tuple[int, int]:
    """(bytes, data files) under ``path``, ignoring Spark's marker and
    checksum files."""
    nbytes = nfiles = 0
    for root, _, files in os.walk(path):
        for f in files:
            if f.startswith((".", "_")):
                continue
            nfiles += 1
            nbytes += os.path.getsize(os.path.join(root, f))
    return nbytes, nfiles


# ------------------------------------------------------------------
# image_pipeline
# ------------------------------------------------------------------

class ImagePipeline:
    """images_df -> cache -> verify -> pip join -> quadkey tile ->
    per-(zone, tile) count -> checkpointed write by zone, then a resume."""

    def __init__(self, run):
        self.run = run
        self.n = run.size["images"]

    def setup(self):
        from pythongis_spark import fixtures as FX

        spark = self.run.spark
        self.zones = FX.oracle_zones(spark).cache()
        self.zones.count()
        ids = np.arange(self.n, dtype=np.int64)
        lon, lat = R.lattice_lonlat(ids)
        self.zone_of = R.oracle_zone_of(lon, lat)
        self.expected = Counter(zip(self.zone_of.tolist(), R.morton_tile(lon, lat, TILE_Z).tolist()))

    def warmup(self):
        self.step(WARMUP, False, check=False)

    def _ingest(self, n):
        from pythongis_spark import fixtures as FX

        imgs = FX.images_df(self.run.spark, n, partitions=self.run.cores * 2).cache()
        self.rows = imgs.count()
        return imgs

    def _tagged(self, imgs):
        from pythongis_spark.operators.spatial_join import point_in_polygon_join

        return point_in_polygon_join(
            imgs.select("image_id", "lon", "lat"), self.zones,
            point_id="image_id", z=IMG_PIP_Z, build_rows=0,
        )

    def _verified(self, imgs) -> int:
        from pythongis_spark.images.ops import verify_images

        return verify_images(imgs).filter(
            "ok_shape AND psnr_ok AND phash_ok AND caption_ok"
        ).count()

    def step(self, i: int, traced: bool, check: bool = True):
        from pythongis_spark.lineage import run_checkpointed

        run, tr, n = self.run, self.run.tracer, self.n
        base = os.path.join(run.work, f"ckpt-{i}")
        if not traced:
            with run.timed("ingest"):
                imgs = self._ingest(n)
            with run.timed("tag"):
                n_ok = self._verified(imgs)
                agg = self._tagged(imgs).withColumn("tile", _tile()).groupBy("zone_id", "tile").count()
                run_checkpointed(agg, base, "zone_id")
            with run.timed("resume"):
                resumed = run_checkpointed(agg, base, "zone_id")
        else:
            with tr.span("fixtures.images_df") as c:
                imgs = self._ingest(n)
                c["rows"] = self.rows
            with tr.span("images.verify") as c:
                n_ok = self._verified(imgs)
                c["failed_rows"] = n - n_ok
            with tr.span("spatial_join.plan"):
                tagged = self._tagged(imgs)
            with tr.span("spatial_join.exec"):
                tagged = tagged.cache()
                noop(tagged)
            with tr.span("probe.candidates") as c:
                c["candidates"] = _candidates(imgs, self.zones, IMG_PIP_Z)
                c["matched"] = tagged.count()
            with tr.span("index.tile"):
                tiled = tagged.withColumn("tile", _tile()).cache()
                noop(tiled)
            agg = tiled.groupBy("zone_id", "tile").count()
            with tr.span("lineage.write") as c:
                run_checkpointed(agg, base, "zone_id")
                c["bytes_written"], c["files_written"] = _dir_stats(base)
            with tr.span("lineage.resume"):
                resumed = run_checkpointed(agg, base, "zone_id")
            tiled.unpersist()
            tagged.unpersist()

        if check:
            run.expect(self.rows == n, f"ingest rows {self.rows} != {n}")
            run.expect(n_ok == n, f"verified {n_ok} of {n} images")
            run.expect(resumed.get("skipped") is True, "resume did not skip committed keys")
            self._check_checkpoint(i, os.path.join(base, "data"))
            if i == 0:
                self._check_zones(imgs)
        imgs.unpersist()
        shutil.rmtree(base, ignore_errors=True)

    def _check_checkpoint(self, i: int, path: str):
        import pyarrow.parquet as pq

        t = pq.read_table(path).to_pydict()
        got = Counter()
        for z, tile, cnt in zip(t["zone_id"], t["tile"], t["count"]):
            got[(int(z), int(tile))] += int(cnt)
        self.run.record(i, sorted(got.items()))
        self.run.expect(sum(got.values()) == self.n, "checkpoint does not read back N rows")
        self.run.expect(got == self.expected, "per-(zone, tile) counts differ from the lattice formula")

    def _check_zones(self, imgs):
        """Every image's zone against the closed-form lattice formula."""
        pdf = self._tagged(imgs).select("image_id", "zone_id").toPandas()
        ids = pdf["image_id"].str.slice(3).astype(np.int64).to_numpy()
        ok = len(pdf) == self.n and np.array_equal(
            pdf["zone_id"].to_numpy(np.int64), self.zone_of[ids]
        )
        self.run.expect(bool(ok), "image zones differ from the lattice formula")

    def metrics(self) -> dict:
        ops, n = self.run.ops, self.n
        return {
            "batch_s": _med_total(ops, "ingest", "tag", "resume"),
            "ingest_images_per_s": n / _med(ops["ingest"]),
            "tag_images_per_s": n / _med(ops["tag"]),
            "resume_s": _med(ops["resume"]),
        }


# ------------------------------------------------------------------
# vector_raster
# ------------------------------------------------------------------

class VectorRaster:
    """Every batch takes a fresh golden-zone layer (holes, multipolygons)
    and a fresh kNN target set. Seeded points (a share packed into one
    hot cell) are joined to the zones (pip, then a tile) and to their k
    nearest targets; the zones are rasterized and used for zonal
    statistics over a value grid finer than the 360 x 180 oracle grid."""

    def __init__(self, run):
        self.run = run
        self.n = run.size["points"]
        self.w, self.h = run.size["grid"]

    def setup(self):
        from pythongis_spark import fixtures as FX
        from pythongis_spark.raster.model import RasterDef

        spark, w, h = self.run.spark, self.w, self.h
        self.pdf = inputs.points_pdf(self.run.seed, self.n)
        self.points = spark.createDataFrame(self.pdf).repartition(self.run.cores * 2).cache()
        self.points.count()
        self.rd = RasterDef(w, h, (360.0 / w, 0.0, -180.0, 0.0, -180.0 / h, 90.0))
        self.cells = FX.raster_cells(spark, w, h, 1).withColumn(
            "val", F.col("val").cast("decimal(38,9)")
        ).cache()
        self.cells.count()
        self.tenths, self.nodata = R.raster_band0(w, h)

    def warmup(self):
        self.step(WARMUP, False, check=False)

    def _iteration_inputs(self, i):
        from pythongis_spark import fixtures as FX

        spark, size = self.run.spark, self.run.size
        self.zpdf = FX.golden_zones_pdf(size["zones"], inputs.zones_seed(self.run.seed, i))
        self.tpdf = inputs.targets_pdf(self.run.seed, i, size["targets"])
        return spark.createDataFrame(self.zpdf), spark.createDataFrame(self.tpdf)

    def _pip(self, zones):
        from pythongis_spark.operators.spatial_join import point_in_polygon_join

        return point_in_polygon_join(self.points, zones, point_id="pid")

    def _knn(self, targets):
        from pythongis_spark.operators.knn import knn_join

        return knn_join(self.points, targets, K, point_id="pid", target_id="tid",
                        t_lon="tlon", t_lat="tlat")

    def _rasterize(self, zones):
        from pythongis_spark.raster.zonal import rasterize

        return rasterize(zones, self.rd, valuekey="zone_id", stat="sum")

    def _zonal(self, zones):
        from pythongis_spark.raster.zonal import zonal_statistics

        return zonal_statistics(zones, self.cells, self.rd, stats=["count", "sum"])

    def step(self, i: int, traced: bool, check: bool = True):
        run = self.run
        zones, targets = self._iteration_inputs(i)
        if not traced:
            with run.timed("pip"):
                pairs = self._pip(zones).withColumn("tile", _tile()).select(*PIP_COLS).toPandas()
            with run.timed("knn"):
                knn = self._knn(targets).select(*KNN_COLS).toPandas()
            with run.timed("rasterize"):
                burnt = self._rasterize(zones).agg(F.count("*"), F.sum("val")).first()
            with run.timed("zonal"):
                stats = self._zonal(zones).collect()
        else:
            pairs, knn = self._traced_vector(zones, targets)
            burnt, stats = self._traced_raster(zones)
        if check:
            run.record(i, (self._check_pip(pairs), self._check_knn(knn, i),
                           self._check_raster(burnt, stats)))

    def _traced_vector(self, zones, targets):
        from pythongis_spark.index.udfs import pick_level

        tr = self.run.tracer
        with tr.span("spatial_join.plan"):
            tagged = self._pip(zones)
        with tr.span("spatial_join.exec"):
            tagged = tagged.cache()
            noop(tagged)
        with tr.span("probe.candidates") as c:
            c["candidates"] = _candidates(self.points, zones, pick_level(zones))
            c["matched"] = tagged.count()
        with tr.span("index.tile"):
            tiled = tagged.withColumn("tile", _tile()).cache()
            noop(tiled)
        with tr.span("knn.plan"):
            knn = self._knn(targets)
        with tr.span("knn.exec"):
            knn = knn.cache()
            noop(knn)
        with tr.span("probe.knn_rows") as c:
            c["rows_out"] = knn.count()
        out = tiled.select(*PIP_COLS).toPandas(), knn.select(*KNN_COLS).toPandas()
        for df in (tiled, tagged, knn):
            df.unpersist()
        return out

    def _traced_raster(self, zones):
        from pythongis_spark.raster.zonal import cover_cells

        tr = self.run.tracer
        with tr.span("zonal.cover"):
            cov = cover_cells(zones.select("zone_id", "geom"), self.rd).cache()
            noop(cov)
        with tr.span("probe.cover_rows") as c:
            c["rows"] = cov.count()
        cov.unpersist()
        with tr.span("zonal.rasterize"):
            r = self._rasterize(zones).cache()
            noop(r)
        burnt = r.agg(F.count("*"), F.sum("val")).first()
        r.unpersist()
        with tr.span("zonal.stats.plan"):
            z = self._zonal(zones)
        with tr.span("zonal.stats.exec"):
            stats = z.collect()
        return burnt, stats

    def _check_pip(self, pairs):
        """Every (point, zone) pair and its tile against a numpy box test."""
        p = self.pdf
        lon, lat = p["lon"].to_numpy(), p["lat"].to_numpy()
        pid, zid = R.pip_pairs(p["pid"].to_numpy(), lon, lat,
                               self.zpdf["zone_id"].to_numpy(), self.zpdf["geom"])
        order = np.lexsort((zid, pid))
        pid, zid = pid[order], zid[order]
        got = pairs.sort_values(["pid", "zone_id"])
        ok = (len(got) == len(pid)
              and np.array_equal(got["pid"].to_numpy(np.int64), pid)
              and np.array_equal(got["zone_id"].to_numpy(np.int64), zid)
              and np.array_equal(got["tile"].to_numpy(np.int64),
                                 R.morton_tile(lon[pid], lat[pid], TILE_Z)))
        self.run.expect(bool(ok), f"pip returned {len(got)} pairs, the box test {len(pid)}")
        return got.to_numpy().tolist()

    def _check_knn(self, knn, i):
        """Row and rank counts over all points, and a seeded sample of
        points against a numpy brute force."""
        n = self.n
        knn = knn.sort_values(["pid", "knn_rank"])
        self.run.expect(len(knn) == K * n
                        and np.array_equal(knn["pid"].to_numpy(), np.repeat(np.arange(n), K))
                        and np.array_equal(knn["knn_rank"].to_numpy(), np.tile(np.arange(1, K + 1), n)),
                        f"knn returned {len(knn)} rows for {n} points")
        rng = inputs.rng_for(self.run.seed, 5, i)
        sample = np.sort(rng.choice(n, self.run.size["knn_sample"], replace=False))
        got = knn[knn["pid"].isin(sample)]
        p, t = self.pdf.iloc[sample], self.tpdf
        tid, dist = R.knn_brute(p["lon"].to_numpy(), p["lat"].to_numpy(), t["tid"].to_numpy(),
                                t["tlon"].to_numpy(), t["tlat"].to_numpy(), K)
        ok = (len(got) == tid.size
              and np.array_equal(got["tid"].to_numpy(), tid.ravel())
              and np.array_equal(got["dist"].to_numpy(), dist.ravel()))
        self.run.expect(bool(ok), "knn differs from the numpy brute force")
        return got.to_numpy().tolist()

    def _check_raster(self, burnt, stats):
        """Burnt cell count and value sum, and per-zone count and sum,
        against a numpy cell-centre test."""
        from decimal import Decimal

        w, h, zpdf = self.w, self.h, self.zpdf
        acc = np.zeros(w * h, dtype=np.int64)
        hit = np.zeros(w * h, dtype=bool)
        want = {}
        for zid, flat in zip(zpdf["zone_id"].tolist(), R.zone_cells(zpdf["geom"], w, h)):
            acc[flat] += zid
            hit[flat] = True
            valid = flat[~self.nodata[flat]]
            if len(flat):
                want[zid] = (len(valid), Decimal(int(self.tenths[valid].sum())) / 10)
        got_r = (int(burnt[0]), float(burnt[1] or 0.0))
        want_r = (int(hit.sum()), float(acc.sum()))
        self.run.expect(got_r == want_r, f"rasterize {got_r} != cell-centre test {want_r}")
        got = {r["zone_id"]: (r["count"], r["sum"]) for r in stats}
        self.run.expect(got == want, "zonal count/sum differ from the cell-centre test")
        return got_r, sorted(got.items())

    def metrics(self) -> dict:
        ops, n, cells = self.run.ops, self.n, self.w * self.h
        return {
            "batch_s": _med_total(ops, "pip", "knn", "rasterize", "zonal"),
            "pip_points_per_s": n / _med(ops["pip"]),
            "knn_points_per_s": n / _med(ops["knn"]),
            "rasterize_cells_per_s": cells / _med(ops["rasterize"]),
            "zonal_cells_per_s": cells / _med(ops["zonal"]),
        }


def _med(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def _med_total(ops, *names) -> float:
    """Median over iterations of the summed time of operations ``names``."""
    return _med([sum(t) for t in zip(*(ops[n] for n in names))])


WORKLOADS = {
    "image_pipeline": ImagePipeline,
    "vector_raster": VectorRaster,
}
