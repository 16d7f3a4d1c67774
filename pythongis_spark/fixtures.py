"""Deterministic synthetic fixtures (FIXTURES.md) — all seed-stable.

Two families:

* **Oracle-checkable** fixtures derived from the driver's TPC-H-ish tables
  by *exact* integer arithmetic (`/256` coordinate lattice), with matching
  DuckDB SQL snippets — Spark and DuckDB produce bit-identical doubles, so
  spatial operators get relational ground truth (FIXTURES.md §5).
* **Golden** fixtures (jittered zones with holes/multipolygons, image
  payload table) generated by seeded numpy for the reference-semantics
  goldens that SQL can't express.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pythongis_spark.geometry import wkb as W
from pythongis_spark.images import codec

# ------------------------------------------------------------------
# Derived point coordinates (exact /256 lattice; never on zone edges —
# numerators are odd, zone/tile edges land on even /256 numerators)
# ------------------------------------------------------------------

LON_MULT, LAT_MULT = 7919, 104729
LON_MOD, LAT_MOD = 360 * 128, 180 * 128  # 46080, 23040


def derived_lonlat_cols(id_col: str = "event_id"):
    """Spark expressions for the deterministic lon/lat of a key column."""
    lon = (
        F.lit(-180.0)
        + (F.pmod(F.col(id_col) * LON_MULT, F.lit(LON_MOD)) * 2 + 1) / F.lit(256.0)
    ).alias("lon")
    lat = (
        F.lit(-90.0)
        + (F.pmod(F.col(id_col) * LAT_MULT, F.lit(LAT_MOD)) * 2 + 1) / F.lit(256.0)
    ).alias("lat")
    return lon, lat


def derived_lonlat_sql(id_col: str = "event_id") -> tuple[str, str]:
    """The same formulas as ANSI SQL for the DuckDB oracle (bit-identical:
    integer modulo then one exact float divide)."""
    lon = f"(-180.0 + ((({id_col} * {LON_MULT}) % {LON_MOD}) * 2 + 1) / 256.0)"
    lat = f"(-90.0 + ((({id_col} * {LAT_MULT}) % {LAT_MOD}) * 2 + 1) / 256.0)"
    return lon, lat


def events_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events table → deterministic point layer (event_id, lon, lat, value,
    event_type)."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    lon, lat = derived_lonlat_cols("event_id")
    return ev.select("event_id", "event_type", "value", lon, lat)


# ------------------------------------------------------------------
# Oracle zones: exact 10 x 6 grid of 36° x 30° rectangles
# ------------------------------------------------------------------

N_ZX, N_ZY = 10, 6
ZONE_W, ZONE_H = 36.0, 30.0


def zone_attrs(z: int) -> tuple[str, str, int]:
    name = f"zone{z}"
    category = "ABCD"[z % 4]
    pop = (z * 1103515245 + 12345) % 9_000_000 + 1_000_000
    return name, category, pop


def oracle_zones_pdf() -> pd.DataFrame:
    """60 rectangle zones as WKB polygons + attributes + bbox columns."""
    rows = []
    for z in range(N_ZX * N_ZY):
        x0 = -180.0 + (z % N_ZX) * ZONE_W
        y0 = -90.0 + (z // N_ZX) * ZONE_H
        x1, y1 = x0 + ZONE_W, y0 + ZONE_H
        ring = np.array([[x0, y0], [x1, y0], [x1, y1], [x0, y1], [x0, y0]])
        name, category, pop = zone_attrs(z)
        rows.append(
            dict(
                zone_id=z,
                name=name,
                category=category,
                pop=pop,
                geom=W.wkb_polygon(ring),
                bbox_xmin=x0,
                bbox_ymin=y0,
                bbox_xmax=x1,
                bbox_ymax=y1,
            )
        )
    return pd.DataFrame(rows)


def oracle_zones(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame(oracle_zones_pdf())


def zone_id_sql(lon_sql: str, lat_sql: str) -> str:
    """SQL that computes the zone containing a point — ground truth for
    the point-in-polygon spatial join over the oracle zone rectangles."""
    return (
        f"(CAST(FLOOR(({lon_sql} + 180.0) / {ZONE_W}) AS BIGINT)"
        f" + {N_ZX} * CAST(FLOOR(({lat_sql} + 90.0) / {ZONE_H}) AS BIGINT))"
    )


ZONES_CTE_SQL = f"""
zones AS (
  SELECT z AS zone_id,
         'zone' || CAST(z AS VARCHAR) AS name,
         substr('ABCD', CAST(z % 4 AS INTEGER) + 1, 1) AS category,
         (z * 1103515245 + 12345) % 9000000 + 1000000 AS pop,
         -180.0 + (z % {N_ZX}) * {ZONE_W} AS xmin,
         -90.0 + CAST(FLOOR(z / {N_ZX}) AS BIGINT) * {ZONE_H} AS ymin,
         -180.0 + (z % {N_ZX}) * {ZONE_W} + {ZONE_W} AS xmax,
         -90.0 + CAST(FLOOR(z / {N_ZX}) AS BIGINT) * {ZONE_H} + {ZONE_H} AS ymax,
         -180.0 + (z % {N_ZX}) * {ZONE_W} + {ZONE_W} / 2 AS cx,
         -90.0 + CAST(FLOOR(z / {N_ZX}) AS BIGINT) * {ZONE_H} + {ZONE_H} / 2 AS cy
  FROM (SELECT CAST(range AS BIGINT) AS z FROM range({N_ZX * N_ZY}))
)
"""


# ------------------------------------------------------------------
# Golden zones: jittered grid with holes and multipolygons
# ------------------------------------------------------------------

def golden_zones_pdf(n_zones: int = 200, seed: int = 42) -> pd.DataFrame:
    """FIXTURES.md §2 — world split into jittered rectangular cells, some
    with a hole, ~5% MultiPolygon. Exercises the predicate paths of
    ``pythongis/vector/manager.py:381-431`` incl. hole handling."""
    rng = np.random.Generator(np.random.PCG64(seed))
    nx = int(np.ceil(np.sqrt(n_zones * 2)))
    ny = int(np.ceil(n_zones / nx))
    w, h = 360.0 / nx, 180.0 / ny
    rows = []
    for z in range(n_zones):
        gx, gy = z % nx, z // nx
        x0 = -180.0 + gx * w + rng.uniform(0, 0.2 * w)
        y0 = -90.0 + gy * h + rng.uniform(0, 0.2 * h)
        x1 = x0 + w * rng.uniform(0.6, 0.95)
        y1 = y0 + h * rng.uniform(0.6, 0.95)
        ring = np.array([[x0, y0], [x1, y0], [x1, y1], [x0, y1], [x0, y0]])
        holes = []
        if z % 7 == 0:  # ~14% have a hole
            hx0 = x0 + (x1 - x0) * 0.3
            hy0 = y0 + (y1 - y0) * 0.3
            hx1 = x0 + (x1 - x0) * 0.6
            hy1 = y0 + (y1 - y0) * 0.6
            holes = [
                np.array(
                    [[hx0, hy0], [hx1, hy0], [hx1, hy1], [hx0, hy1], [hx0, hy0]]
                )
            ]
        if z % 20 == 0:  # 5% multipolygon: add a small island
            ix0, iy0 = x1 + 0.05 * w, y0
            island = np.array(
                [
                    [ix0, iy0],
                    [ix0 + 0.1 * w, iy0],
                    [ix0 + 0.1 * w, iy0 + 0.1 * h],
                    [ix0, iy0 + 0.1 * h],
                    [ix0, iy0],
                ]
            )
            geom = W.wkb_multipolygon([(ring, holes), (island, [])])
            bxmax = ix0 + 0.1 * w
        else:
            geom = W.wkb_polygon(ring, holes)
            bxmax = x1
        name, category, pop = zone_attrs(z)
        rows.append(
            dict(
                zone_id=z,
                name=name,
                category=category,
                pop=pop,
                geom=geom,
                bbox_xmin=x0,
                bbox_ymin=y0,
                bbox_xmax=bxmax,
                bbox_ymax=y1,
            )
        )
    return pd.DataFrame(rows)


def golden_points_pdf(n_points: int = 5000, seed: int = 42) -> pd.DataFrame:
    """FIXTURES.md §3 — low-discrepancy points + 10% duplicates + 1% null
    geometry."""
    rng = np.random.Generator(np.random.PCG64(seed))
    ids = np.arange(n_points, dtype=np.int64)
    lon = -180.0 + ((ids * LON_MULT) % LON_MOD * 2 + 1) / 256.0
    lat = -90.0 + ((ids * LAT_MULT) % LAT_MOD * 2 + 1) / 256.0
    # 10% duplicates: copy coords from id-9 (ids ending in 0, which are
    # never dup targets themselves — copying from id-10 paired each dup
    # with ANOTHER dup row whose value was overwritten in the same
    # statement, leaving only one real duplicate pair in the table)
    dup = ids % 10 == 9
    src = np.maximum(ids - 9, 0)
    lon[dup] = lon[src][dup]
    lat[dup] = lat[src][dup]
    null_geom = ids % 100 == 99
    geoms = W.wkb_points_vectorized(lon, lat)
    return pd.DataFrame(
        dict(
            point_id=ids,
            name=[f"pt{p}" for p in ids],
            rank=(ids % 11).astype(np.int32),
            lon=np.where(null_geom, np.nan, lon),
            lat=np.where(null_geom, np.nan, lat),
            geom=[None if n else g for g, n in zip(geoms, null_geom)],
        )
    )


# ------------------------------------------------------------------
# Images: north-rule payload table (BASELINE.json input_hint)
# ------------------------------------------------------------------

IMG_W = [32, 64, 128]
IMG_H = [32, 48, 96]
IMG_FMT = ["png", "jpeg", "bmp"]
WORDS = [f"w{j:03d}" for j in range(256)]

IMAGES_SCHEMA = (
    "image_id string, bytes binary, w int, h int, fmt string, "
    "caption string, phash long, lon double, lat double"
)


def make_image_row(i: int, hotspot: bool = False) -> dict:
    w = IMG_W[i % 3]
    h = IMG_H[i % 3]
    fmt = IMG_FMT[i % 3]
    px = codec.make_pixels(i, w, h)
    blob = codec.encode_image(px, fmt)
    # phash of the *decoded* pixels without paying a decompress round-trip:
    # decode(encode(px)) is px for lossless, quantize_lossy(px) for FJPG
    decoded = codec.quantize_lossy(px) if fmt == "jpeg" else px
    phash = codec.average_phash(decoded)
    if hotspot and i % 5 == 0:
        # 20% of rows concentrated in one 1°x1° cell (salting exercise)
        lon = 10.0 + (((i * LON_MULT) % 256) * 2 + 1) / 512.0
        lat = 50.0 + (((i * LAT_MULT) % 256) * 2 + 1) / 512.0
    else:
        lon = -180.0 + ((i * LON_MULT) % LON_MOD * 2 + 1) / 256.0
        lat = -90.0 + ((i * LAT_MULT) % LAT_MOD * 2 + 1) / 256.0
    return dict(
        image_id=f"img{i:012d}",
        bytes=blob,
        w=w,
        h=h,
        fmt=fmt,
        caption=f"caption {i} {WORDS[i % 256]}",
        phash=phash,
        lon=lon,
        lat=lat,
    )


def images_df(spark: SparkSession, n: int, hotspot: bool = False, partitions: int | None = None) -> DataFrame:
    """Distributed deterministic generation of the image+caption table via
    ``mapInPandas`` over ``spark.range`` — at 10^12 scale this is exactly
    how a synthetic load generator would fan out; rows depend only on ``i``
    so any partitioning yields identical data."""

    def gen(batches):
        for pdf in batches:
            # bulk .tolist() + columnar build: python ints in one go and
            # no per-row dict inference in the DataFrame constructor
            rows = [make_image_row(i, hotspot) for i in pdf["id"].tolist()]
            if not rows:
                continue
            yield pd.DataFrame({k: [r[k] for r in rows] for k in rows[0]})

    # numPartitions on range() instead of .repartition(): rows depend
    # only on i, so contiguous id blocks are the same table as a
    # round-robin shuffle — minus one Exchange (the per-row mix of
    # 32/64/128-px sizes cycles every 3 ids, so block balance is equal)
    rng = spark.range(n, numPartitions=partitions)
    return rng.mapInPandas(gen, schema=IMAGES_SCHEMA)


def make_noise_image_row(i: int) -> dict:
    """One high-entropy image row (see codec.make_noise_pixels): same
    schema and id/caption/coordinate formulas as make_image_row, id
    prefix ``nz``. phash is of the DECODED pixels (quantized for the
    lossy fmt) so a decode→rehash pass reproduces it bit-exactly."""
    w = IMG_W[i % 3]
    h = IMG_H[i % 3]
    fmt = IMG_FMT[i % 3]
    px = codec.make_noise_pixels(i, w, h)
    blob = codec.encode_image(px, fmt)
    decoded = codec.quantize_lossy(px) if fmt == "jpeg" else px
    phash = codec.average_phash(decoded)
    lon = -180.0 + ((i * LON_MULT) % LON_MOD * 2 + 1) / 256.0
    lat = -90.0 + ((i * LAT_MULT) % LAT_MOD * 2 + 1) / 256.0
    return dict(
        image_id=f"nz{i:012d}",
        bytes=blob,
        w=w,
        h=h,
        fmt=fmt,
        caption=f"caption {i} {WORDS[i % 256]}",
        phash=phash,
        lon=lon,
        lat=lat,
    )


def noise_images_df(
    spark: SparkSession, n: int, dup_every: int | None = None,
    partitions: int | None = None,
) -> DataFrame:
    """Image table with effectively-random perceptual hashes (min
    pairwise phash Hamming ≥16 at n=300, measured) and, when
    ``dup_every`` is set, a byte-exact planted duplicate of every
    ``dup_every``-th image under id ``dz{i:012d}`` — the planted pairs
    are then the ONLY pairs within Hamming radius 3, giving the phash
    near-dup gate query a closed-form oracle. Distributed generation,
    rows depend only on i."""

    def gen(batches):
        for pdf in batches:
            rows = []
            for i in pdf["id"]:
                row = make_noise_image_row(int(i))
                rows.append(row)
                if dup_every and int(i) % dup_every == 0:
                    dup = dict(row)
                    dup["image_id"] = f"dz{int(i):012d}"
                    rows.append(dup)
            yield pd.DataFrame(rows)

    # numPartitions on range() instead of .repartition(): rows depend
    # only on i, so contiguous id blocks are the same table as a
    # round-robin shuffle — minus one Exchange (the per-row mix of
    # 32/64/128-px sizes cycles every 3 ids, so block balance is equal)
    rng = spark.range(n, numPartitions=partitions)
    return rng.mapInPandas(gen, schema=IMAGES_SCHEMA)


# ------------------------------------------------------------------
# Raster cell table: oracle-checkable synthetic grid (FIXTURES.md §4)
# ------------------------------------------------------------------

RASTER_W, RASTER_H, RASTER_BANDS = 360, 180, 3
RASTER_AFFINE = [1.0, 0.0, -180.0, 0.0, -1.0, 90.0]


def raster_cells(spark: SparkSession, w: int = RASTER_W, h: int = RASTER_H, bands: int = RASTER_BANDS) -> DataFrame:
    """Cell table (x, y, band, val) with ~5% nodata→NULL, from pure
    Catalyst expressions (JVM-side, no Python)."""
    n = w * h * bands
    df = spark.range(n).select(
        F.pmod(F.col("id"), w).cast("int").alias("x"),
        F.pmod(F.floor(F.col("id") / w), h).cast("int").alias("y"),
        F.floor(F.col("id") / (w * h)).cast("int").alias("band"),
    )
    val = (
        F.pmod(F.col("x") * 7 + F.col("y") * 13 + F.col("band") * 17, F.lit(1000))
        / F.lit(10.0)
    )
    nodata = F.pmod(F.col("x") * 31 + F.col("y") * 29 + F.col("band"), F.lit(20)) == 0
    return df.withColumn("val", F.when(nodata, F.lit(None)).otherwise(val))


def raster_cells_cte_sql(w: int = RASTER_W, h: int = RASTER_H, bands: int = RASTER_BANDS) -> str:
    """The same grid as a DuckDB CTE."""
    n = w * h * bands
    return f"""
raster AS (
  SELECT CAST(i % {w} AS INTEGER) AS x,
         CAST(FLOOR(i / {w}) % {h} AS INTEGER) AS y,
         CAST(FLOOR(i / {w * h}) AS INTEGER) AS band,
         CASE WHEN ((i % {w}) * 31 + (CAST(FLOOR(i / {w}) AS BIGINT) % {h}) * 29 + CAST(FLOOR(i / {w * h}) AS BIGINT)) % 20 = 0
              THEN NULL
              ELSE (((i % {w}) * 7 + (CAST(FLOOR(i / {w}) AS BIGINT) % {h}) * 13 + CAST(FLOOR(i / {w * h}) AS BIGINT) * 17) % 1000) / 10.0
         END AS val
  FROM (SELECT CAST(range AS BIGINT) AS i FROM range({n}))
)
"""
