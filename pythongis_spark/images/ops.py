"""Image-payload operators over the (image_id, bytes, w, h, fmt, caption,
phash) table — BASELINE.json input_hint.

All decode/verify work happens inside ``mapInPandas`` over Arrow batches
(numpy per batch; zero per-row Python at the Spark boundary). The codecs
in ``images.codec`` are REAL for PNG/BMP/baseline JPEG/GIF (pure-stdlib
implementations of the public specs; PIL absent from this image); the
synthetic ``fmt='jpeg'`` blobs use the documented FJPG quantizer
stand-in for ingest throughput.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pythongis_spark.images import codec

VERIFY_SCHEMA = (
    "image_id string, fmt string, ok_shape boolean, psnr double, "
    "psnr_ok boolean, phash_ok boolean, caption_ok boolean"
)


def verify_images(df: DataFrame, reencode: bool = True) -> DataFrame:
    """Per-row payload invariant check (input_hint): decode → re-encode →
    decode → pixels allclose / PSNR ≥ 40 dB for lossy; phash recomputed
    equals the stored column; caption byte-equality vs its deterministic
    reconstruction."""

    def run(batches):
        # heavyweight-free setup once per task (guide §4.5): the WORDS
        # table import was previously inside the per-row loop
        from pythongis_spark.fixtures import WORDS

        for pdf in batches:
            n = len(pdf)
            c_ok_shape = np.zeros(n, dtype=bool)
            c_psnr = np.zeros(n, dtype=np.float64)
            c_psnr_ok = np.zeros(n, dtype=bool)
            c_phash_ok = np.zeros(n, dtype=bool)
            c_caption_ok = np.zeros(n, dtype=bool)
            it = zip(
                pdf["bytes"].to_numpy(), pdf["fmt"].to_numpy(),
                pdf["w"].to_numpy(), pdf["h"].to_numpy(),
                pdf["phash"].to_numpy(), pdf["image_id"].to_numpy(),
                pdf["caption"].to_numpy(),
            )
            for j, (blob, fmt, w, h, phash, image_id, caption) in enumerate(it):
                try:
                    px = codec.decode_image(blob)
                except Exception:
                    # corrupt payload: flag the row, never fail the task
                    # (at 10^12 rows one bad blob must not kill a job)
                    continue
                c_ok_shape[j] = px.shape == (h, w, 3)
                # gif is pixel-lossless for its ≤256-color domain; fmts
                # outside FMT_MAGIC (e.g. jpeg-real) take the PSNR pass
                lossless = (fmt == "gif"
                            or codec.FMT_MAGIC.get(fmt)
                            in codec.MAGIC_LOSSLESS)
                # lossless re-encode is bit-identical by codec contract
                # (unit-tested); only lossy formats need the PSNR pass
                if reencode and not lossless:
                    try:
                        if fmt == "jpeg":
                            # FJPG: decode(encode(px)) ≡ quantize_lossy(px)
                            # by construction (zlib is lossless), so the
                            # PSNR input is computed directly — skips a
                            # compress+decompress round trip per row with
                            # bit-identical psnr (guide §4.2)
                            rt = codec.quantize_lossy(px)
                        else:
                            rt = codec.decode_image(codec.encode_image(px, fmt))
                        psnr = codec.psnr_db(px, rt)
                    except Exception:
                        # unknown/unencodable fmt: flag, never fail the task
                        psnr = 0.0
                else:
                    psnr = float("inf")
                c_psnr[j] = psnr
                c_psnr_ok[j] = True if lossless else psnr >= 40.0
                c_phash_ok[j] = codec.average_phash(px) == phash
                i = int(image_id[3:])
                c_caption_ok[j] = caption == f"caption {i} {WORDS[i % 256]}"
            yield pd.DataFrame(
                {
                    "image_id": pdf["image_id"].to_numpy(),
                    "fmt": pdf["fmt"].to_numpy(),
                    "ok_shape": c_ok_shape,
                    "psnr": c_psnr,
                    "psnr_ok": c_psnr_ok,
                    "phash_ok": c_phash_ok,
                    "caption_ok": c_caption_ok,
                }
            )

    return df.mapInPandas(run, schema=VERIFY_SCHEMA)


FEATURE_SCHEMA = (
    "image_id string, w int, h int, fmt string, mean_r double, mean_g double, "
    "mean_b double, brightness double, contrast double, phash long"
)


def extract_features(df: DataFrame) -> DataFrame:
    """Decode + per-image feature extraction (channel means, brightness,
    contrast, phash) — the feature-extract stage of a training-data
    pipeline, as a ``mapInPandas`` batch op."""

    def run(batches):
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                px = codec.decode_image(r.bytes).astype(np.float64)
                rows.append(
                    dict(
                        image_id=r.image_id,
                        w=int(r.w),
                        h=int(r.h),
                        fmt=r.fmt,
                        mean_r=float(px[:, :, 0].mean()),
                        mean_g=float(px[:, :, 1].mean()),
                        mean_b=float(px[:, :, 2].mean()),
                        brightness=float(px.mean()),
                        contrast=float(px.std()),
                        phash=codec.average_phash(px.astype(np.uint8)),
                    )
                )
            yield pd.DataFrame(rows)

    return df.mapInPandas(run, schema=FEATURE_SCHEMA)


RESIZE_SCHEMA = "image_id string, w int, h int, bytes binary"


def resize_images(df: DataFrame, out_w: int, out_h: int, fmt: str = "png") -> DataFrame:
    """Nearest-neighbour resize (numpy index sampling — PIL absent, real
    resampling plumbing) re-encoded to ``fmt``."""

    def run(batches):
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                px = codec.decode_image(r.bytes)
                ys = (np.arange(out_h) * px.shape[0] // out_h).astype(int)
                xs = (np.arange(out_w) * px.shape[1] // out_w).astype(int)
                small = px[ys][:, xs]
                rows.append(
                    dict(
                        image_id=r.image_id,
                        w=out_w,
                        h=out_h,
                        bytes=codec.encode_image(small, fmt),
                    )
                )
            yield pd.DataFrame(rows)

    return df.mapInPandas(run, schema=RESIZE_SCHEMA)


def phash_hamming_expr(a, b):
    """Hamming distance between two int64 phashes, pure Catalyst
    (bit_count of xor) — near-duplicate detection on the JVM side."""
    return F.bit_count(a.bitwiseXOR(b))


PHASH_SCHEMA = "image_id string, phash long"


def phash_signatures(
    df: DataFrame, id_col: str = "image_id", bytes_col: str = "bytes"
) -> DataFrame:
    """(image_id, phash) recomputed from the DECODED pixels through the
    real codecs — one mapInPandas pass over (id, blob) only, no shuffle,
    column-pruned so the scan never reads captions/metadata."""

    def run(batches):
        for pdf in batches:
            ids: list = []
            hashes: list = []
            for r in pdf.itertuples(index=False):
                px = codec.decode_image(r.bytes)
                ids.append(r.image_id)
                hashes.append(codec.average_phash(px))
            yield pd.DataFrame(
                {
                    "image_id": pd.Series(ids, dtype=object),
                    "phash": pd.Series(hashes, dtype="int64"),
                }
            )

    pruned = df.select(
        F.col(id_col).alias("image_id"), F.col(bytes_col).alias("bytes")
    )
    return pruned.mapInPandas(run, schema=PHASH_SCHEMA)


def phash_neardup_pairs(
    df: DataFrame,
    max_hamming: int = 3,
    id_col: str = "image_id",
    bytes_col: str = "bytes",
    phash_col: str = "phash",
    from_bytes: bool = True,
    n_bands: int = 4,
    bucket_cap: int | None = None,
) -> DataFrame:
    """Image near-duplicate pairs by perceptual-hash Hamming distance —
    the image-payload analog of text simhash dedup. ``from_bytes=True``
    (default) recomputes the hash from the decoded pixels (real codecs,
    catches blobs whose stored phash column drifted); ``False`` trusts
    an existing int64 ``phash_col`` and is pure Catalyst with no Python
    at all. EXACT for ``max_hamming <= n_bands - 1`` via the banded
    pigeonhole join (see dedup.hamming_neardup_pairs); feed the pairs to
    dedup.connected_components to elect one keeper per duplicate
    cluster. Default ``bucket_cap=None`` keeps exactness — at web-corpus
    scale pass a cap: identical boilerplate thumbnails make degenerate
    buckets exactly like boilerplate text does."""
    from pythongis_spark.operators.dedup import hamming_neardup_pairs

    if from_bytes:
        sig = phash_signatures(df, id_col, bytes_col)
    else:
        sig = df.select(
            F.col(id_col).alias("image_id"),
            F.col(phash_col).cast("long").alias("phash"),
        )
    return hamming_neardup_pairs(
        sig, "image_id", "phash", max_hamming, n_bands, bucket_cap
    )


# ------------------------------------------------------------------
# SQL-replayable integer-exact image fixtures + features
# ------------------------------------------------------------------

LCG_IMAGE_SCHEMA = "image_id long, bytes binary, w int, h int, fmt string"


def lcg_image_df(spark: SparkSession, n: int, w: int = 64, h: int = 48,
                 partitions: int | None = None) -> DataFrame:
    """n images of :func:`codec.make_lcg_pixels` pixels, REAL-PNG
    encoded — the oracle-checkable image corpus (the PNG round trip is
    lossless, so integer pixel features have a closed SQL form)."""

    def gen(batches):
        for pdf in batches:
            yield pd.DataFrame([
                dict(image_id=int(i),
                     bytes=codec.encode_png(codec.make_lcg_pixels(int(i), w, h)),
                     w=w, h=h, fmt="png")
                for i in pdf["id"]
            ])

    rng = spark.range(n, numPartitions=partitions)
    return rng.mapInPandas(gen, schema=LCG_IMAGE_SCHEMA)


def image_features_int(df: DataFrame, bright: int = 200) -> DataFrame:
    """Integer-exact per-image features through the real codec decode —
    the oracle-provable counterpart of :func:`extract_features` (whose
    float means/contrast depend on summation order). Sub-pixel sum,
    min/max and the ≥``bright`` count are order-independent integers,
    so Spark and a SQL replay agree bit-for-bit. One mapInPandas pass,
    no shuffle."""

    def run(batches):
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                v = codec.decode_image(r.bytes).astype(np.int64).ravel()
                rows.append(dict(
                    image_id=r.image_id,
                    n_subpx=int(v.size),
                    sum_v=int(v.sum()),
                    min_v=int(v.min()) if v.size else 0,
                    max_v=int(v.max()) if v.size else 0,
                    n_bright=int(np.count_nonzero(v >= bright)),
                ))
            yield pd.DataFrame(rows)

    return df.mapInPandas(
        run,
        schema="image_id long, n_subpx long, sum_v long, min_v long, "
               "max_v long, n_bright long",
    )
