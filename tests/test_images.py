"""Image payload path tests: codec invariants + Spark plumbing."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from pythongis_spark import fixtures as FX
from pythongis_spark.images import codec
from pythongis_spark.images.ops import (
    extract_features,
    phash_hamming_expr,
    resize_images,
    verify_images,
)


def test_codec_lossless_roundtrip():
    px = codec.make_pixels(7, 64, 48)
    for fmt in ("png", "bmp"):
        rt = codec.decode_image(codec.encode_image(px, fmt))
        assert np.array_equal(rt, px)


def test_codec_lossy_psnr_gate():
    px = codec.make_pixels(11, 128, 96)
    rt = codec.decode_image(codec.encode_image(px, "jpeg"))
    p = codec.psnr_db(px, rt)
    assert 40.0 <= p < 60.0  # lossy but above the 40 dB gate


def test_phash_stability_and_sensitivity():
    px = codec.make_pixels(3, 64, 48)
    h1 = codec.average_phash(px)
    assert h1 == codec.average_phash(px.copy())
    # structurally different content (flipped gradient) → different hash;
    # note same-structure images (nearby seeds) legitimately collide under
    # average-hash — that's what makes it a near-dup detector
    assert h1 != codec.average_phash(px[::-1].copy())
    # jpeg round trip keeps the phash close (few bits)
    rt = codec.decode_image(codec.encode_image(px, "jpeg"))
    ham = bin((h1 ^ codec.average_phash(rt)) & ((1 << 64) - 1)).count("1")
    # average-hash flips blocks sitting near the mean threshold under
    # lossy quantization; identity & determinism are the hard invariants
    assert ham <= 16


def test_images_df_deterministic(spark):
    a = FX.images_df(spark, 30).toPandas().sort_values("image_id").reset_index(drop=True)
    b = (
        FX.images_df(spark, 30, partitions=7)
        .toPandas()
        .sort_values("image_id")
        .reset_index(drop=True)
    )
    assert a.equals(b)  # partitioning-independent generation


def test_noise_images_df_partition_independent(spark):
    def table(**kw):
        df = FX.noise_images_df(spark, 60, dup_every=10, **kw).toPandas()
        return df.sort_values("image_id").reset_index(drop=True)

    a, b = table(), table(partitions=7)
    assert len(a) == 66  # 60 images + a planted duplicate of every 10th
    assert a.equals(b)


def test_verify_images_all_pass(spark):
    imgs = FX.images_df(spark, 60)
    v = verify_images(imgs).toPandas()
    assert len(v) == 60
    for col in ("ok_shape", "psnr_ok", "phash_ok", "caption_ok"):
        assert v[col].all(), col
    assert np.isinf(v[v.fmt == "png"]["psnr"]).all()
    # stored jpeg pixels are already quantized; re-encode is idempotent →
    # PSNR inf (original→decoded 40dB gate is covered in the codec test)
    assert (v[v.fmt == "jpeg"]["psnr"] >= 40).all()


def test_verify_images_handles_jpeg_real_and_gif(spark):
    """fmt values outside the legacy FMT_MAGIC table ('jpeg-real',
    'gif') must flow through verify_images instead of KeyError-ing the
    whole task: jpeg-real takes the PSNR pass, gif counts as lossless,
    and an unknown fmt is flagged (psnr_ok False), never fatal."""
    from pythongis_spark.fixtures import WORDS
    from pythongis_spark.images import codec

    rng = np.random.default_rng(3)
    px = rng.integers(0, 256, size=(32, 32, 3), dtype=np.uint8)
    px_gif = (px // 64) * 64  # ≤256 distinct colors for GIF
    rows = []
    for i, (fmt, pix) in enumerate(
            [("jpeg-real", px), ("gif", px_gif), ("nope", px)]):
        blob = codec.encode_image(pix, fmt) if fmt != "nope" else b"FPNG???"
        dec = codec.decode_image(blob) if fmt != "nope" else pix
        rows.append(dict(
            image_id=f"img{i:012d}", bytes=bytearray(blob),
            w=32, h=32, fmt=fmt,
            caption=f"caption {i} {WORDS[i % 256]}",
            phash=codec.average_phash(dec)))
    df = spark.createDataFrame(
        rows, "image_id string, bytes binary, w int, h int, fmt string, "
              "caption string, phash long")
    v = verify_images(df).toPandas().set_index("fmt")
    assert v.loc["jpeg-real", "psnr_ok"] and v.loc["jpeg-real", "psnr"] >= 40
    assert v.loc["gif", "psnr_ok"] and np.isinf(v.loc["gif", "psnr"])
    assert v.loc["jpeg-real", "phash_ok"] and v.loc["gif", "phash_ok"]
    assert not v.loc["nope", "psnr_ok"]  # flagged, not fatal


def test_encode_image_gif_and_unknown_fmt():
    from pythongis_spark.images import codec

    rng = np.random.default_rng(5)
    px = (rng.integers(0, 4, size=(16, 16, 3), dtype=np.uint8)) * 80
    blob = codec.encode_image(px, "gif")
    assert blob[:6] in (b"GIF89a", b"GIF87a")
    assert np.array_equal(codec.decode_image(blob), px)
    with pytest.raises(NotImplementedError, match="known formats"):
        codec.encode_image(px, "webp")


def test_extract_features_and_resize(spark):
    imgs = FX.images_df(spark, 12)
    f = extract_features(imgs).toPandas()
    assert len(f) == 12
    assert ((0 <= f["brightness"]) & (f["brightness"] <= 255)).all()
    r = resize_images(imgs, 16, 16).toPandas()
    assert len(r) == 12
    px = codec.decode_image(r.iloc[0]["bytes"])
    assert px.shape == (16, 16, 3)


def test_phash_hamming_expr(spark):
    imgs = FX.images_df(spark, 10).select("image_id", "phash")
    a = imgs.alias("a")
    b = imgs.alias("b")
    joined = a.crossJoin(b).select(
        F.col("a.image_id").alias("ia"),
        F.col("b.image_id").alias("ib"),
        phash_hamming_expr(F.col("a.phash"), F.col("b.phash")).alias("ham"),
    )
    pdf = joined.toPandas()
    self_rows = pdf[pdf.ia == pdf.ib]
    assert (self_rows["ham"] == 0).all()
    assert pdf["ham"].max() <= 64


def test_real_png_all_filters_roundtrip():
    """encode_png with each of the 5 scanline filters decodes to the
    identical pixels (public PNG spec: None/Sub/Up/Average/Paeth)."""
    px = codec.make_pixels(11, 37, 23)  # odd dims
    for ft in range(5):
        blob = codec.encode_png(px, filter_type=ft)
        assert blob[:8] == codec.PNG_SIG
        rt = codec.decode_png(blob)
        assert (rt == px).all(), f"filter {ft}"
    # dispatch through the generic surface
    assert (codec.decode_image(codec.encode_image(px, "png")) == px).all()


def test_real_png_alpha_and_gray_decode():
    """Foreign PNGs with color type 6 (RGBA) and 0 (gray) decode: alpha
    dropped, gray replicated — hand-built streams."""
    import struct
    import zlib

    import numpy as np

    h, w = 5, 7
    rgba = np.arange(h * w * 4, dtype=np.uint8).reshape(h, w, 4)
    stream = np.zeros((h, w * 4 + 1), dtype=np.uint8)
    stream[:, 1:] = rgba.reshape(h, w * 4)
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 6, 0, 0, 0)
    blob = (codec.PNG_SIG + codec._png_chunk(b"IHDR", ihdr)
            + codec._png_chunk(b"IDAT", zlib.compress(stream.tobytes()))
            + codec._png_chunk(b"IEND", b""))
    out = codec.decode_png(blob)
    assert (out == rgba[:, :, :3]).all()

    gray = np.arange(h * w, dtype=np.uint8).reshape(h, w)
    gs = np.zeros((h, w + 1), dtype=np.uint8)
    gs[:, 1:] = gray
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 0, 0, 0, 0)
    blob = (codec.PNG_SIG + codec._png_chunk(b"IHDR", ihdr)
            + codec._png_chunk(b"IDAT", zlib.compress(gs.tobytes()))
            + codec._png_chunk(b"IEND", b""))
    out = codec.decode_png(blob)
    assert out.shape == (h, w, 3) and (out[:, :, 0] == gray).all() \
        and (out[:, :, 2] == gray).all()


def test_real_bmp_roundtrip_padding():
    """24-bit BMP with non-multiple-of-4 row widths round-trips (row
    padding + bottom-up BGR order)."""
    for w in (7, 8, 33):
        px = codec.make_pixels(3, w, 9)
        blob = codec.encode_bmp(px)
        assert blob[:2] == b"BM"
        assert (codec.decode_bmp(blob) == px).all()
        assert (codec.decode_image(blob) == px).all()


def test_image_raster_world_file_roundtrip(spark, tmp_path):
    """The reference's land_shallow_topo pattern (raster/loader.py:35-115):
    a real PNG + .pgw world file loads as a georeferenced 3-band raster;
    save→load round-trips cells and affine exactly."""
    import os

    import numpy as np

    from pythongis_spark.sources.image_raster import (read_image_raster,
                                                      write_image_raster)
    px = codec.make_pixels(21, 16, 8)
    p = os.path.join(str(tmp_path), "topo.png")
    with open(p, "wb") as fh:
        fh.write(codec.encode_png(px))
    with open(os.path.join(str(tmp_path), "topo.pgw"), "w") as fh:
        # world-file line order: xscale, yskew, xskew, yscale, xoff, yoff
        fh.write("0.175781\n0.0\n0.0\n-0.175781\n-180.0\n90.0\n")
    df, rd = read_image_raster(spark, p)
    assert (rd.width, rd.height) == (16, 8)
    assert rd.affine == (0.175781, 0.0, -180.0, 0.0, -0.175781, 90.0)
    assert df.count() == 16 * 8 * 3
    got = df.filter("band = 1").toPandas().sort_values(["y", "x"])["val"].to_numpy()
    assert (got == px[:, :, 1].ravel()).all()

    p2 = os.path.join(str(tmp_path), "out.bmp")
    write_image_raster(df, rd, p2)
    assert os.path.exists(os.path.join(str(tmp_path), "out.bpw"))
    df2, rd2 = read_image_raster(spark, p2)
    assert rd2.affine == rd.affine
    a = df.toPandas().sort_values(["band", "y", "x"])["val"].to_numpy()
    b = df2.toPandas().sort_values(["band", "y", "x"])["val"].to_numpy()
    assert (a == b).all()


def test_real_jpeg_roundtrip_psnr():
    """Real baseline JPEG codec (ITU-T T.81, images/jpeg.py): encode →
    decode meets the north rule's PSNR ≥ 40 dB lossy gate even on the
    noisy synthetic fixture (hard content: ±20 uniform noise), and the
    bitstream is a real JFIF file (SOI/APP0 markers)."""
    from pythongis_spark.images import jpeg as J

    px = codec.make_pixels(7, 64, 48)
    blob = J.encode_jpeg(px, quality=98)
    assert blob[:2] == b"\xff\xd8" and blob[6:10] == b"JFIF"
    rt = J.decode_jpeg(blob)
    assert rt.shape == px.shape
    assert codec.psnr_db(px, rt) >= 40.0
    # second generation is near-stable (decoder/encoder agree on the grid)
    rt2 = J.decode_jpeg(J.encode_jpeg(rt, quality=98))
    assert codec.psnr_db(rt, rt2) >= 45.0
    # generic dispatch: fmt='jpeg-real' + signature-based decode
    assert codec.psnr_db(px, codec.decode_image(codec.encode_image(px, "jpeg-real"))) >= 40.0


def test_real_jpeg_decodes_foreign_baseline():
    """Decode JPEGs produced by real libjpeg: a committed 331-byte gray
    square (foreign Huffman/quant tables, tests/data/gray2x2.jpg) and,
    when present on the host, CPython's 4:2:0-subsampled 16x16 logo."""
    import os

    from pythongis_spark.images import jpeg as J

    here = os.path.dirname(__file__)
    g = J.decode_jpeg(open(os.path.join(here, "data", "gray2x2.jpg"), "rb").read())
    assert g.shape == (2, 2, 3) and abs(float(g.mean()) - 128.0) < 2

    logo = ("/mnt/sandboxing/model_tools_env/v1/python/install/lib/"
            "python3.11/test/imghdrdata/python.jpg")
    if os.path.exists(logo):
        img = J.decode_jpeg(open(logo, "rb").read())
        assert img.shape == (16, 16, 3)
        # the logo's center is the Python yellow on a dark background
        assert img[8, 8, 0] > 200 and img[8, 8, 1] > 200 and img[8, 8, 2] < 120
        assert img[0, 0].max() < 40


def test_real_jpeg_420_mcu_interleave():
    """4:2:0 decode path proven from spec primitives: hand-assemble a
    16x16 one-MCU stream (4 Y blocks with distinct DC levels + flat
    chroma) using only the public Huffman/DCT definitions, and check the
    decoder reconstructs each 8x8 quadrant at its predicted level."""
    import struct

    import numpy as np

    from pythongis_spark.images import jpeg as J

    # quant tables that are all ones -> DC coef q steps of 1
    ones = np.ones((8, 8))

    codes_dc = J._build_codes(J._DC_L_BITS, J._DC_L_VALS)
    codes_ac = J._build_codes(J._AC_L_BITS, J._AC_L_VALS)
    bw = J._BitWriter()

    def put_block(dc_diff):
        cat, bits = J._magnitude(dc_diff)
        code, ln = codes_dc[cat]
        bw.write(code, ln)
        if cat:
            bw.write(bits, cat)
        code, ln = codes_ac[0x00]  # EOB right away: flat block
        bw.write(code, ln)

    # Y quadrant DC levels (spatial value = 128 + dc/8 for a flat block)
    for diff in (80, -160, 320, -240):  # cumulative DCs: 80,-80,240,0
        put_block(diff)
    put_block(0)  # Cb
    put_block(0)  # Cr
    bw.flush()

    def seg(marker, payload):
        return struct.pack(">HH", marker, len(payload) + 2) + payload

    zz = ones.reshape(64)[J._ZZ].astype(np.uint8)
    dqt = seg(0xFFDB, bytes([0]) + zz.tobytes())
    sof = seg(0xFFC0, struct.pack(">BHHB", 8, 16, 16, 3)
              + bytes([1, 0x22, 0, 2, 0x11, 0, 3, 0x11, 0]))
    dht = (seg(0xFFC4, bytes([0x00] + J._DC_L_BITS + J._DC_L_VALS))
           + seg(0xFFC4, bytes([0x10] + J._AC_L_BITS + J._AC_L_VALS)))
    sos = seg(0xFFDA, bytes([3, 1, 0x00, 2, 0x00, 3, 0x00, 0, 63, 0]))
    blob = b"\xff\xd8" + dqt + sof + dht + sos + bytes(bw.buf) + b"\xff\xd9"

    img = J.decode_jpeg(blob)
    assert img.shape == (16, 16, 3)
    # flat chroma at 128 -> RGB == Y; quadrant Y = 128 + dc/8
    for (qy, qx), dc in (((0, 0), 80), ((0, 1), -80), ((1, 0), 240), ((1, 1), 0)):
        quad = img[qy * 8 : qy * 8 + 8, qx * 8 : qx * 8 + 8]
        want = np.clip(128 + dc / 8.0, 0, 255)
        assert abs(float(quad.mean()) - want) < 1.0, ((qy, qx), quad.mean(), want)


def test_real_png_decodes_foreign_icons():
    """Decode PNGs produced by foreign encoders (the reference repo's
    GUI icons: palette, sub-8-bit gray, RGBA, real filter mixes) and
    re-encode losslessly with our encoder."""
    import glob
    import os

    import pytest as _pytest

    icons = sorted(glob.glob("/root/reference/pythongis/app/**/*.png", recursive=True))
    if not icons:
        _pytest.skip("reference icons not present")
    ok = 0
    for p in icons:
        blob = open(p, "rb").read()
        if blob[:8] != codec.PNG_SIG:
            continue  # one mislabeled non-PNG file ships in the reference
        img = codec.decode_png(blob)
        assert img.ndim == 3 and img.shape[2] == 3
        assert (codec.decode_png(codec.encode_png(img, filter_type=4)) == img).all()
        ok += 1
    assert ok >= 30


def test_image_raster_jpeg_write(spark, tmp_path):
    """Lossy image-raster export through the real JPEG codec + .jgw
    world file: values survive within the PSNR gate."""
    import os

    import numpy as np

    from pythongis_spark.sources.image_raster import (read_image_raster,
                                                      write_image_raster)
    from pythongis_spark.raster.model import RasterDef

    px = codec.make_pixels(4, 32, 16)
    pdf_rows = []
    h, w, _ = px.shape
    import pandas as pd
    ys, xs = np.divmod(np.arange(h * w), w)
    frames = [pd.DataFrame({"x": xs, "y": ys, "band": b,
                            "val": px[:, :, b].ravel().astype(float)})
              for b in range(3)]
    cells = spark.createDataFrame(pd.concat(frames))
    rd = RasterDef(w, h, (1.0, 0.0, 0.0, 0.0, -1.0, float(h)))
    p = os.path.join(str(tmp_path), "out.jpg")
    write_image_raster(cells, rd, p)
    assert os.path.exists(os.path.join(str(tmp_path), "out.jgw"))
    df, rd2 = read_image_raster(spark, p)
    got = df.toPandas().sort_values(["band", "y", "x"])["val"].to_numpy()
    want = np.concatenate([px[:, :, b].ravel() for b in range(3)]).astype(float)
    mse = float(((got - want) ** 2).mean())
    assert 10 * np.log10(255.0 ** 2 / mse) >= 40.0


# ------------------------------------------------------------------
# Adam7 interlaced PNG (spec-assembled fixtures, PNG spec §8.2)
# ------------------------------------------------------------------

_ADAM7 = ((0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
          (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2))


def _interlaced_truecolor_png(px, filter_type=0):
    """Assemble an Adam7-interlaced truecolor PNG per the public spec:
    each pass is an independently filtered sub-image."""
    import struct
    import zlib

    import numpy as np

    h, w, _ = px.shape
    stream = bytearray()
    for x0, y0, dx, dy in _ADAM7:
        sub = px[y0::dy, x0::dx]
        ph, pw = sub.shape[:2]
        if ph == 0 or pw == 0:
            continue
        raw = sub.reshape(ph, pw * 3).astype(np.uint8)
        if filter_type == 0:
            filt = raw
        elif filter_type == 1:  # Sub within the pass
            left = np.zeros_like(raw)
            left[:, 3:] = raw[:, :-3]
            filt = raw - left
        elif filter_type == 2:  # Up within the pass
            prev = np.zeros_like(raw)
            prev[1:] = raw[:-1]
            filt = raw - prev
        else:
            raise AssertionError
        rows = np.empty((ph, pw * 3 + 1), dtype=np.uint8)
        rows[:, 0] = filter_type
        rows[:, 1:] = filt
        stream += rows.tobytes()
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 1)
    return (codec.PNG_SIG + codec._png_chunk(b"IHDR", ihdr)
            + codec._png_chunk(b"IDAT", zlib.compress(bytes(stream)))
            + codec._png_chunk(b"IEND", b""))


def test_png_adam7_truecolor_all_pass_filters():
    """Interlaced truecolor decodes to the original pixels for None/Sub/
    Up per-pass filters, at sizes exercising partial and empty passes."""
    import numpy as np

    for (h, w) in [(7, 13), (3, 2), (1, 1), (16, 16), (9, 1)]:
        rng = np.random.RandomState(h * 100 + w)
        px = rng.randint(0, 256, size=(h, w, 3), dtype=np.uint8)
        for ft in (0, 1, 2):
            blob = _interlaced_truecolor_png(px, filter_type=ft)
            out = codec.decode_png(blob)
            assert out.shape == (h, w, 3)
            assert (out == px).all(), f"size {(h, w)} filter {ft}"


def test_png_adam7_palette_depth4():
    """Interlaced palette PNG at bit depth 4: per-pass sub-byte packing
    with row padding, expanded via PLTE."""
    import struct
    import zlib

    import numpy as np

    h, w = 11, 9
    rng = np.random.RandomState(7)
    idx = rng.randint(0, 16, size=(h, w)).astype(np.uint8)
    plte = rng.randint(0, 256, size=(16, 3), dtype=np.uint8)
    stream = bytearray()
    for x0, y0, dx, dy in _ADAM7:
        sub = idx[y0::dy, x0::dx]
        ph, pw = sub.shape
        if ph == 0 or pw == 0:
            continue
        padded_w = pw + (pw & 1)
        rowbuf = np.zeros((ph, padded_w), dtype=np.uint8)
        rowbuf[:, :pw] = sub
        packed = (rowbuf[:, 0::2] << 4) | rowbuf[:, 1::2]
        rows = np.empty((ph, packed.shape[1] + 1), dtype=np.uint8)
        rows[:, 0] = 0
        rows[:, 1:] = packed
        stream += rows.tobytes()
    ihdr = struct.pack(">IIBBBBB", w, h, 4, 3, 0, 0, 1)
    blob = (codec.PNG_SIG + codec._png_chunk(b"IHDR", ihdr)
            + codec._png_chunk(b"PLTE", plte.tobytes())
            + codec._png_chunk(b"IDAT", zlib.compress(bytes(stream)))
            + codec._png_chunk(b"IEND", b""))
    out = codec.decode_png(blob)
    assert out.shape == (h, w, 3)
    assert (out == plte[idx]).all()


def test_verify_images_flags_corrupt_blob(spark):
    """verify_images over a mixed batch (3 formats + one corrupt blob):
    the bad row is flagged on every check and never fails the task."""
    import numpy as np
    import pandas as pd

    from pythongis_spark import fixtures as FX
    from pythongis_spark.images.ops import verify_images

    rows = [FX.make_image_row(i) for i in range(30)]
    rows[7] = dict(rows[7], bytes=b"not an image at all")
    pdf = pd.DataFrame(rows)
    df = spark.createDataFrame(pdf)
    out = verify_images(df).toPandas().set_index("image_id")
    for i in range(30):
        r = out.loc[f"img{i:012d}"]
        if i == 7:
            assert not r.ok_shape and not r.psnr_ok and not r.phash_ok \
                and not r.caption_ok and r.psnr == 0.0
        else:
            assert r.ok_shape and r.psnr_ok and r.phash_ok and r.caption_ok


def test_extract_features_matches_per_image_numpy(spark):
    import numpy as np
    import pandas as pd

    from pythongis_spark import fixtures as FX
    from pythongis_spark.images.ops import extract_features

    rows = [FX.make_image_row(i) for i in range(12)]
    df = spark.createDataFrame(pd.DataFrame(rows))
    out = extract_features(df).toPandas().set_index("image_id")
    for r in rows:
        px = codec.decode_image(r["bytes"]).astype(np.float64)
        got = out.loc[r["image_id"]]
        assert got.mean_r == px[:, :, 0].mean()
        assert got.mean_g == px[:, :, 1].mean()
        assert got.mean_b == px[:, :, 2].mean()
        assert got.brightness == px.mean()
        assert got.contrast == px.std()
        assert got.phash == codec.average_phash(px.astype(np.uint8))
