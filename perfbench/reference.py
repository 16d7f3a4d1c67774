"""Independent numpy answers the benchmark checks the engine against.

Nothing here calls the engine's kernels: WKB is parsed with ``struct``,
cells and tiles are computed from their closed-form definitions, and
every polygon the benchmark generates is an axis-aligned rectangle with
rectangular holes and islands, so a box test is exact.
"""

from __future__ import annotations

import struct

import numpy as np

# the fixtures' integer lattice (pythongis_spark/fixtures.py, FIXTURES.md)
LON_MULT, LAT_MULT = 7919, 104729
LON_MOD, LAT_MOD = 360 * 128, 180 * 128


def lattice_lonlat(ids: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    lon = -180.0 + ((ids * LON_MULT) % LON_MOD * 2 + 1) / 256.0
    lat = -90.0 + ((ids * LAT_MULT) % LAT_MOD * 2 + 1) / 256.0
    return lon, lat


def oracle_zone_of(lon: np.ndarray, lat: np.ndarray) -> np.ndarray:
    """Zone of the 10 x 6 grid of 36 x 30 degree rectangles."""
    return (np.floor((lon + 180.0) / 36.0).astype(np.int64)
            + 10 * np.floor((lat + 90.0) / 30.0).astype(np.int64))


def morton_tile(lon: np.ndarray, lat: np.ndarray, z: int) -> np.ndarray:
    """Quadkey (Morton) cell id at level z: x bits at even positions,
    y bits (counted from the north) at odd positions."""
    n = 1 << z
    tx = np.clip(np.floor((lon + 180.0) / 360.0 * n), 0, n - 1).astype(np.int64)
    ty = np.clip(np.floor((90.0 - lat) / 180.0 * n), 0, n - 1).astype(np.int64)
    out = np.zeros_like(tx)
    for b in range(z):
        out |= ((tx >> b) & 1) << (2 * b)
        out |= ((ty >> b) & 1) << (2 * b + 1)
    return out


# ------------------------------------------------------------------
# WKB rectangles
# ------------------------------------------------------------------

def _read_polygon(buf: bytes, off: int, fmt: str) -> tuple[list[tuple], int]:
    (nrings,) = struct.unpack_from(fmt + "I", buf, off)
    off += 4
    rings = []
    for _ in range(nrings):
        (npts,) = struct.unpack_from(fmt + "I", buf, off)
        off += 4
        xy = np.frombuffer(buf, dtype=np.dtype(fmt + "f8"), count=2 * npts, offset=off)
        off += 16 * npts
        xs, ys = xy[0::2], xy[1::2]
        rings.append((xs.min(), ys.min(), xs.max(), ys.max()))
    return rings, off


def wkb_rect_parts(blob: bytes) -> list[list[tuple]]:
    """Polygon / MultiPolygon WKB -> parts, each a list of ring boxes
    (exterior first). Only valid for rings that are rectangles."""
    fmt = "<" if blob[0] == 1 else ">"
    (gtype,) = struct.unpack_from(fmt + "I", blob, 1)
    if gtype == 3:
        rings, _ = _read_polygon(blob, 5, fmt)
        return [rings]
    if gtype == 6:
        (nparts,) = struct.unpack_from(fmt + "I", blob, 5)
        off, parts = 9, []
        for _ in range(nparts):
            pfmt = "<" if blob[off] == 1 else ">"
            rings, off = _read_polygon(blob, off + 5, pfmt)
            parts.append(rings)
        return parts
    raise ValueError(f"unexpected WKB type {gtype}")


def _in_box(x, y, box) -> np.ndarray:
    x0, y0, x1, y1 = box
    return (x >= x0) & (x <= x1) & (y >= y0) & (y <= y1)


def in_rect_polygon(x: np.ndarray, y: np.ndarray, parts: list[list[tuple]]) -> np.ndarray:
    inside = np.zeros(len(x), dtype=bool)
    for rings in parts:
        p = _in_box(x, y, rings[0])
        for hole in rings[1:]:
            p &= ~_in_box(x, y, hole)
        inside |= p
    return inside


def pip_pairs(pid: np.ndarray, x: np.ndarray, y: np.ndarray,
              zone_ids: np.ndarray, geoms) -> tuple[np.ndarray, np.ndarray]:
    """All (point id, zone id) pairs with the point inside the zone."""
    out_p, out_z = [], []
    for zid, blob in zip(zone_ids, geoms):
        parts = wkb_rect_parts(bytes(blob))
        hit = in_rect_polygon(x, y, parts)
        out_p.append(pid[hit])
        out_z.append(np.full(int(hit.sum()), zid, dtype=np.int64))
    return np.concatenate(out_p), np.concatenate(out_z)


def knn_brute(px, py, tid, tx, ty, k: int) -> tuple[np.ndarray, np.ndarray]:
    """k nearest targets per point, planar distance, ties by target id:
    (target ids, distances), each of shape (n_points, k)."""
    order = np.argsort(tid, kind="stable")
    tid, tx, ty = tid[order], tx[order], ty[order]
    dx = px[:, None] - tx[None, :]
    dy = py[:, None] - ty[None, :]
    d = np.sqrt(dx * dx + dy * dy)
    idx = np.argsort(d, axis=1, kind="stable")[:, :k]
    return tid[idx], np.take_along_axis(d, idx, axis=1)


# ------------------------------------------------------------------
# raster
# ------------------------------------------------------------------

def raster_band0(w: int, h: int) -> tuple[np.ndarray, np.ndarray]:
    """Band-0 values of the fixtures' cell table in tenths (integers)
    and the nodata mask, both flat in y * w + x order."""
    x = np.arange(w)[None, :]
    y = np.arange(h)[:, None]
    tenths = (x * 7 + y * 13) % 1000
    nodata = (x * 31 + y * 29) % 20 == 0
    return tenths.ravel(), nodata.ravel()


def zone_cells(geoms, w: int, h: int):
    """Per zone: flat indices (y * w + x) of the cells whose centre lies
    inside it, on the north-up world grid of w x h cells."""
    cx = -180.0 + (np.arange(w) + 0.5) * (360.0 / w)
    cy = 90.0 + (np.arange(h) + 0.5) * -(180.0 / h)
    for blob in geoms:
        flat = []
        for rings in wkb_rect_parts(bytes(blob)):
            x0, y0, x1, y1 = rings[0]
            ix = np.nonzero((cx >= x0) & (cx <= x1))[0]
            iy = np.nonzero((cy >= y0) & (cy <= y1))[0]
            if not len(ix) or not len(iy):
                continue
            gx, gy = np.meshgrid(cx[ix], cy[iy])
            keep = in_rect_polygon(gx.ravel(), gy.ravel(), [rings])
            fx, fy = np.meshgrid(ix, iy)
            flat.append((fy.ravel() * w + fx.ravel())[keep])
        yield np.unique(np.concatenate(flat)) if flat else np.zeros(0, np.int64)
