"""Geodetic math, numpy-vectorized.

From-scratch implementations of the published algorithms the reference
hand-rolls per-row: Vincenty inverse/direct on the WGS84 ellipsoid
(reference per-row loops at ``pythongis/vector/_helpers.py:14-91`` and
``:93-175``) and haversine great-circle distance. Ours run over whole
numpy arrays inside Arrow batches — no per-row Python.
"""

from __future__ import annotations

import numpy as np

WGS84_A = 6378137.0
WGS84_F = 1 / 298.257223563
WGS84_B = WGS84_A * (1 - WGS84_F)
EARTH_RADIUS_M = 6371008.8


def haversine_m(lon1, lat1, lon2, lat2) -> np.ndarray:
    """Great-circle distance in meters (spherical earth), vectorized."""
    lon1, lat1, lon2, lat2 = (
        np.radians(np.asarray(a, dtype=np.float64)) for a in (lon1, lat1, lon2, lat2)
    )
    dlon = lon2 - lon1
    dlat = lat2 - lat1
    h = np.sin(dlat / 2) ** 2 + np.cos(lat1) * np.cos(lat2) * np.sin(dlon / 2) ** 2
    return 2 * EARTH_RADIUS_M * np.arcsin(np.sqrt(np.clip(h, 0, 1)))


def vincenty_inverse_m(lon1, lat1, lon2, lat2, iterations: int = 20) -> np.ndarray:
    """Vincenty inverse geodesic distance (m) on WGS84, vectorized.

    Fixed iteration count (not convergence-tested per element) keeps the
    computation branch-free and bit-deterministic across partitionings.
    Accuracy is sub-mm for non-antipodal pairs, matching the reference's
    `_vincenty_distance` (``pythongis/vector/_helpers.py:14-91``).
    """
    lon1, lat1, lon2, lat2 = (
        np.asarray(a, dtype=np.float64) for a in (lon1, lat1, lon2, lat2)
    )
    L = np.radians(lon2 - lon1)
    U1 = np.arctan((1 - WGS84_F) * np.tan(np.radians(lat1)))
    U2 = np.arctan((1 - WGS84_F) * np.tan(np.radians(lat2)))
    sinU1, cosU1 = np.sin(U1), np.cos(U1)
    sinU2, cosU2 = np.sin(U2), np.cos(U2)
    lam = L.copy()
    sinSigma = np.zeros_like(lam)
    cosSigma = np.ones_like(lam)
    sigma = np.zeros_like(lam)
    cosSqAlpha = np.ones_like(lam)
    cos2SigmaM = np.zeros_like(lam)
    for _ in range(iterations):
        sinLam, cosLam = np.sin(lam), np.cos(lam)
        sinSigma = np.sqrt(
            (cosU2 * sinLam) ** 2 + (cosU1 * sinU2 - sinU1 * cosU2 * cosLam) ** 2
        )
        cosSigma = sinU1 * sinU2 + cosU1 * cosU2 * cosLam
        sigma = np.arctan2(sinSigma, cosSigma)
        with np.errstate(divide="ignore", invalid="ignore"):
            sinAlpha = np.where(sinSigma == 0, 0.0, cosU1 * cosU2 * sinLam / np.where(sinSigma == 0, 1.0, sinSigma))
        cosSqAlpha = 1 - sinAlpha**2
        with np.errstate(divide="ignore", invalid="ignore"):
            cos2SigmaM = np.where(
                cosSqAlpha == 0,
                0.0,
                cosSigma - 2 * sinU1 * sinU2 / np.where(cosSqAlpha == 0, 1.0, cosSqAlpha),
            )
        C = WGS84_F / 16 * cosSqAlpha * (4 + WGS84_F * (4 - 3 * cosSqAlpha))
        lam = L + (1 - C) * WGS84_F * sinAlpha * (
            sigma
            + C * sinSigma * (cos2SigmaM + C * cosSigma * (-1 + 2 * cos2SigmaM**2))
        )
    uSq = cosSqAlpha * (WGS84_A**2 - WGS84_B**2) / WGS84_B**2
    A = 1 + uSq / 16384 * (4096 + uSq * (-768 + uSq * (320 - 175 * uSq)))
    B = uSq / 1024 * (256 + uSq * (-128 + uSq * (74 - 47 * uSq)))
    deltaSigma = (
        B
        * sinSigma
        * (
            cos2SigmaM
            + B
            / 4
            * (
                cosSigma * (-1 + 2 * cos2SigmaM**2)
                - B
                / 6
                * cos2SigmaM
                * (-3 + 4 * sinSigma**2)
                * (-3 + 4 * cos2SigmaM**2)
            )
        )
    )
    dist = WGS84_B * A * (sigma - deltaSigma)
    return np.where(sinSigma == 0, 0.0, dist)


def vincenty_direct(lon, lat, bearing_deg, distance_m, iterations: int = 10):
    """Vincenty direct ("walk"): destination point given start, bearing,
    distance — reference per-row version at
    ``pythongis/vector/_helpers.py:93-175``. Returns (lon2, lat2) arrays.
    """
    lon = np.asarray(lon, dtype=np.float64)
    lat = np.asarray(lat, dtype=np.float64)
    alpha1 = np.radians(np.asarray(bearing_deg, dtype=np.float64))
    s = np.asarray(distance_m, dtype=np.float64)
    tanU1 = (1 - WGS84_F) * np.tan(np.radians(lat))
    cosU1 = 1 / np.sqrt(1 + tanU1**2)
    sinU1 = tanU1 * cosU1
    sigma1 = np.arctan2(tanU1, np.cos(alpha1))
    sinAlpha = cosU1 * np.sin(alpha1)
    cosSqAlpha = 1 - sinAlpha**2
    uSq = cosSqAlpha * (WGS84_A**2 - WGS84_B**2) / WGS84_B**2
    A = 1 + uSq / 16384 * (4096 + uSq * (-768 + uSq * (320 - 175 * uSq)))
    B = uSq / 1024 * (256 + uSq * (-128 + uSq * (74 - 47 * uSq)))
    sigma = s / (WGS84_B * A)
    for _ in range(iterations):
        cos2SigmaM = np.cos(2 * sigma1 + sigma)
        sinSigma, cosSigma = np.sin(sigma), np.cos(sigma)
        deltaSigma = (
            B
            * sinSigma
            * (
                cos2SigmaM
                + B
                / 4
                * (
                    cosSigma * (-1 + 2 * cos2SigmaM**2)
                    - B
                    / 6
                    * cos2SigmaM
                    * (-3 + 4 * sinSigma**2)
                    * (-3 + 4 * cos2SigmaM**2)
                )
            )
        )
        sigma = s / (WGS84_B * A) + deltaSigma
    sinSigma, cosSigma = np.sin(sigma), np.cos(sigma)
    cos2SigmaM = np.cos(2 * sigma1 + sigma)
    tmp = sinU1 * sinSigma - cosU1 * cosSigma * np.cos(alpha1)
    lat2 = np.arctan2(
        sinU1 * cosSigma + cosU1 * sinSigma * np.cos(alpha1),
        (1 - WGS84_F) * np.sqrt(sinAlpha**2 + tmp**2),
    )
    lam = np.arctan2(
        sinSigma * np.sin(alpha1),
        cosU1 * cosSigma - sinU1 * sinSigma * np.cos(alpha1),
    )
    C = WGS84_F / 16 * cosSqAlpha * (4 + WGS84_F * (4 - 3 * cosSqAlpha))
    L = lam - (1 - C) * WGS84_F * sinAlpha * (
        sigma + C * sinSigma * (cos2SigmaM + C * cosSigma * (-1 + 2 * cos2SigmaM**2))
    )
    lon2 = np.degrees(np.radians(lon) + L)
    lon2 = (lon2 + 540) % 360 - 180
    return lon2, np.degrees(lat2)


# WGS84 authalic radius: the sphere with the ellipsoid's surface area
WGS84_AUTHALIC_R = 6371007.1809184747


def cd_ring_area_m2(ring: np.ndarray) -> float:
    """Unsigned spherical ring area (m²) on the WGS84 authalic sphere
    via the Chamberlain–Duquette line integral (JPL Publication 07-03,
    "Some Algorithms for Polygons on a Sphere", eq. 14 — the formula
    used by turf.js/Google Maps):

        A = R²/2 · |Σᵢ (λᵢ₊₁ − λᵢ)(2 + sin φᵢ + sin φᵢ₊₁)|

    Exact for constant-latitude/meridian edges (a lon/lat "rectangle"
    integrates to the exact spherical zone slice 2πR²(sinφ₂−sinφ₁)·Δλ/2π)
    and sub-0.01% for typical short polygon edges. Documented divergence
    vs the reference: geographiclib computes ellipsoidal (Karney) area;
    the authalic-sphere value differs by up to ~0.3% depending on
    latitude (geographiclib is unavailable in this image, same boundary
    as the pyproj reproject divergence)."""
    ring = np.asarray(ring, dtype=np.float64)
    lon = np.radians(ring[:, 0])
    lat = np.radians(ring[:, 1])
    terms = (lon[1:] - lon[:-1]) * (2.0 + np.sin(lat[:-1]) + np.sin(lat[1:]))
    return abs(float(np.sum(terms))) * WGS84_AUTHALIC_R * WGS84_AUTHALIC_R / 2.0


def geodetic_area_km2(geom) -> float | None:
    """Geodetic polygon area in km², reference semantics
    (``pythongis/vector/geography.py:68-102``): per polygon part,
    |exterior ring| − Σ|holes| (holes subtracted even when degenerate),
    MultiPolygon parts summed, m² → km². Non-polygon geometries → None
    (the reference raises; a column UDF degrades to NULL, documented)."""
    t, payload = geom
    if t == "Polygon":
        polys = [payload]
    elif t == "MultiPolygon":
        polys = payload
    else:
        return None
    total = 0.0
    for rings in polys:
        part = cd_ring_area_m2(rings[0])
        for hole in rings[1:]:
            part -= cd_ring_area_m2(hole)
        total += part
    return total / 1_000_000.0


def geodetic_length_m(geom) -> float | None:
    """Geodetic line length in meters, reference semantics
    (``pythongis/vector/_helpers.py:180-208``): per-segment Vincenty
    inverse distance summed; Point/MultiPoint → 0.0; polygon inputs →
    None (the reference raises). The per-segment distances come from the
    vectorized :func:`vincenty_inverse_m` over all segments at once.

    Documented divergences: the reference returns km with each segment
    rounded to 1e-6 km (we return unrounded meters), and its
    ``geodetic_length`` passes GeoJSON (lon, lat) pairs into a
    ``_vincenty_distance`` that expects (lat, lon) — we implement the
    documented intent (length of the lon/lat line), the same policy as
    the ``align`` divergence note."""
    t, payload = geom
    if t in ("Point", "MultiPoint"):
        return 0.0
    if t == "LineString":
        lines = [payload]
    elif t == "MultiLineString":
        lines = payload
    else:
        return None
    total = 0.0
    for coords in lines:
        coords = np.asarray(coords, dtype=np.float64)
        if len(coords) < 2:
            continue
        seg = vincenty_inverse_m(
            coords[:-1, 0], coords[:-1, 1], coords[1:, 0], coords[1:, 1]
        )
        total += float(np.sum(seg))
    return total


def great_circle_path(lon1, lat1, lon2, lat2, segments: int = 100) -> np.ndarray:
    """Segmentized great-circle LineString between two points (slerp on the
    unit sphere) — reference ``pythongis/vector/_helpers.py:236-294``."""
    p1 = _to_unit(lon1, lat1)
    p2 = _to_unit(lon2, lat2)
    omega = np.arccos(np.clip(np.dot(p1, p2), -1, 1))
    if omega == 0:
        return np.array([[lon1, lat1], [lon2, lat2]], dtype=np.float64)
    t = np.linspace(0.0, 1.0, segments + 1)
    so = np.sin(omega)
    pts = (
        np.sin((1 - t)[:, None] * omega) * p1[None, :]
        + np.sin(t[:, None] * omega) * p2[None, :]
    ) / so
    lons = np.degrees(np.arctan2(pts[:, 1], pts[:, 0]))
    lats = np.degrees(np.arcsin(np.clip(pts[:, 2], -1, 1)))
    return np.stack([lons, lats], axis=1)


def _to_unit(lon, lat) -> np.ndarray:
    lam, phi = np.radians(lon), np.radians(lat)
    return np.array(
        [np.cos(phi) * np.cos(lam), np.cos(phi) * np.sin(lam), np.sin(phi)]
    )
