"""Planar geometry algorithms, numpy-vectorized.

From-scratch replacements for the shapely calls the reference makes
(``pythongis/vector/geometry.py:64-122``): point-in-polygon, area/length/
centroid, predicates, distances, rectangle clipping. Everything is
vectorized over *points* (the big side of every join); polygon-side loops
run over small dimension tables only.

Determinism note: all predicates use pure IEEE-754 double arithmetic with
a fixed evaluation order, so results are identical across partitionings
and cluster sizes.
"""

from __future__ import annotations

import numpy as np

from pythongis_spark.geometry import wkb as W


# ------------------------------------------------------------- containment

def points_in_ring(px: np.ndarray, py: np.ndarray, ring: np.ndarray) -> np.ndarray:
    """Even-odd ray-cast crossing parity of N points vs one ring.

    Vectorized over points; loop-free over edges via broadcasting when the
    ring is small, edge-chunked otherwise.
    """
    x0, y0 = ring[:-1, 0], ring[:-1, 1]
    x1, y1 = ring[1:, 0], ring[1:, 1]
    inside = np.zeros(len(px), dtype=bool)
    # chunk edges to bound the (points x edges) broadcast matrix
    n_edges = len(x0)
    max_cells = 4_000_000
    step = max(1, max_cells // max(len(px), 1))
    for s in range(0, n_edges, step):
        ax0, ay0 = x0[s : s + step], y0[s : s + step]
        ax1, ay1 = x1[s : s + step], y1[s : s + step]
        pyc = py[:, None]
        pxc = px[:, None]
        cond = (ay0 > pyc) != (ay1 > pyc)
        with np.errstate(divide="ignore", invalid="ignore"):
            xint = ax0 + (pyc - ay0) / (ay1 - ay0) * (ax1 - ax0)
        cross = cond & (pxc < xint)
        inside ^= (cross.sum(axis=1) % 2).astype(bool)
    return inside


def points_in_polygon(px: np.ndarray, py: np.ndarray, geom) -> np.ndarray:
    """Even-odd containment of N points in a Polygon/MultiPolygon.

    Holes are handled by parity (a point inside exterior and inside a hole
    crosses an even number of ring edges). Matches the semantics the
    reference gets from shapely ``contains`` for interior points
    (``pythongis/vector/manager.py:414``); boundary points are resolved by
    crossing parity (callers keep test coordinates off edges).
    """
    inside = np.zeros(len(px), dtype=bool)
    for ring in W.iter_rings(geom):
        inside ^= points_in_ring(px, py, ring)
    return inside


# ------------------------------------------------------------- measures

def ring_signed_area(ring: np.ndarray) -> float:
    """Shoelace signed area (CCW positive)."""
    x, y = ring[:, 0], ring[:, 1]
    return 0.5 * float(np.sum(x[:-1] * y[1:] - x[1:] * y[:-1]))


def polygon_area(geom) -> float:
    """Planar area, holes subtracted — shapely-``area`` equivalent
    (``pythongis/vector/data.py:315``)."""
    total = 0.0
    for rings in W.iter_polygons(geom):
        total += abs(ring_signed_area(rings[0]))
        for hole in rings[1:]:
            total -= abs(ring_signed_area(hole))
    return total


def line_length(coords: np.ndarray) -> float:
    d = np.diff(coords, axis=0)
    return float(np.sqrt((d**2).sum(axis=1)).sum())


def geom_length(geom) -> float:
    """Planar length — shapely-``length`` equivalent
    (``pythongis/vector/data.py:318``)."""
    t, payload = geom
    if t == "LineString":
        return line_length(payload)
    if t == "MultiLineString":
        return sum(line_length(c) for c in payload)
    if t in ("Polygon", "MultiPolygon"):
        return sum(line_length(r) for r in W.iter_rings(geom))
    return 0.0


def geom_centroid(geom) -> tuple[float, float]:
    """Area/length/point-weighted centroid (matches GEOS semantics for the
    common cases used by ``pythongis/vector/converter.py:46``)."""
    t, payload = geom
    if t == "Point":
        return float(payload[0, 0]), float(payload[0, 1])
    if t == "MultiPoint":
        coords = W.all_coords(geom)
        return float(coords[:, 0].mean()), float(coords[:, 1].mean())
    if t in ("LineString", "MultiLineString"):
        lines = [payload] if t == "LineString" else payload
        wsum = 0.0
        cx = cy = 0.0
        for coords in lines:
            mids = 0.5 * (coords[:-1] + coords[1:])
            lens = np.sqrt((np.diff(coords, axis=0) ** 2).sum(axis=1))
            wsum += lens.sum()
            cx += float((mids[:, 0] * lens).sum())
            cy += float((mids[:, 1] * lens).sum())
        if wsum == 0:
            coords = W.all_coords(geom)
            return float(coords[:, 0].mean()), float(coords[:, 1].mean())
        return cx / wsum, cy / wsum
    # polygonal: ring-weighted shoelace centroid, holes negative
    asum = cx = cy = 0.0
    for rings in W.iter_polygons(geom):
        for i, ring in enumerate(rings):
            x, y = ring[:-1, 0], ring[:-1, 1]
            x1, y1 = ring[1:, 0], ring[1:, 1]
            cross = x * y1 - x1 * y
            a = 0.5 * float(cross.sum())
            sign = 1.0 if i == 0 else -1.0
            a = abs(a) * sign
            if cross.sum() == 0:
                continue
            scale = a / (0.5 * float(cross.sum()))
            cx += scale * float(((x + x1) * cross).sum()) / 6.0
            cy += scale * float(((y + y1) * cross).sum()) / 6.0
            asum += a
    if asum == 0:
        coords = W.all_coords(geom)
        return float(coords[:, 0].mean()), float(coords[:, 1].mean())
    return cx / asum, cy / asum


# ------------------------------------------------------------- distances

def points_to_segments_dist(px, py, seg: np.ndarray) -> np.ndarray:
    """Min distance from N points to the polyline ``seg`` ((M,2) coords).

    Vectorized (points x edges) with chunking.
    """
    a = seg[:-1]
    b = seg[1:]
    ab = b - a
    ab2 = (ab**2).sum(axis=1)
    ab2 = np.where(ab2 == 0, 1.0, ab2)
    best = np.full(len(px), np.inf)
    n_edges = len(a)
    max_cells = 4_000_000
    step = max(1, max_cells // max(len(px), 1))
    p = np.stack([px, py], axis=1)
    for s in range(0, n_edges, step):
        aa, bb = a[s : s + step], ab[s : s + step]
        t = ((p[:, None, :] - aa[None, :, :]) * bb[None, :, :]).sum(-1) / ab2[
            None, s : s + step
        ]
        t = np.clip(t, 0.0, 1.0)
        proj = aa[None, :, :] + t[:, :, None] * bb[None, :, :]
        d2 = ((p[:, None, :] - proj) ** 2).sum(-1)
        best = np.minimum(best, d2.min(axis=1))
    return np.sqrt(best)


def points_to_geom_dist(px, py, geom) -> np.ndarray:
    """Planar distance from N points to a geometry (0 inside polygons)."""
    t, payload = geom
    px = np.asarray(px, dtype=np.float64)
    py = np.asarray(py, dtype=np.float64)
    if t in ("Point", "MultiPoint"):
        coords = W.all_coords(geom)
        d2 = (px[:, None] - coords[None, :, 0]) ** 2 + (
            py[:, None] - coords[None, :, 1]
        ) ** 2
        return np.sqrt(d2.min(axis=1))
    if t in ("LineString", "MultiLineString"):
        lines = [payload] if t == "LineString" else payload
        best = np.full(len(px), np.inf)
        for coords in lines:
            best = np.minimum(best, points_to_segments_dist(px, py, coords))
        return best
    # polygonal
    best = np.full(len(px), np.inf)
    for ring in W.iter_rings(geom):
        best = np.minimum(best, points_to_segments_dist(px, py, ring))
    inside = points_in_polygon(px, py, geom)
    best[inside] = 0.0
    return best


# ------------------------------------------------------------- predicates

def bbox_intersects(a, b) -> bool:
    return not (a[2] < b[0] or b[2] < a[0] or a[3] < b[1] or b[3] < a[1])


def _segments_intersect_any(A: np.ndarray, B: np.ndarray) -> bool:
    """True if any segment of polyline A properly/improperly intersects any
    segment of polyline B (orientation tests, vectorized pairwise)."""
    a0, a1 = A[:-1], A[1:]
    b0, b1 = B[:-1], B[1:]

    def cross(o, p, q):
        return (p[..., 0] - o[..., 0]) * (q[..., 1] - o[..., 1]) - (
            p[..., 1] - o[..., 1]
        ) * (q[..., 0] - o[..., 0])

    # broadcast (na, nb)
    o1 = cross(a0[:, None], a1[:, None], b0[None, :])
    o2 = cross(a0[:, None], a1[:, None], b1[None, :])
    o3 = cross(b0[None, :], b1[None, :], a0[:, None])
    o4 = cross(b0[None, :], b1[None, :], a1[:, None])
    proper = (np.sign(o1) != np.sign(o2)) & (np.sign(o3) != np.sign(o4))
    if proper.any():
        return True
    # collinear touch: any orientation exactly zero with overlap boxes
    touch = (o1 == 0) | (o2 == 0) | (o3 == 0) | (o4 == 0)
    if not touch.any():
        return False
    # conservative bbox-overlap check for zero-orientation candidates
    axmin = np.minimum(a0, a1)[:, None]
    axmax = np.maximum(a0, a1)[:, None]
    bxmin = np.minimum(b0, b1)[None, :]
    bxmax = np.maximum(b0, b1)[None, :]
    boxes = ((axmin <= bxmax) & (bxmin <= axmax)).all(axis=-1)
    return bool((touch & boxes).any())


def geoms_intersect(ga, gb) -> bool:
    """Exact pairwise ``intersects`` for any type combination — the refine
    step behind the candidate cell join (reference exact test at
    ``pythongis/vector/manager.py:414``)."""
    ta, _ = ga
    tb, _ = gb
    ca, cb = W.all_coords(ga), W.all_coords(gb)
    bba = (ca[:, 0].min(), ca[:, 1].min(), ca[:, 0].max(), ca[:, 1].max())
    bbb = (cb[:, 0].min(), cb[:, 1].min(), cb[:, 0].max(), cb[:, 1].max())
    if not bbox_intersects(bba, bbb):
        return False
    pa = ta in ("Polygon", "MultiPolygon")
    pb = tb in ("Polygon", "MultiPolygon")
    # point cases
    if ta in ("Point", "MultiPoint"):
        return _points_touch_geom(ca, gb)
    if tb in ("Point", "MultiPoint"):
        return _points_touch_geom(cb, ga)
    la = [ga[1]] if ta == "LineString" else (
        ga[1] if ta == "MultiLineString" else W.iter_rings(ga)
    )
    lb = [gb[1]] if tb == "LineString" else (
        gb[1] if tb == "MultiLineString" else W.iter_rings(gb)
    )
    for A in la:
        for B in lb:
            if _segments_intersect_any(A, B):
                return True
    # containment without boundary crossing
    if pa and points_in_polygon(cb[:1, 0], cb[:1, 1], ga)[0]:
        return True
    if pb and points_in_polygon(ca[:1, 0], ca[:1, 1], gb)[0]:
        return True
    return False


def _points_touch_geom(pts: np.ndarray, geom) -> bool:
    t, _ = geom
    if t in ("Polygon", "MultiPolygon"):
        return bool(points_in_polygon(pts[:, 0], pts[:, 1], geom).any())
    if t in ("Point", "MultiPoint"):
        other = W.all_coords(geom)
        return bool(
            ((pts[:, None, :] == other[None, :, :]).all(-1)).any()
        )
    d = points_to_geom_dist(pts[:, 0], pts[:, 1], geom)
    return bool((d == 0).any())


def geom_within(ga, gb) -> bool:
    """``a within b``: all of a's coords inside b and no boundary crossing.
    Exact for the point/polygon cases the reference exercises
    (``pythongis/vector/manager.py:381-431`` with condition='within')."""
    tb, _ = gb
    if tb not in ("Polygon", "MultiPolygon"):
        return False
    ca = W.all_coords(ga)
    if not points_in_polygon(ca[:, 0], ca[:, 1], gb).all():
        return False
    ta, _ = ga
    if ta in ("Point", "MultiPoint"):
        return True
    la = [ga[1]] if ta == "LineString" else (
        ga[1] if ta == "MultiLineString" else W.iter_rings(ga)
    )
    for A in la:
        for B in W.iter_rings(gb):
            if _segments_intersect_any(A, B):
                return False
    return True


# ------------------------------------------------------------- clipping

def clip_ring_to_rect(ring: np.ndarray, xmin, ymin, xmax, ymax) -> np.ndarray | None:
    """Sutherland–Hodgman polygon clip against an axis-aligned rectangle —
    powers tile cropping (reference crop-with-intersection per tile,
    ``pythongis/vector/manager.py:26-45``)."""
    poly = ring[:-1] if np.array_equal(ring[0], ring[-1]) else ring

    def clip_edge(pts, inside_fn, intersect_fn):
        if len(pts) == 0:
            return pts
        out = []
        prev = pts[-1]
        prev_in = inside_fn(prev)
        for cur in pts:
            cur_in = inside_fn(cur)
            if cur_in:
                if not prev_in:
                    out.append(intersect_fn(prev, cur))
                out.append(cur)
            elif prev_in:
                out.append(intersect_fn(prev, cur))
            prev, prev_in = cur, cur_in
        return np.array(out) if out else np.empty((0, 2))

    def ix_x(xv):
        def f(p, q):
            t = (xv - p[0]) / (q[0] - p[0])
            return np.array([xv, p[1] + t * (q[1] - p[1])])
        return f

    def ix_y(yv):
        def f(p, q):
            t = (yv - p[1]) / (q[1] - p[1])
            return np.array([p[0] + t * (q[0] - p[0]), yv])
        return f

    pts = np.asarray(poly, dtype=np.float64)
    pts = clip_edge(pts, lambda p: p[0] >= xmin, ix_x(xmin))
    pts = clip_edge(pts, lambda p: p[0] <= xmax, ix_x(xmax))
    pts = clip_edge(pts, lambda p: p[1] >= ymin, ix_y(ymin))
    pts = clip_edge(pts, lambda p: p[1] <= ymax, ix_y(ymax))
    if len(pts) < 3:
        return None
    return np.vstack([pts, pts[:1]])


def clip_line_to_rect(coords: np.ndarray, xmin, ymin, xmax, ymax) -> list[np.ndarray]:
    """Cohen–Sutherland-style per-segment line clip → list of sub-lines."""
    segs = []
    cur: list[np.ndarray] = []
    for i in range(len(coords) - 1):
        p, q = coords[i], coords[i + 1]
        clipped = _clip_segment(p, q, xmin, ymin, xmax, ymax)
        if clipped is None:
            if len(cur) >= 2:
                segs.append(np.array(cur))
            cur = []
            continue
        cp, cq = clipped
        if cur and np.allclose(cur[-1], cp):
            cur.append(cq)
        else:
            if len(cur) >= 2:
                segs.append(np.array(cur))
            cur = [cp, cq]
    if len(cur) >= 2:
        segs.append(np.array(cur))
    return segs


def _clip_segment(p, q, xmin, ymin, xmax, ymax):
    t0, t1 = 0.0, 1.0
    dx, dy = q[0] - p[0], q[1] - p[1]
    for pval, qval in (
        (-dx, p[0] - xmin),
        (dx, xmax - p[0]),
        (-dy, p[1] - ymin),
        (dy, ymax - p[1]),
    ):
        if pval == 0:
            if qval < 0:
                return None
        else:
            r = qval / pval
            if pval < 0:
                t0 = max(t0, r)
            else:
                t1 = min(t1, r)
            if t0 > t1:
                return None
    return (
        np.array([p[0] + t0 * dx, p[1] + t0 * dy]),
        np.array([p[0] + t1 * dx, p[1] + t1 * dy]),
    )


# ------------------------------------------------- boundary-aware predicates

def points_on_boundary(px: np.ndarray, py: np.ndarray, geom) -> np.ndarray:
    """True per point when it lies exactly on a ring/line segment of
    ``geom`` (cross product 0 and inside the segment's bbox) — the
    boundary-contact test shapely resolves via DE-9IM, needed for
    within/covers/touches semantics (``pythongis/vector/manager.py:196``
    routes these to shapely)."""
    on = np.zeros(len(px), dtype=bool)
    for seg in _boundary_polylines(geom):
        a, b = seg[:-1], seg[1:]
        n_edges = len(a)
        step = max(1, 4_000_000 // max(len(px), 1))
        for s in range(0, n_edges, step):
            a0, b0 = a[s : s + step], b[s : s + step]
            cross = (b0[None, :, 0] - a0[None, :, 0]) * (py[:, None] - a0[None, :, 1]) - (
                b0[None, :, 1] - a0[None, :, 1]
            ) * (px[:, None] - a0[None, :, 0])
            inbox = (
                (px[:, None] >= np.minimum(a0[None, :, 0], b0[None, :, 0]))
                & (px[:, None] <= np.maximum(a0[None, :, 0], b0[None, :, 0]))
                & (py[:, None] >= np.minimum(a0[None, :, 1], b0[None, :, 1]))
                & (py[:, None] <= np.maximum(a0[None, :, 1], b0[None, :, 1]))
            )
            on |= ((cross == 0) & inbox).any(axis=1)
    return on


def _boundary_polylines(geom):
    t, payload = geom
    if t == "LineString":
        return [payload]
    if t == "MultiLineString":
        return list(payload)
    if t in ("Polygon", "MultiPolygon"):
        return list(W.iter_rings(geom))
    return []


def _proper_crossing_any(A: np.ndarray, B: np.ndarray) -> bool:
    """Strictly proper segment crossing (all four orientations nonzero
    and opposite) — endpoint/collinear contact is NOT a crossing. This
    is the test within/covers need: boundary contact is admissible,
    passing through to the other side is not."""
    a0, a1 = A[:-1], A[1:]
    b0, b1 = B[:-1], B[1:]

    def cross(o, p, q):
        return (p[..., 0] - o[..., 0]) * (q[..., 1] - o[..., 1]) - (
            p[..., 1] - o[..., 1]
        ) * (q[..., 0] - o[..., 0])

    o1 = cross(a0[:, None], a1[:, None], b0[None, :])
    o2 = cross(a0[:, None], a1[:, None], b1[None, :])
    o3 = cross(b0[None, :], b1[None, :], a0[:, None])
    o4 = cross(b0[None, :], b1[None, :], a1[:, None])
    return bool(((o1 * o2 < 0) & (o3 * o4 < 0)).any())


def _sample_points(geom) -> np.ndarray:
    """Vertices + segment midpoints — the probe set for interior/exterior
    classification of lines and rings (midpoints catch segments whose
    endpoints both sit on the other geometry's boundary)."""
    pts = [W.all_coords(geom)]
    for seg in _boundary_polylines(geom):
        pts.append(0.5 * (seg[:-1] + seg[1:]))
    return np.vstack(pts)


def geom_within_covers(ga, gb, require_interior: bool) -> bool:
    """Shared core of within/coveredby (a inside b):

    every probe point of a is inside-or-on b, no strictly proper
    boundary crossing; ``require_interior`` additionally demands ≥1
    probe point strictly interior (shapely: within requires
    interior∩interior ≠ ∅, coveredby does not). Known limit vs GEOS: an
    'a' that exits b and re-enters purely through collinear boundary
    runs is accepted — not a configuration the lattice fixtures or the
    reference tests produce."""
    tb, _ = gb
    if tb not in ("Polygon", "MultiPolygon"):
        return False
    ta, _ = ga
    pts = _sample_points(ga)
    par = points_in_polygon(pts[:, 0], pts[:, 1], gb)
    onb = points_on_boundary(pts[:, 0], pts[:, 1], gb)
    if not (par | onb).all():
        return False
    # the probe set samples only a's boundary, so the interior demand is
    # checked there for 0/1-dim a; for a 2-dim a it is implied: an open
    # 2D interior contained in b cannot fit inside b's 1D boundary, so
    # containment forces interior∩interior ≠ ∅ (shapely: poly.within(
    # poly) is True even when the boundaries coincide exactly)
    if (
        require_interior
        and ta not in ("Polygon", "MultiPolygon")
        and not (par & ~onb).any()
    ):
        return False
    if ta in ("Point", "MultiPoint"):
        return True
    for A in _boundary_polylines(ga):
        for B in W.iter_rings(gb):
            if _proper_crossing_any(A, B):
                return False
    return True


def geom_crosses(ga, gb) -> bool:
    """shapely ``crosses``: interiors intersect in a lower dimension.
    Cases the reference exercises (line×line proper crossing, line×area
    pass-through); point×* and area×area are False by definition."""
    ta, tb = ga[0], gb[0]
    line_a = ta in ("LineString", "MultiLineString")
    line_b = tb in ("LineString", "MultiLineString")
    poly_a = ta in ("Polygon", "MultiPolygon")
    poly_b = tb in ("Polygon", "MultiPolygon")
    if line_a and line_b:
        for A in _boundary_polylines(ga):
            for B in _boundary_polylines(gb):
                if _proper_crossing_any(A, B):
                    return True
        return False
    if line_a and poly_b:
        return _line_crosses_poly(ga, gb)
    if poly_a and line_b:
        return _line_crosses_poly(gb, ga)
    return False


def _line_crosses_poly(gl, gp) -> bool:
    pts = _sample_points(gl)
    par = points_in_polygon(pts[:, 0], pts[:, 1], gp)
    onb = points_on_boundary(pts[:, 0], pts[:, 1], gp)
    strictly_in = (par & ~onb).any()
    strictly_out = (~par & ~onb).any()
    return bool(strictly_in and strictly_out)


def geom_touches(ga, gb) -> bool:
    """shapely ``touches``: geometries intersect but their interiors do
    not. Evaluated as: contact exists (shared boundary point / point on
    boundary) while no proper crossing and no strict interior overlap."""
    ta, tb = ga[0], gb[0]
    if ta in ("Point", "MultiPoint"):
        return _points_touch_only(W.all_coords(ga), gb)
    if tb in ("Point", "MultiPoint"):
        return _points_touch_only(W.all_coords(gb), ga)
    if not geoms_intersect(ga, gb):
        return False
    # a proper boundary crossing means interiors meet -> not touches
    for A in _boundary_polylines(ga):
        for B in _boundary_polylines(gb):
            if _proper_crossing_any(A, B):
                return False
    poly_a = ta in ("Polygon", "MultiPolygon")
    poly_b = tb in ("Polygon", "MultiPolygon")
    if poly_b:
        pts = _sample_points(ga)
        if poly_a:  # probe a's interior too (identical/nested polygons
            # have all boundary samples ON the other's boundary)
            pts = np.vstack([pts, _interior_probes(ga)])
        par = points_in_polygon(pts[:, 0], pts[:, 1], gb)
        onb = points_on_boundary(pts[:, 0], pts[:, 1], gb)
        if (par & ~onb).any():
            return False
    if poly_a:
        pts = _sample_points(gb)
        if poly_b:
            pts = np.vstack([pts, _interior_probes(gb)])
        par = points_in_polygon(pts[:, 0], pts[:, 1], ga)
        onb = points_on_boundary(pts[:, 0], pts[:, 1], ga)
        if (par & ~onb).any():
            return False
    if poly_a and poly_b:
        return True  # intersecting, no crossing, no interior overlap
    if poly_a or poly_b:
        return True  # line touches area boundary only
    # line×line: contact with no proper crossing; exclude collinear
    # interior overlap (shapely: overlapping lines are not 'touches')
    if _collinear_overlap_any(ga, gb):
        return False
    # DE-9IM: a contact point interior to BOTH lines (a T/V contact at a
    # vertex that is not a polyline endpoint) means interior∩interior ≠ ∅
    # → not touches. Every non-crossing non-collinear segment contact
    # involves a vertex of at least one line, so probing vertices is
    # exhaustive. A line's boundary is its open parts' endpoints (closed
    # rings have empty boundary, DE-9IM mod-2 rule).
    ends = _polyline_endpoints(ga) + _polyline_endpoints(gb)

    def _interior_contact(src, other) -> bool:
        v = W.all_coords(src)
        on = points_on_boundary(v[:, 0], v[:, 1], other)
        for p in v[on]:
            if not any(p[0] == e[0] and p[1] == e[1] for e in ends):
                return True
        return False

    return not (_interior_contact(ga, gb) or _interior_contact(gb, ga))


def _polyline_endpoints(geom):
    """Boundary points of a line geometry: endpoints of each open part
    (closed parts contribute none)."""
    ends = []
    for part in _boundary_polylines(geom):
        if not (part[0] == part[-1]).all():
            ends.append(part[0])
            ends.append(part[-1])
    return ends


def _interior_probes(geom) -> np.ndarray:
    """One representative interior point per polygon part (area-weighted
    centroid of the exterior ring — exact for the convex/star-shaped
    fixtures this engine targets; documented limit for pathological
    concave rings whose centroid falls outside)."""
    probes = []
    for rings in W.iter_polygons(geom):
        c = geom_centroid(("Polygon", [rings[0]]))
        probes.append(c)
    return np.array(probes, dtype=np.float64)


def _points_touch_only(pts: np.ndarray, geom) -> bool:
    t, _ = geom
    if t in ("Polygon", "MultiPolygon")\
            or t in ("LineString", "MultiLineString"):
        onb = points_on_boundary(pts[:, 0], pts[:, 1], geom)
        if t in ("Polygon", "MultiPolygon"):
            par = points_in_polygon(pts[:, 0], pts[:, 1], geom)
            interior = par & ~onb
            return bool(onb.any() and not interior.any())
        # for a line, 'boundary' is its endpoints; a point on the line
        # interior intersects the interior -> not touches. Approximate
        # with endpoint equality. CLOSED parts contribute no boundary
        # (DE-9IM mod-2 rule, same as _polyline_endpoints): their
        # start/end vertex is line INTERIOR, so a point there is not a
        # touch.
        ends = []
        for seg in _boundary_polylines(geom):
            if (seg[0] == seg[-1]).all():
                continue
            ends.append(seg[0])
            ends.append(seg[-1])
        if not ends:
            return False  # closed line: empty boundary, nothing touches
        ends = np.array(ends)
        on_end = ((pts[:, None, :] == ends[None, :, :]).all(-1)).any(axis=1)
        on_line = onb
        return bool(on_end.any() and not (on_line & ~on_end).any())
    return False


def _collinear_overlap_any(ga, gb) -> bool:
    """True when some segment pair is collinear and overlaps over a
    positive length (line interiors shared)."""
    for A in _boundary_polylines(ga):
        for B in _boundary_polylines(gb):
            a0, a1 = A[:-1], A[1:]
            b0, b1 = B[:-1], B[1:]
            d = a1 - a0
            cr1 = d[:, None, 0] * (b0[None, :, 1] - a0[:, None, 1]) - d[:, None, 1] * (
                b0[None, :, 0] - a0[:, None, 0]
            )
            cr2 = d[:, None, 0] * (b1[None, :, 1] - a0[:, None, 1]) - d[:, None, 1] * (
                b1[None, :, 0] - a0[:, None, 0]
            )
            coll = (cr1 == 0) & (cr2 == 0)
            if not coll.any():
                continue
            # project onto the dominant axis and check 1-D interval overlap
            t0 = (b0[None, :, :] - a0[:, None, :])
            t1 = (b1[None, :, :] - a0[:, None, :])
            dd = (d * d).sum(axis=1)
            dd = np.where(dd == 0, 1.0, dd)
            s0 = (t0 * d[:, None, :]).sum(-1) / dd[:, None]
            s1 = (t1 * d[:, None, :]).sum(-1) / dd[:, None]
            lo = np.minimum(s0, s1)
            hi = np.maximum(s0, s1)
            overlap = (np.minimum(hi, 1.0) - np.maximum(lo, 0.0)) > 0
            if (coll & overlap).any():
                return True
    return False


# ------------------------------------------------- convex polygon clipping

def ring_is_convex(ring: np.ndarray) -> bool:
    pts = ring[:-1] if np.array_equal(ring[0], ring[-1]) else ring
    n = len(pts)
    if n < 3:
        return False
    sign = 0
    for i in range(n):
        o, p, q = pts[i], pts[(i + 1) % n], pts[(i + 2) % n]
        c = (p[0] - o[0]) * (q[1] - o[1]) - (p[1] - o[1]) * (q[0] - o[0])
        if c != 0:
            s = 1 if c > 0 else -1
            if sign == 0:
                sign = s
            elif s != sign:
                return False
    return True


def clip_ring_to_convex(ring: np.ndarray, clip_ring: np.ndarray) -> np.ndarray | None:
    """Sutherland–Hodgman clip of ``ring`` against a convex ``clip_ring``
    (general form of :func:`clip_ring_to_rect`; reference clip analog:
    shapely ``intersection`` in ``pythongis/vector/manager.py:208-266``,
    restricted to convex clip windows — the documented engine limit)."""
    clip_pts = clip_ring[:-1] if np.array_equal(clip_ring[0], clip_ring[-1]) else clip_ring
    if ring_signed_area(np.vstack([clip_pts, clip_pts[:1]])) < 0:
        clip_pts = clip_pts[::-1]  # force CCW so inside = left of each edge

    pts = ring[:-1] if np.array_equal(ring[0], ring[-1]) else ring
    pts = np.asarray(pts, dtype=np.float64)
    n = len(clip_pts)
    for i in range(n):
        if len(pts) == 0:
            break
        a = clip_pts[i]
        b = clip_pts[(i + 1) % n]
        ex, ey = b[0] - a[0], b[1] - a[1]

        def inside(p):
            return ex * (p[1] - a[1]) - ey * (p[0] - a[0]) >= 0

        def intersect(p, q):
            dx, dy = q[0] - p[0], q[1] - p[1]
            denom = ex * dy - ey * dx
            t = (ex * (a[1] - p[1]) - ey * (a[0] - p[0])) / denom
            return np.array([p[0] + t * dx, p[1] + t * dy])

        out = []
        prev = pts[-1]
        prev_in = inside(prev)
        for cur in pts:
            cur_in = inside(cur)
            if cur_in:
                if not prev_in:
                    out.append(intersect(prev, cur))
                out.append(cur)
            elif prev_in:
                out.append(intersect(prev, cur))
            prev, prev_in = cur, cur_in
        pts = np.array(out) if out else np.empty((0, 2))
    if len(pts) < 3:
        return None
    return np.vstack([pts, pts[:1]])


def geom_intersection_convex(ga, gclip) -> tuple | None:
    """Pairwise intersection a ∩ clip for a convex polygonal clip window,
    with the reference's lowest-dimension output coercion
    (``pythongis/vector/manager.py:212-222``): point inputs → points,
    line inputs → clipped sub-lines, polygon inputs → clipped polygons.
    Returns a geometry tuple or None (empty)."""
    tclip, _ = gclip
    if tclip not in ("Polygon", "MultiPolygon"):
        raise ValueError("clip geometry must be polygonal")
    clip_rings = [rings[0] for rings in W.iter_polygons(gclip)]
    for r in clip_rings:
        if not ring_is_convex(r):
            raise NotImplementedError(
                "general concave clip not supported (convex windows only)"
            )
    ta, payload = ga
    if ta in ("Point", "MultiPoint"):
        pts = W.all_coords(ga)
        keep = points_in_polygon(pts[:, 0], pts[:, 1], gclip) | points_on_boundary(
            pts[:, 0], pts[:, 1], gclip
        )
        kept = pts[keep]
        if len(kept) == 0:
            return None
        if len(kept) == 1:
            return ("Point", kept)
        return ("MultiPoint", kept)
    if ta in ("LineString", "MultiLineString"):
        lines = [payload] if ta == "LineString" else list(payload)
        out = []
        for clip_ring in clip_rings:
            # convex window == intersection of half-planes; reuse the
            # rect path when axis-aligned, else clip per half-plane pair
            for ln in lines:
                out.extend(_clip_line_to_convex(ln, clip_ring))
        out = [o for o in out if len(o) >= 2]
        if not out:
            return None
        if len(out) == 1:
            return ("LineString", out[0])
        return ("MultiLineString", out)
    if ta in ("Polygon", "MultiPolygon"):
        polys = []
        for rings in W.iter_polygons(ga):
            for clip_ring in clip_rings:
                ext = clip_ring_to_convex(rings[0], clip_ring)
                if ext is None:
                    continue
                holes = []
                for h in rings[1:]:
                    hc = clip_ring_to_convex(h, clip_ring)
                    if hc is not None:
                        holes.append(hc)
                polys.append([ext] + holes)
        if not polys:
            return None
        if len(polys) == 1:
            return ("Polygon", polys[0])
        return ("MultiPolygon", polys)
    raise ValueError(f"unsupported geometry type {ta!r}")


def _clip_line_to_convex(coords: np.ndarray, clip_ring: np.ndarray) -> list[np.ndarray]:
    """Clip a polyline to a convex ring by parametric (Cyrus–Beck) clip
    of each segment; contiguous surviving pieces are stitched."""
    clip_pts = clip_ring[:-1] if np.array_equal(clip_ring[0], clip_ring[-1]) else clip_ring
    if ring_signed_area(np.vstack([clip_pts, clip_pts[:1]])) < 0:
        clip_pts = clip_pts[::-1]
    n = len(clip_pts)
    edges = [(clip_pts[i], clip_pts[(i + 1) % n]) for i in range(n)]

    def clip_seg(p, q):
        t0, t1 = 0.0, 1.0
        dx, dy = q[0] - p[0], q[1] - p[1]
        for a, b in edges:
            ex, ey = b[0] - a[0], b[1] - a[1]
            # signed dist of inside = left of edge
            denom = ex * dy - ey * dx
            num = ex * (a[1] - p[1]) - ey * (a[0] - p[0])
            if denom == 0:
                if num > 0:  # entirely outside this half-plane
                    return None
                continue
            # inside condition f(t) = -num + t*denom >= 0
            t = num / denom
            if denom > 0:
                t0 = max(t0, t)  # t >= num/denom
            else:
                t1 = min(t1, t)  # t <= num/denom
            if t0 > t1:
                return None
        return (
            np.array([p[0] + t0 * dx, p[1] + t0 * dy]),
            np.array([p[0] + t1 * dx, p[1] + t1 * dy]),
        )

    segs: list[np.ndarray] = []
    cur: list[np.ndarray] = []
    for i in range(len(coords) - 1):
        res = clip_seg(coords[i], coords[i + 1])
        if res is None:
            if len(cur) >= 2:
                segs.append(np.array(cur))
            cur = []
            continue
        cp, cq = res
        if cur and np.allclose(cur[-1], cp):
            cur.append(cq)
        else:
            if len(cur) >= 2:
                segs.append(np.array(cur))
            cur = [cp, cq]
    if len(cur) >= 2:
        segs.append(np.array(cur))
    return segs
