"""Pure-numpy geometry kernel (shapely is unavailable in this image).

Implements exactly what the engine needs, vectorized over Arrow batches:

- point-in-(multi)polygon via even-odd ray casting — the refine step of
  the filter-refine spatial join (role of ``boundary.contains(point)``,
  ``/root/reference/src/admin_geofinder.rs:101-104``);
- bounding box / centroid (``admin_geofinder.rs:133-143``,
  ``/root/reference/src/osm_reader/osm_utils.rs:57-67``);
- WKB encode/decode for MultiPolygon (the ``boundary_wkb`` column
  format, FIXTURES.md §2);
- haversine distance (``/root/reference/libs/mimir/src/adapters/
  primary/bragi/handlers.rs:113-130`` distance annotation).

Geometry model: a polygon is ``[exterior_ring, hole_ring, ...]``; each
ring is an (N, 2) float64 array of (lon, lat), not necessarily closed
(closure is implicit). A multipolygon is a list of polygons.

Containment convention: even-odd rule with half-open edges; points
exactly on an edge may fall either side (the reference's geo crate
likewise treats boundaries as exclusive for ``Contains``). All test
vectors use strictly interior/exterior probes, as the reference's own
octagon tests do (``admin_geofinder.rs:311-530``).
"""

from __future__ import annotations

import struct

import numpy as np

EARTH_RADIUS_M = 6371000.0
M_PER_DEG_EQ = 2.0 * np.pi * EARTH_RADIUS_M / 360.0  # meridional meters per degree

Ring = np.ndarray  # (N, 2) lon/lat
Polygon = list  # [Ring, ...] first = exterior
MultiPolygon = list  # [Polygon, ...]


# ---------------------------------------------------------------------------
# Point-in-polygon (vectorized: many points × one multipolygon)
# ---------------------------------------------------------------------------


def points_in_ring(lon: np.ndarray, lat: np.ndarray, ring: Ring) -> np.ndarray:
    """Even-odd ray cast: bool mask of points inside the ring."""
    x = np.asarray(lon, dtype=np.float64)[:, None]
    y = np.asarray(lat, dtype=np.float64)[:, None]
    rx = ring[:, 0]
    ry = ring[:, 1]
    rx2 = np.roll(rx, -1)
    ry2 = np.roll(ry, -1)
    # edge straddles the horizontal line through y
    straddle = (ry <= y) != (ry2 <= y)
    with np.errstate(divide="ignore", invalid="ignore"):
        xint = rx + (y - ry) * (rx2 - rx) / (ry2 - ry)
    crossings = straddle & (x < xint)
    return (crossings.sum(axis=1) % 2).astype(bool)


def points_in_polygon(lon: np.ndarray, lat: np.ndarray, polygon: Polygon) -> np.ndarray:
    inside = points_in_ring(lon, lat, polygon[0])
    for hole in polygon[1:]:
        inside &= ~points_in_ring(lon, lat, hole)
    return inside


def points_in_multipolygon(lon: np.ndarray, lat: np.ndarray, mp: MultiPolygon) -> np.ndarray:
    out = np.zeros(len(np.asarray(lon)), dtype=bool)
    for poly in mp:
        out |= points_in_polygon(lon, lat, poly)
    return out


def points_on_ring_boundary(lon: np.ndarray, lat: np.ndarray, ring: Ring) -> np.ndarray:
    """Bool mask of points lying exactly on a ring edge (or vertex):
    colinear (cross product 0) and within the segment's parameter range.
    Exact float arithmetic, like the geo crate's Point-Intersects."""
    x = np.asarray(lon, dtype=np.float64)[:, None]
    y = np.asarray(lat, dtype=np.float64)[:, None]
    ax, ay = ring[:, 0], ring[:, 1]
    bx, by = np.roll(ax, -1), np.roll(ay, -1)
    ux, uy = bx - ax, by - ay
    cross = ux * (y - ay) - uy * (x - ax)
    dot = (x - ax) * ux + (y - ay) * uy
    len2 = ux * ux + uy * uy
    on = (cross == 0.0) & (dot >= 0.0) & (dot <= len2)
    # zero-length edges degenerate to a vertex-equality test
    on |= (len2 == 0.0) & (x == ax) & (y == ay)
    return on.any(axis=1)


def points_on_multipolygon_boundary(lon: np.ndarray, lat: np.ndarray, mp: MultiPolygon) -> np.ndarray:
    out = np.zeros(len(np.asarray(lon)), dtype=bool)
    for poly in mp:
        for ring in poly:
            out |= points_on_ring_boundary(lon, lat, ring)
    return out


def points_intersect_multipolygon(lon: np.ndarray, lat: np.ndarray, mp: MultiPolygon) -> np.ndarray:
    """Boundary-INCLUSIVE containment — the semantics of the geo crate's
    ``bound.intersects(&Point)`` used by ``get_admins_if``
    (/root/reference/src/admin_geofinder.rs:186-188), in contrast to the
    exclusive ``contains`` used by ``get`` (:101-104). A street node
    sitting exactly on a shared way/boundary edge (common in OSM) must
    attach through the get_admins_if path."""
    return points_in_multipolygon(lon, lat, mp) | points_on_multipolygon_boundary(lon, lat, mp)


# ---------------------------------------------------------------------------
# bbox / centroid
# ---------------------------------------------------------------------------


def mp_bbox(mp: MultiPolygon) -> tuple[float, float, float, float]:
    ext = np.vstack([poly[0] for poly in mp])
    return (
        float(ext[:, 0].min()),
        float(ext[:, 1].min()),
        float(ext[:, 0].max()),
        float(ext[:, 1].max()),
    )


def mp_centroid(mp: MultiPolygon) -> tuple[float, float]:
    """Area-weighted centroid over exterior rings minus holes (shoelace)."""
    a_total = 0.0
    cx_total = 0.0
    cy_total = 0.0
    for poly in mp:
        for idx, ring in enumerate(poly):
            x = ring[:, 0]
            y = ring[:, 1]
            x2 = np.roll(x, -1)
            y2 = np.roll(y, -1)
            cross = x * y2 - x2 * y
            a = cross.sum() / 2.0
            if a == 0.0:
                continue
            cx = ((x + x2) * cross).sum() / (6.0 * a)
            cy = ((y + y2) * cross).sum() / (6.0 * a)
            sign = 1.0 if idx == 0 else -1.0
            a_abs = abs(a) * sign
            a_total += a_abs
            cx_total += cx * a_abs
            cy_total += cy * a_abs
    if a_total == 0.0:
        ext = np.vstack([poly[0] for poly in mp])
        return float(ext[:, 0].mean()), float(ext[:, 1].mean())
    return cx_total / a_total, cy_total / a_total


# ---------------------------------------------------------------------------
# WKB (MultiPolygon, little-endian — OGC standard encoding)
# ---------------------------------------------------------------------------

_WKB_POLYGON = 3
_WKB_MULTIPOLYGON = 6


def mp_to_wkb(mp: MultiPolygon) -> bytes:
    parts = [struct.pack("<BII", 1, _WKB_MULTIPOLYGON, len(mp))]
    for poly in mp:
        parts.append(struct.pack("<BII", 1, _WKB_POLYGON, len(poly)))
        for ring in poly:
            ring = np.asarray(ring, dtype=np.float64)
            if not np.array_equal(ring[0], ring[-1]):
                ring = np.vstack([ring, ring[:1]])  # WKB rings are closed
            parts.append(struct.pack("<I", len(ring)))
            parts.append(ring.astype("<f8").tobytes())
    return b"".join(parts)


def wkb_to_mp(buf: bytes) -> MultiPolygon:
    order, gtype, n_poly = struct.unpack_from("<BII", buf, 0)
    if order != 1 or gtype != _WKB_MULTIPOLYGON:
        raise ValueError(f"expected LE multipolygon WKB, got order={order} type={gtype}")
    off = 9
    mp = []
    for _ in range(n_poly):
        p_order, p_type, n_rings = struct.unpack_from("<BII", buf, off)
        if p_order != 1 or p_type != _WKB_POLYGON:
            raise ValueError("malformed polygon record in WKB")
        off += 9
        poly = []
        for _ in range(n_rings):
            (n_pts,) = struct.unpack_from("<I", buf, off)
            off += 4
            ring = np.frombuffer(buf, dtype="<f8", count=n_pts * 2, offset=off).reshape(
                n_pts, 2
            )
            off += n_pts * 16
            # drop the closing point ONLY if the ring is actually closed
            # (WKB requires it); an unclosed ring from a malformed
            # external dump must keep its last real vertex, not silently
            # lose a corner of the polygon
            if n_pts >= 2 and np.array_equal(ring[0], ring[-1]):
                ring = ring[:-1]
            poly.append(np.ascontiguousarray(ring))
        mp.append(poly)
    return mp


def _dp_keep_mask(ring: np.ndarray, tol: float) -> np.ndarray:
    """Douglas–Peucker keep-mask for an OPEN ring (closing edge implied):
    iterative stack form of the classic recursion, perpendicular distance
    in degrees."""
    n = len(ring)
    keep = np.zeros(n, dtype=bool)
    keep[0] = True
    # anchor a second point: the vertex farthest from ring[0] (DP needs a
    # non-degenerate baseline on closed rings)
    far = int(np.argmax(((ring - ring[0]) ** 2).sum(axis=1)))
    keep[far] = True
    stack = [(0, far), (far, n - 1)]
    keep[n - 1] = True
    while stack:
        a, b = stack.pop()
        if b - a < 2:
            continue
        seg = ring[a + 1 : b]
        ax, ay = ring[a]
        bx, by = ring[b]
        ux, uy = bx - ax, by - ay
        L = np.hypot(ux, uy)
        if L == 0.0:
            d = np.hypot(seg[:, 0] - ax, seg[:, 1] - ay)
        else:
            d = np.abs(ux * (ay - seg[:, 1]) - uy * (ax - seg[:, 0])) / L
        i = int(np.argmax(d))
        if d[i] > tol:
            keep[a + 1 + i] = True
            stack.append((a, a + 1 + i))
            stack.append((a + 1 + i, b))
    return keep


def simplify_mp(mp: MultiPolygon, tolerance_deg: float) -> MultiPolygon:
    """Douglas–Peucker simplification per ring (public algorithm);
    rings collapsing below 3 distinct vertices are dropped (holes) or
    kept as their minimal triangle (exteriors). Used two ways: as an
    explicit APPROXIMATION knob (simplify_admin_boundaries — attachments
    can change within ~tolerance of a boundary; caller opts in), and
    inside the partitioned refine's banded path (pip.py), where the
    exact recheck of the tolerance band makes the result EXACT — only
    that exact variant runs implicitly."""
    out = []
    for poly in mp:
        rings = []
        for ring in poly:
            r = np.asarray(ring, dtype=np.float64)
            # rings whose whole extent sits under the tolerance pass
            # through VERBATIM — exteriors so an admin is never deleted,
            # holes so the banded-exact refine (pip.py arrow_refine)
            # keeps its invariant: dropping a hole would leave no
            # boundary to band against, and a point inside the dropped
            # hole (e.g. a tiny enclave) would silently flip to "inside"
            # with no exact recheck
            diag = float(np.hypot(r[:, 0].ptp(), r[:, 1].ptp()))
            if diag < tolerance_deg:
                rings.append(r)
                continue
            if len(r) <= 4:
                rings.append(r)
                continue
            kept = r[_dp_keep_mask(r, tolerance_deg)]
            rings.append(kept if len(kept) >= 3 else r)
        if rings:
            out.append(rings)
    return out


def points_near_ring(lon: np.ndarray, lat: np.ndarray, ring: Ring, tol: float) -> np.ndarray:
    """Bool mask: planar (degree-space) distance from point to any ring
    edge ≤ tol. Vectorized P×E segment-distance; chunked over points so
    a giant candidate batch against a long ring stays in cache-sized
    temporaries."""
    x = np.asarray(lon, dtype=np.float64)
    y = np.asarray(lat, dtype=np.float64)
    ax, ay = ring[:, 0], ring[:, 1]
    bx, by = np.roll(ax, -1), np.roll(ay, -1)
    dx, dy = bx - ax, by - ay
    len2 = np.maximum(dx * dx + dy * dy, 1e-300)
    out = np.zeros(len(x), dtype=bool)
    tol2 = tol * tol
    chunk = max(1, 4_000_000 // max(len(ax), 1))
    for s in range(0, len(x), chunk):
        xs = x[s : s + chunk, None]
        ys = y[s : s + chunk, None]
        t = np.clip(((xs - ax) * dx + (ys - ay) * dy) / len2, 0.0, 1.0)
        ddx = xs - (ax + t * dx)
        ddy = ys - (ay + t * dy)
        out[s : s + chunk] = ((ddx * ddx + ddy * ddy) <= tol2).any(axis=1)
    return out


def points_near_mp_boundary(lon: np.ndarray, lat: np.ndarray, mp: MultiPolygon, tol: float) -> np.ndarray:
    """Bool mask: within ``tol`` (degrees, planar) of ANY ring of the
    multipolygon — the exact-recheck band of the simplified refine: a
    point classified by Douglas–Peucker-simplified geometry can only
    disagree with the full geometry if it lies within the DP tolerance
    of the simplified boundary (the discarded vertices are within tol of
    the retained chords), so testing this band against full geometry
    restores exactness."""
    out = np.zeros(len(np.asarray(lon)), dtype=bool)
    for poly in mp:
        for ring in poly:
            out |= points_near_ring(lon, lat, ring, tol)
    return out


def haversine_np(
    lon1: np.ndarray, lat1: np.ndarray, lon2: np.ndarray, lat2: np.ndarray
) -> np.ndarray:
    """Great-circle distance in meters (vectorized)."""
    lon1, lat1, lon2, lat2 = (np.radians(np.asarray(a, dtype=np.float64)) for a in (lon1, lat1, lon2, lat2))
    dlon = lon2 - lon1
    dlat = lat2 - lat1
    h = np.sin(dlat / 2.0) ** 2 + np.cos(lat1) * np.cos(lat2) * np.sin(dlon / 2.0) ** 2
    return 2.0 * EARTH_RADIUS_M * np.arcsin(np.sqrt(np.clip(h, 0.0, 1.0)))


# the least/greatest clip mirrors haversine_np's np.clip(h, 0, 1): for
# near-antipodal pairs float rounding pushes h a few ulps above 1 and
# asin(sqrt(h)) would return NaN — a NaN distance silently fails radius
# filters instead of reporting ~pi*R
HAVERSINE_SQL_TEMPLATE = (
    "(2.0 * {R} * asin(sqrt(least(1.0, greatest(0.0, "
    "pow(sin(radians(({lat2}) - ({lat1})) / 2), 2) + "
    "cos(radians({lat1})) * cos(radians({lat2})) * "
    "pow(sin(radians(({lon2}) - ({lon1})) / 2), 2)"
    ")))))"
)


def haversine_sql(lon1: str, lat1: str, lon2: str, lat2: str) -> str:
    """Identical formula as an ANSI-SQL snippet (Spark SQL == DuckDB SQL)."""
    return HAVERSINE_SQL_TEMPLATE.format(
        R=EARTH_RADIUS_M, lon1=lon1, lat1=lat1, lon2=lon2, lat2=lat2
    )


def points_to_mp_distance_m(lon: np.ndarray, lat: np.ndarray, mp: MultiPolygon) -> np.ndarray:
    """G4 — metric distance from points to a multipolygon: 0 for points
    inside (or on the boundary), else the minimum point-to-edge distance
    over all rings. Edges are evaluated in a local equirectangular frame
    (lon scaled by cos of the mean latitude) and converted to meters with
    the same R as haversine — exact enough for the reference's
    distance-annotation role (its geo crate does the same planar
    projection for polygon distance)."""
    lon = np.asarray(lon, dtype=np.float64)
    lat = np.asarray(lat, dtype=np.float64)
    m_per_deg = 2.0 * np.pi * EARTH_RADIUS_M / 360.0
    best = np.full(len(lon), np.inf)
    for poly in mp:
        for ring in poly:
            ax, ay = ring[:, 0], ring[:, 1]
            bx, by = np.roll(ax, -1), np.roll(ay, -1)
            # local x-scaling per edge (mean latitude of edge + point)
            for px_i in range(0, len(lon), 4096):
                sl = slice(px_i, px_i + 4096)
                px = lon[sl][:, None]
                py = lat[sl][:, None]
                coslat = np.cos(np.radians((py + (ay + by) / 2.0) / 2.0))
                axs, bxs, pxs = ax * coslat, bx * coslat, px * coslat
                ux, uy = bxs - axs, by - ay
                dot = (pxs - axs) * ux + (py - ay) * uy
                len2 = ux * ux + uy * uy
                t = np.clip(np.divide(dot, len2, out=np.zeros_like(dot), where=len2 > 0), 0.0, 1.0)
                dx = pxs - (axs + t * ux)
                dy = py - (ay + t * uy)
                d = np.sqrt(dx * dx + dy * dy).min(axis=1) * m_per_deg
                best[sl] = np.minimum(best[sl], d)
    inside = points_in_multipolygon(lon, lat, mp) | points_on_multipolygon_boundary(lon, lat, mp)
    best[inside] = 0.0
    return best
