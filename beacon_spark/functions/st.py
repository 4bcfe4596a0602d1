"""PostGIS-style ST_* function suite (WKT-string currency).

The reference registers the public ``geodatafusion`` suite wholesale
(beacon-db/beacon-functions/src/lib.rs:31) on top of its custom
``st_geojson_as_wkt`` / ``st_within_point`` pair.  Spark has no native
geometry type, so the documented mapping (same one read_geoparquet uses)
is: geometry values are WKT strings; WKB round-trips through
``st_geomfromwkb`` / ``st_asbinary``.

Two execution tiers, chosen per function:

  - **Pure-SQL (Catalyst, whole-stage codegen)** for point-shaped hot
    paths: ``st_point``, ``st_makepoint``, ``st_x``, ``st_y``,
    ``st_geometrytype``, ``st_isempty``, ``st_point_distance``.
    Registered as Spark 4 SQL UDFs (``CREATE TEMPORARY FUNCTION …
    RETURN expr``) so they inline into the plan — no Python in the hot
    path, filters stay pushdown-eligible.
  - **Arrow-batched pandas UDFs** (numpy-vectorized, per-executor parse
    cache) for general geometry: area/length/centroid/envelope/
    bounds/npoints/distance/contains/intersects/within/dwithin/
    translate/flip, plus WKT↔GeoJSON↔WKB conversions.

At 100 TB the pandas tier is embarrassingly parallel per Arrow batch and
allocation-bound, not shuffle-bound; the SQL tier is free.
"""

from __future__ import annotations

import json
import math
import re
import struct

import numpy as np
import pandas as pd
from pyspark.sql import types as T

from beacon_spark.functions.geo import geojson_to_wkt, wkb_to_wkt

# ------------------------------------------------------------------ parsing
#
# The parser lives in the shared leaf module functions/_wkt.py (one
# parser for st.py AND geo.py — two stacks drifted once, r10's Z/M fix
# had to land twice). Re-exported here because the public import path
# for the suite is `from beacon_spark.functions.st import parse_wkt`.
from beacon_spark.functions._wkt import (  # noqa: F401
    _COORD_RE,
    _NUM,
    _NUM_RE,
    Geom,
    _close,
    _coords,
    _inner,
    _parsed,
    _split_groups,
    parse_wkt,
)


# ------------------------------------------------------------------ measures


def _ring_area(r: np.ndarray) -> float:
    rc = _close(r)
    x, y = rc[:, 0], rc[:, 1]
    return 0.5 * float(np.dot(x[:-1], y[1:]) - np.dot(x[1:], y[:-1]))


def geom_area(g: Geom) -> float:
    if g.polys is not None:
        total = 0.0
        for rings in g.polys:
            if rings:
                total += abs(_ring_area(rings[0]))
                for h in rings[1:]:
                    total -= abs(_ring_area(h))
        return total
    if g.geoms is not None:
        return sum(geom_area(c) for c in g.geoms)
    return 0.0


def _path_len(r: np.ndarray) -> float:
    if len(r) < 2:
        return 0.0
    d = np.diff(r, axis=0)
    return float(np.hypot(d[:, 0], d[:, 1]).sum())


def geom_length(g: Geom) -> float:
    """Length of linear parts; for polygons, the perimeter (matches
    PostGIS ST_Perimeter; geodatafusion exposes both names)."""
    total = 0.0
    if g.lines:
        total += sum(_path_len(ln) for ln in g.lines)
    if g.polys:
        for rings in g.polys:
            total += sum(_path_len(_close(r)) for r in rings)
    if g.geoms:
        total += sum(geom_length(c) for c in g.geoms)
    return total


def geom_centroid(g: Geom) -> tuple[float, float]:
    if g.empty:
        return (math.nan, math.nan)
    if g.polys:
        ax = ay = aw = 0.0
        for rings in g.polys:
            for i, r in enumerate(rings):
                rc = _close(r)
                x, y = rc[:, 0], rc[:, 1]
                cross = x[:-1] * y[1:] - x[1:] * y[:-1]
                a = 0.5 * cross.sum()
                if a == 0:
                    continue
                cx = ((x[:-1] + x[1:]) * cross).sum() / (6 * a)
                cy = ((y[:-1] + y[1:]) * cross).sum() / (6 * a)
                # shells add |area|, holes subtract (ring orientation in
                # the input is not trusted)
                w = abs(a) if i == 0 else -abs(a)
                ax += cx * w
                ay += cy * w
                aw += w
        if aw != 0:
            return (ax / aw, ay / aw)
    if g.lines:
        sx = sy = sw = 0.0
        for ln in g.lines:
            if len(ln) < 2:
                continue
            mid = (ln[:-1] + ln[1:]) / 2
            d = np.diff(ln, axis=0)
            w = np.hypot(d[:, 0], d[:, 1])
            sx += float((mid[:, 0] * w).sum())
            sy += float((mid[:, 1] * w).sum())
            sw += float(w.sum())
        if sw > 0:
            return (sx / sw, sy / sw)
    if g.geoms:
        # PostGIS: a collection's centroid comes from its HIGHEST-
        # dimension components only, weighted by area/length/count —
        # the unweighted all-vertex mean below put two unequal
        # polygons' centroid far from the area-weighted one
        def _dim(c: Geom) -> int:
            if c.polys:
                return 2
            if c.lines:
                return 1
            if c.pts is not None and len(c.pts):
                return 0
            if c.geoms:
                return max((_dim(x) for x in c.geoms), default=-1)
            return -1

        top = max((_dim(c) for c in g.geoms), default=-1)
        if top >= 0:
            sx = sy = sw = 0.0
            for c in g.geoms:
                if _dim(c) != top:
                    continue
                cx, cy = geom_centroid(c)
                if math.isnan(cx):
                    continue
                w = (geom_area(c) if top == 2
                     else geom_length(c) if top == 1
                     else float(len(c.pts)))
                if w > 0:
                    sx += cx * w
                    sy += cy * w
                    sw += w
            if sw > 0:
                return (sx / sw, sy / sw)
    c = g.all_coords()
    if len(c):
        return (float(c[:, 0].mean()), float(c[:, 1].mean()))
    return (math.nan, math.nan)


# ------------------------------------------------------------------ predicates


def _point_in_polys(g: Geom, x: float, y: float) -> bool:
    """Single-point view of _bulk_in_polys (collection-nested polygons
    included) — one implementation, no scalar/bulk drift."""
    return bool(_bulk_in_polys(g, np.array([x]), np.array([y]))[0])


def _point_coords(g: Geom) -> np.ndarray:
    """Coordinates of the POINT/MULTIPOINT parts only (recursing into
    collections) — polygon/line vertices are boundary, not members."""
    parts = []
    if g.pts is not None and len(g.pts):
        parts.append(g.pts)
    for c in g.geoms or []:
        sub = _point_coords(c)
        if len(sub):
            parts.append(sub)
    return np.vstack(parts) if parts else np.zeros((0, 2))


def _seg_orients(sa: np.ndarray, sb: np.ndarray):
    """Orientation determinants for the m×n segment-pair grid."""
    ax1, ay1, ax2, ay2 = (sa[:, i][:, None] for i in range(4))
    bx1, by1, bx2, by2 = (sb[:, i][None, :] for i in range(4))

    def orient(ox, oy, px, py, qx, qy):
        return (px - ox) * (qy - oy) - (py - oy) * (qx - ox)

    d1 = orient(ax1, ay1, ax2, ay2, bx1, by1)
    d2 = orient(ax1, ay1, ax2, ay2, bx2, by2)
    d3 = orient(bx1, by1, bx2, by2, ax1, ay1)
    d4 = orient(bx1, by1, bx2, by2, ax2, ay2)
    return (ax1, ay1, ax2, ay2, bx1, by1, bx2, by2, d1, d2, d3, d4)


def _segs_cross_properly(sa: np.ndarray, sb: np.ndarray) -> bool:
    """Any segment of sa *properly* crosses any of sb (interiors
    intersect; shared endpoints / collinear touching do NOT count)."""
    if not len(sa) or not len(sb):
        return False
    *_pts, d1, d2, d3, d4 = _seg_orients(sa, sb)
    return bool((((d1 > 0) != (d2 > 0)) & ((d1 != 0) & (d2 != 0))
                 & ((d3 > 0) != (d4 > 0)) & ((d3 != 0) & (d4 != 0))).any())


def _segs_intersect(sa: np.ndarray, sb: np.ndarray) -> bool:
    """Any segment of sa properly/improperly intersects any of sb.
    Vectorized orientation tests over the m×n pair grid."""
    if not len(sa) or not len(sb):
        return False
    (ax1, ay1, ax2, ay2, bx1, by1, bx2, by2,
     d1, d2, d3, d4) = _seg_orients(sa, sb)
    proper = ((d1 > 0) != (d2 > 0)) & ((d3 > 0) != (d4 > 0))
    if proper.any():
        return True
    # collinear/touching cases
    def on_seg(ox, oy, qx, qy, px, py, d):
        return (
            (d == 0)
            & (px >= np.minimum(ox, qx)) & (px <= np.maximum(ox, qx))
            & (py >= np.minimum(oy, qy)) & (py <= np.maximum(oy, qy))
        )

    touch = (
        on_seg(ax1, ay1, ax2, ay2, bx1, by1, d1)
        | on_seg(ax1, ay1, ax2, ay2, bx2, by2, d2)
        | on_seg(bx1, by1, bx2, by2, ax1, ay1, d3)
        | on_seg(bx1, by1, bx2, by2, ax2, ay2, d4)
    )
    return bool(touch.any())


def geom_intersects(a: Geom, b: Geom) -> bool:
    axmin, aymin, axmax, aymax = a.bounds()
    bxmin, bymin, bxmax, bymax = b.bounds()
    if (
        math.isnan(axmin) or math.isnan(bxmin)
        or axmax < bxmin or bxmax < axmin
        or aymax < bymin or bymax < aymin
    ):
        return False
    # any point of one inside the other's polygon interiors (recurses
    # into collection-nested polygons) — one numpy pass over ALL
    # vertices instead of a Python call per vertex
    for g1, g2 in ((a, b), (b, a)):
        c = g1.all_coords()
        if len(c) and _bulk_in_polys(g2, c[:, 0], c[:, 1]).any():
            return True
    sa, sb = a.segments(), b.segments()
    if _segs_intersect(sa, sb):
        return True
    # a point geometry lying ON the other's lines/boundary: points have
    # no segments, so the segment-pair grid can never see them — test
    # point-to-segment distance == 0 (exact; touching counts, PostGIS
    # ST_Intersects semantics)
    pa, pb = _point_coords(a), _point_coords(b)
    for pts, segs in ((pa, sb), (pb, sa)):
        if len(pts) and len(segs):
            d = _pt_seg_dist(
                pts[:, 0][:, None], pts[:, 1][:, None],
                segs[:, 0][None, :], segs[:, 1][None, :],
                segs[:, 2][None, :], segs[:, 3][None, :],
            )
            if float(d.min()) == 0.0:
                return True
    # point vs point parts: coordinate equality (collections included)
    if len(pa) and len(pb):
        return bool(
            (np.abs(pa[:, None, :] - pb[None, :, :]).sum(axis=2) == 0).any()
        )
    return False


def geom_contains(a: Geom, b: Geom) -> bool:
    """a contains b: every vertex of b inside a (not in holes) and no
    boundary crossing. Point-in-point = equality. Closed-set ST_Covers
    semantics throughout: boundary touching stays contained (so a line
    contains its own endpoints, unlike strict ST_Contains)."""
    bc = b.all_coords()
    if b.empty or not len(bc):
        # PostGIS: nothing contains an empty geometry
        return False
    if a.polys:
        sa = a.segments()
        # every b vertex inside-or-on-boundary, ONE numpy pass over the
        # vertex array (the r10-deferred bulk path; the per-vertex
        # Python loop was the largest remaining per-row cost)
        inside = _bulk_in_polys(a, bc[:, 0], bc[:, 1])
        todo = ~inside
        if todo.any() and len(sa):
            d = _pt_seg_dist(
                bc[todo, 0][:, None], bc[todo, 1][:, None],
                sa[:, 0][None, :], sa[:, 1][None, :],
                sa[:, 2][None, :], sa[:, 3][None, :],
            )
            inside[np.flatnonzero(todo)[d.min(axis=1) == 0.0]] = True
        if not inside.all():
            return False
        # a concave a can hold all of b's vertices while an edge of b
        # exits and re-enters — a *proper* boundary crossing disqualifies
        # containment. Touching (shared vertices/edges) stays allowed:
        # closed-set ST_Covers semantics. Remaining approximation: a b
        # edge threading exactly through a vertex of a is counted as
        # touching, not crossing.
        if _segs_cross_properly(sa, b.segments()):
            return False
        return True
    if a.lines:
        # line container: every vertex of b on a's segments, plus b's
        # segment MIDPOINTS (a chord between two points on different
        # parts of a polyline is not contained — the vertex test alone
        # called any line-in-line containment false before). Both
        # tests are one vectorized points-by-segments distance pass.
        sa = a.segments()
        if not len(sa):
            return False
        sb = b.segments()
        px = bc[:, 0] if not len(sb) else np.concatenate(
            [bc[:, 0], (sb[:, 0] + sb[:, 2]) / 2])
        py = bc[:, 1] if not len(sb) else np.concatenate(
            [bc[:, 1], (sb[:, 1] + sb[:, 3]) / 2])
        d = _pt_seg_dist(
            px[:, None], py[:, None],
            sa[:, 0][None, :], sa[:, 1][None, :],
            sa[:, 2][None, :], sa[:, 3][None, :],
        )
        return bool((d.min(axis=1) == 0.0).all())
    if a.pts is not None and b.pts is not None and len(b.pts):
        return all(
            any(float(q[0]) == float(p[0]) and float(q[1]) == float(p[1]) for q in a.pts)
            for p in b.pts
        )
    if a.geoms:
        # collection container (approximation, documented): b is
        # contained when SOME child contains it whole — a b straddling
        # two touching children reports false negative; previously any
        # collection container was unconditionally false
        return any(geom_contains(c, b) for c in a.geoms)
    return False


def _bulk_in_polys(g: Geom, x: np.ndarray, y: np.ndarray) -> np.ndarray:
    """Vectorized polygon-interior test over ARRAYS of points: shell
    minus holes per polygon, OR across polygons, recursing into
    collection-nested polygons — the bulk twin of _point_in_polys."""
    from beacon_spark.functions.geo import _points_in_ring

    res = np.zeros(len(x), dtype=bool)
    for rings in g.polys or []:
        if not rings:
            continue
        shell = _points_in_ring(_close(rings[0]), x, y)
        for h in rings[1:]:
            shell &= ~_points_in_ring(_close(h), x, y)
        res |= shell
    for c in g.geoms or []:
        res |= _bulk_in_polys(c, x, y)
    return res


def bulk_point_predicate(g: Geom, x: np.ndarray, y: np.ndarray) -> np.ndarray:
    """Closed-set point-in-geometry over ARRAYS of points: interior of
    any polygon, ON any boundary/line segment, or equal to any point
    part. For a single-point operand this is exactly what
    geom_contains(g, point) / geom_intersects(point, g) compute — the
    bulk kernel the ST_* fast path rides so a billion-row geo filter
    does numpy passes per Arrow batch instead of a Python loop per row.
    Point blocks are sized so the (points × vertices) matrices stay
    ~32 MB regardless of polygon complexity."""
    n = len(x)
    out = np.zeros(n, dtype=bool)
    if g.empty or n == 0:
        return out
    xmin, ymin, xmax, ymax = g.bounds()
    if math.isnan(xmin):
        return out
    cand = (x >= xmin) & (x <= xmax) & (y >= ymin) & (y <= ymax)
    if not cand.any():
        return out
    cx, cy = x[cand], y[cand]
    segs = g.segments()
    pts = _point_coords(g)
    nvert = max(len(g.all_coords()) + len(segs) + len(pts), 1)
    blk = max(1024, 4_000_000 // nvert)
    res = np.zeros(len(cx), dtype=bool)
    for i in range(0, len(cx), blk):
        bx, by = cx[i: i + blk], cy[i: i + blk]
        r = _bulk_in_polys(g, bx, by)
        todo = ~r
        if len(segs) and todo.any():
            d = _pt_seg_dist(
                bx[todo][:, None], by[todo][:, None],
                segs[:, 0][None, :], segs[:, 1][None, :],
                segs[:, 2][None, :], segs[:, 3][None, :],
            )
            r[np.flatnonzero(todo)[d.min(axis=1) == 0.0]] = True
            todo = ~r
        if len(pts) and todo.any():
            eq = (
                (bx[todo][:, None] == pts[None, :, 0])
                & (by[todo][:, None] == pts[None, :, 1])
            ).any(axis=1)
            r[np.flatnonzero(todo)[eq]] = True
        res[i: i + blk] = r
    out[cand] = res
    return out


def _pt_seg_dist(px, py, sx1, sy1, sx2, sy2):
    dx, dy = sx2 - sx1, sy2 - sy1
    ll = dx * dx + dy * dy
    t = np.where(ll > 0, ((px - sx1) * dx + (py - sy1) * dy) / np.where(ll > 0, ll, 1), 0.0)
    t = np.clip(t, 0.0, 1.0)
    cx, cy = sx1 + t * dx, sy1 + t * dy
    return np.hypot(px - cx, py - cy)


def geom_distance(a: Geom, b: Geom) -> float:
    if geom_intersects(a, b):
        return 0.0
    best = math.inf
    pa, pb = a.all_coords(), b.all_coords()
    sa, sb = a.segments(), b.segments()
    if len(pa) and len(sb):
        d = _pt_seg_dist(
            pa[:, 0][:, None], pa[:, 1][:, None],
            sb[:, 0][None, :], sb[:, 1][None, :],
            sb[:, 2][None, :], sb[:, 3][None, :],
        )
        best = min(best, float(d.min()))
    if len(pb) and len(sa):
        d = _pt_seg_dist(
            pb[:, 0][:, None], pb[:, 1][:, None],
            sa[:, 0][None, :], sa[:, 1][None, :],
            sa[:, 2][None, :], sa[:, 3][None, :],
        )
        best = min(best, float(d.min()))
    if not len(sa) and not len(sb) and len(pa) and len(pb):
        d = np.hypot(
            pa[:, 0][:, None] - pb[:, 0][None, :],
            pa[:, 1][:, None] - pb[:, 1][None, :],
        )
        best = float(d.min())
    elif (not len(sa) and len(pa) == 0) or (not len(sb) and len(pb) == 0):
        return math.nan
    return best if best < math.inf else math.nan


_EARTH_R = 6371008.8  # mean Earth radius, metres (IUGG)


def haversine_m(lon1, lat1, lon2, lat2):
    p1, p2 = np.radians(lat1), np.radians(lat2)
    dp = p2 - p1
    dl = np.radians(lon2) - np.radians(lon1)
    h = np.sin(dp / 2) ** 2 + np.cos(p1) * np.cos(p2) * np.sin(dl / 2) ** 2
    return 2 * _EARTH_R * np.arcsin(np.sqrt(h))


# ------------------------------------------------------------------ output


def geom_to_geojson(g: Geom) -> str:
    def rings_of(p):
        return [[list(map(float, pt)) for pt in _close(r)] for r in p]

    if g.kind == "POINT":
        coords = list(map(float, g.pts[0])) if len(g.pts) else []
        return json.dumps({"type": "Point", "coordinates": coords})
    if g.kind == "MULTIPOINT":
        return json.dumps(
            {"type": "MultiPoint", "coordinates": [list(map(float, p)) for p in g.pts]}
        )
    if g.kind == "LINESTRING":
        return json.dumps(
            {"type": "LineString",
             "coordinates": [list(map(float, p)) for p in g.lines[0]] if g.lines else []}
        )
    if g.kind == "MULTILINESTRING":
        return json.dumps(
            {"type": "MultiLineString",
             "coordinates": [[list(map(float, p)) for p in ln] for ln in g.lines]}
        )
    if g.kind == "POLYGON":
        return json.dumps(
            {"type": "Polygon",
             "coordinates": rings_of(g.polys[0]) if g.polys else []}
        )
    if g.kind == "MULTIPOLYGON":
        return json.dumps(
            {"type": "MultiPolygon", "coordinates": [rings_of(p) for p in g.polys]}
        )
    if g.kind == "GEOMETRYCOLLECTION":
        return json.dumps(
            {"type": "GeometryCollection",
             "geometries": [json.loads(geom_to_geojson(c)) for c in g.geoms]}
        )
    raise ValueError(g.kind)


_WKB_CODES = {
    "POINT": 1, "LINESTRING": 2, "POLYGON": 3,
    "MULTIPOINT": 4, "MULTILINESTRING": 5, "MULTIPOLYGON": 6,
    "GEOMETRYCOLLECTION": 7,
}


def wkt_to_wkb(wkt: str) -> bytes:
    """WKT → little-endian ISO WKB (2-D)."""
    g = _parsed(wkt)

    def emit(g: Geom) -> bytes:
        out = struct.pack("<BI", 1, _WKB_CODES[g.kind])
        if g.kind == "POINT":
            p = g.pts[0] if len(g.pts) else (math.nan, math.nan)
            return out + struct.pack("<2d", float(p[0]), float(p[1]))
        if g.kind == "LINESTRING":
            ln = g.lines[0] if g.lines else np.zeros((0, 2))
            out += struct.pack("<I", len(ln))
            for p in ln:
                out += struct.pack("<2d", float(p[0]), float(p[1]))
            return out
        if g.kind == "POLYGON":
            rings = [_close(r) for r in (g.polys[0] if g.polys else [])]
            out += struct.pack("<I", len(rings))
            for r in rings:
                out += struct.pack("<I", len(r))
                for p in r:
                    out += struct.pack("<2d", float(p[0]), float(p[1]))
            return out
        if g.kind == "MULTIPOINT":
            out += struct.pack("<I", len(g.pts))
            for p in g.pts:
                child = Geom("POINT")
                child.pts = np.array([p])
                out += emit(child)
            return out
        if g.kind == "MULTILINESTRING":
            out += struct.pack("<I", len(g.lines))
            for ln in g.lines:
                child = Geom("LINESTRING")
                child.lines = [ln]
                out += emit(child)
            return out
        if g.kind == "MULTIPOLYGON":
            out += struct.pack("<I", len(g.polys))
            for p in g.polys:
                child = Geom("POLYGON")
                child.polys = [p]
                out += emit(child)
            return out
        out += struct.pack("<I", len(g.geoms))
        for c in g.geoms:
            out += emit(c)
        return out

    return emit(g)


def convex_hull(pts: np.ndarray) -> np.ndarray:
    """Andrew's monotone chain; returns hull vertices CCW (not closed)."""
    pts = np.unique(pts, axis=0)
    if len(pts) <= 2:
        return pts
    pts = pts[np.lexsort((pts[:, 1], pts[:, 0]))]

    def half(points):
        out: list[np.ndarray] = []
        for p in points:
            while (
                len(out) >= 2
                and float(np.cross(out[-1] - out[-2], p - out[-2])) <= 0
            ):
                out.pop()
            out.append(p)
        return out

    lower = half(list(pts))
    upper = half(list(pts[::-1]))
    return np.array(lower[:-1] + upper[:-1])


def douglas_peucker(pts: np.ndarray, tol: float) -> np.ndarray:
    """Line simplification: keep points farther than ``tol`` from the
    chord, recursively."""
    if len(pts) < 3:
        return pts
    a, b = pts[0], pts[-1]
    ab = b - a
    ll = float(ab @ ab)
    if ll == 0:
        d = np.linalg.norm(pts - a, axis=1)
    else:
        t = np.clip(((pts - a) @ ab) / ll, 0, 1)
        proj = a + t[:, None] * ab
        d = np.linalg.norm(pts - proj, axis=1)
    i = int(d.argmax())
    if d[i] <= tol:
        return np.array([a, b])
    left = douglas_peucker(pts[: i + 1], tol)
    right = douglas_peucker(pts[i:], tol)
    return np.vstack([left[:-1], right])


# ------------------------------------------------------------------ UDF tier


def _u1(fn, rettype):
    """Unary WKT pandas UDF with null passthrough."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf(rettype)
    def _udf(s: pd.Series) -> pd.Series:
        return s.map(lambda v: None if v is None else fn(v))

    return _udf


def _u2(fn, rettype):
    from pyspark.sql.functions import pandas_udf

    @pandas_udf(rettype)
    def _udf(a: pd.Series, b: pd.Series) -> pd.Series:
        out = [
            None if (x is None or y is None) else fn(x, y)
            for x, y in zip(a, b)
        ]
        return pd.Series(out, dtype=object)

    return _udf


_POINT_RX = re.compile(
    rf"^\s*POINT\s*\(\s*({_NUM})\s+({_NUM})\s*\)\s*$", re.I)


def _extract_point_coords(s: pd.Series):
    """(x, y, notnull) when EVERY non-null entry is a plain 2-D POINT;
    None otherwise (the caller falls back to the scalar path). The
    extraction is pandas C-speed — no Python per row."""
    notnull = s.notna().to_numpy()
    if not notnull.any():
        return None
    try:
        ext = s.str.extract(_POINT_RX)
    except AttributeError:
        return None  # non-string column
    x = pd.to_numeric(ext[0], errors="coerce").to_numpy(np.float64)
    y = pd.to_numeric(ext[1], errors="coerce").to_numpy(np.float64)
    ok = ~(np.isnan(x) | np.isnan(y))
    if not ok[notnull].all():
        return None
    return x, y, notnull


def _u2_geom_point(pred, geom_side):
    """Binary geometry predicate with a BULK fast path: when the
    container/geometry side is one constant WKT (the plan shape every
    region filter produces) and the other side is a column of plain
    POINTs, the whole Arrow batch runs through bulk_point_predicate —
    numpy crossing/segment/equality passes over vertex arrays instead
    of a Python call per row. ``geom_side``: 0 = a is the geometry,
    1 = b is, None = symmetric (intersects — try both)."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf(T.BooleanType())
    def _udf(a: pd.Series, b: pd.Series) -> pd.Series:
        if len(a):
            sides = ((a, b), (b, a)) if geom_side is None else (
                ((a, b),) if geom_side == 0 else ((b, a),))
            for gs, ps in sides:
                if gs.nunique(dropna=False) != 1 or gs.iloc[0] is None:
                    continue
                pt = _extract_point_coords(ps)
                if pt is None:
                    continue
                x, y, notnull = pt
                try:
                    g = _parsed(gs.iloc[0])
                except ValueError:
                    break  # scalar path raises the same error per row
                res = bulk_point_predicate(
                    g, np.where(notnull, x, 0.0), np.where(notnull, y, 0.0))
                out = pd.Series(list(res), dtype=object)
                out[~notnull] = None
                return out
        out = [
            None if (x is None or y is None) else pred(x, y)
            for x, y in zip(a, b)
        ]
        return pd.Series(out, dtype=object)

    return _udf


_D = T.DoubleType()
_S = T.StringType()
_B = T.BooleanType()
_I = T.IntegerType()


def _fmt(v: float) -> str:
    from beacon_spark.functions.geo import fmt_coord

    return fmt_coord(v)


def register_st_functions(spark) -> None:
    """Register the ST_* suite: SQL-UDF tier first (pure Catalyst), then
    the pandas tier. Idempotent per session."""
    # --- SQL tier: inlined expressions, codegen-friendly -------------
    # regex literals inside SQL strings need doubled backslashes (Spark
    # processes backslash escapes in string literals by default)
    num_sql = _NUM.replace("\\", "\\\\")
    # anchored: 'MULTIPOINT (3 4)' contains the substring 'POINT (3' —
    # unanchored, st_x returned 3.0 for a multipoint instead of NULL
    px = f"^\\\\s*POINT\\\\s*\\\\(\\\\s*({num_sql})"
    py = f"^\\\\s*POINT\\\\s*\\\\(\\\\s*{num_sql}\\\\s+({num_sql})"
    type_case = (
        "CASE upper(regexp_extract(g, '^\\\\s*([A-Za-z]+)', 1)) "
        "WHEN 'POINT' THEN 'ST_Point' WHEN 'LINESTRING' THEN 'ST_LineString' "
        "WHEN 'POLYGON' THEN 'ST_Polygon' WHEN 'MULTIPOINT' THEN 'ST_MultiPoint' "
        "WHEN 'MULTILINESTRING' THEN 'ST_MultiLineString' "
        "WHEN 'MULTIPOLYGON' THEN 'ST_MultiPolygon' "
        "WHEN 'GEOMETRYCOLLECTION' THEN 'ST_GeometryCollection' ELSE NULL END"
    )
    sqls = [
        # point constructor; CAST keeps Spark/DuckDB string forms aligned
        """CREATE OR REPLACE TEMPORARY FUNCTION st_point(x DOUBLE, y DOUBLE)
           RETURNS STRING RETURN concat('POINT (', CAST(x AS STRING), ' ', CAST(y AS STRING), ')')""",
        """CREATE OR REPLACE TEMPORARY FUNCTION st_makepoint(x DOUBLE, y DOUBLE)
           RETURNS STRING RETURN concat('POINT (', CAST(x AS STRING), ' ', CAST(y AS STRING), ')')""",
        # try_cast: a non-POINT input extracts '' and ANSI CAST would
        # THROW the whole query; NULL is the PostGIS-adjacent answer
        f"""CREATE OR REPLACE TEMPORARY FUNCTION st_x(g STRING) RETURNS DOUBLE
           RETURN try_cast(regexp_extract(g, '{px}', 1) AS DOUBLE)""",
        f"""CREATE OR REPLACE TEMPORARY FUNCTION st_y(g STRING) RETURNS DOUBLE
           RETURN try_cast(regexp_extract(g, '{py}', 1) AS DOUBLE)""",
        f"""CREATE OR REPLACE TEMPORARY FUNCTION st_geometrytype(g STRING)
           RETURNS STRING RETURN {type_case}""",
        """CREATE OR REPLACE TEMPORARY FUNCTION st_isempty(g STRING)
           RETURNS BOOLEAN RETURN upper(g) RLIKE 'EMPTY\\\\s*$'""",
        # planar point-point distance without parsing overhead
        f"""CREATE OR REPLACE TEMPORARY FUNCTION st_point_distance(a STRING, b STRING)
           RETURNS DOUBLE RETURN sqrt(
             power(try_cast(regexp_extract(a, '{px}', 1) AS DOUBLE)
                   - try_cast(regexp_extract(b, '{px}', 1) AS DOUBLE), 2)
             + power(try_cast(regexp_extract(a, '{py}', 1) AS DOUBLE)
                     - try_cast(regexp_extract(b, '{py}', 1) AS DOUBLE), 2))""",
    ]
    for s in sqls:
        spark.sql(s)

    # --- pandas tier --------------------------------------------------
    reg = spark.udf.register
    reg("st_area", _u1(lambda w: geom_area(_parsed(w)), _D))
    reg("st_length", _u1(lambda w: geom_length(_parsed(w)), _D))
    reg("st_perimeter", _u1(lambda w: geom_length(_parsed(w)), _D))
    reg("st_npoints", _u1(lambda w: int(len(_parsed(w).all_coords())), _I))
    reg("st_xmin", _u1(lambda w: float(_parsed(w).bounds()[0]), _D))
    reg("st_ymin", _u1(lambda w: float(_parsed(w).bounds()[1]), _D))
    reg("st_xmax", _u1(lambda w: float(_parsed(w).bounds()[2]), _D))
    reg("st_ymax", _u1(lambda w: float(_parsed(w).bounds()[3]), _D))

    def _envelope(w):
        xmin, ymin, xmax, ymax = _parsed(w).bounds()
        if math.isnan(xmin):
            return "POLYGON EMPTY"
        return (
            f"POLYGON (({_fmt(xmin)} {_fmt(ymin)}, {_fmt(xmax)} {_fmt(ymin)}, "
            f"{_fmt(xmax)} {_fmt(ymax)}, {_fmt(xmin)} {_fmt(ymax)}, "
            f"{_fmt(xmin)} {_fmt(ymin)}))"
        )

    reg("st_envelope", _u1(_envelope, _S))

    def _centroid(w):
        cx, cy = geom_centroid(_parsed(w))
        if math.isnan(cx):
            return "POINT EMPTY"
        return f"POINT ({_fmt(cx)} {_fmt(cy)})"

    reg("st_centroid", _u1(_centroid, _S))
    reg("st_astext", _u1(lambda w: w.strip(), _S))
    reg("st_asgeojson", _u1(lambda w: geom_to_geojson(_parsed(w)), _S))
    reg("st_geomfromtext", _u1(lambda w: w.strip(), _S))
    reg("st_geomfromgeojson", _u1(lambda j: geojson_to_wkt(j), _S))
    reg("st_asbinary", _u1(lambda w: wkt_to_wkb(w), T.BinaryType()))
    reg("st_geomfromwkb", _u1(lambda b: wkb_to_wkt(bytes(b)), _S))

    def _hull(w):
        pts = _parsed(w).all_coords()
        h = convex_hull(pts)
        if len(h) == 0:
            return "POLYGON EMPTY"
        if len(h) == 1:
            return f"POINT ({_fmt(h[0][0])} {_fmt(h[0][1])})"
        if len(h) == 2:
            return (
                f"LINESTRING ({_fmt(h[0][0])} {_fmt(h[0][1])}, "
                f"{_fmt(h[1][0])} {_fmt(h[1][1])})"
            )
        ring = ", ".join(f"{_fmt(x)} {_fmt(y)}" for x, y in h)
        first = f"{_fmt(h[0][0])} {_fmt(h[0][1])}"
        return f"POLYGON (({ring}, {first}))"

    reg("st_convexhull", _u1(_hull, _S))

    def _simplify(w, tol):
        g = _parsed(w)
        if g.kind == "LINESTRING" and g.lines:
            s = douglas_peucker(g.lines[0], float(tol))
            body = ", ".join(f"{_fmt(x)} {_fmt(y)}" for x, y in s)
            return f"LINESTRING ({body})"
        if g.kind == "POLYGON" and g.polys:
            rings = []
            for r in g.polys[0]:
                rc = _close(r)
                s = douglas_peucker(rc[:-1], float(tol))
                if len(s) < 3:
                    s = rc[:-1]
                body = ", ".join(f"{_fmt(x)} {_fmt(y)}" for x, y in s)
                first = f"{_fmt(s[0][0])} {_fmt(s[0][1])}"
                rings.append(f"({body}, {first})")
            return f"POLYGON ({', '.join(rings)})"
        return w.strip()

    reg("st_simplify", _u2(_simplify, _S))

    def _buffer(w, dist):
        g = _parsed(w)
        if g.kind != "POINT" or not len(g.pts):
            raise ValueError(
                "st_buffer supports POINT inputs (32-gon circle); general "
                "geometry buffering needs a full offset-curve engine"
            )
        cx, cy = g.pts[0]
        ang = np.linspace(0, 2 * np.pi, 33)[:-1]
        ring = ", ".join(
            f"{_fmt(cx + float(dist) * np.cos(a))} {_fmt(cy + float(dist) * np.sin(a))}"
            for a in ang
        )
        first = f"{_fmt(cx + float(dist))} {_fmt(cy)}"
        return f"POLYGON (({ring}, {first}))"

    reg("st_buffer", _u2(_buffer, _S))

    reg("st_distance", _u2(lambda a, b: geom_distance(_parsed(a), _parsed(b)), _D))
    reg("st_intersects", _u2_geom_point(
        lambda a, b: geom_intersects(_parsed(a), _parsed(b)), None))
    reg("st_contains", _u2_geom_point(
        lambda a, b: geom_contains(_parsed(a), _parsed(b)), 0))
    reg("st_within", _u2_geom_point(
        lambda a, b: geom_contains(_parsed(b), _parsed(a)), 1))

    def _dsphere(a, b):
        ga, gb = _parsed(a), _parsed(b)
        if ga.kind != "POINT" or gb.kind != "POINT":
            raise ValueError("st_distancesphere expects POINT inputs")
        return float(
            haversine_m(ga.pts[0][0], ga.pts[0][1], gb.pts[0][0], gb.pts[0][1])
        )

    reg("st_distancesphere", _u2(_dsphere, _D))

    from pyspark.sql.functions import pandas_udf

    @pandas_udf(_B)
    def _dwithin(a: pd.Series, b: pd.Series, d: pd.Series) -> pd.Series:
        return pd.Series(
            [
                None
                if (x is None or y is None or dd is None)
                else geom_distance(_parsed(x), _parsed(y)) <= float(dd)
                for x, y, dd in zip(a, b, d)
            ]
        )

    reg("st_dwithin", _dwithin)

    @pandas_udf(_S)
    def _translate(g: pd.Series, dx: pd.Series, dy: pd.Series) -> pd.Series:
        def tr(w, ddx, ddy):
            return _COORD_RE.sub(
                lambda m: (
                    f"{_fmt(float(m.group(1)) + ddx)} "
                    f"{_fmt(float(m.group(2)) + ddy)}"
                ),
                w,
            )

        return pd.Series(
            [
                None if (w is None or x is None or y is None) else tr(w, float(x), float(y))
                for w, x, y in zip(g, dx, dy)
            ]
        )

    reg("st_translate", _translate)

    @pandas_udf(_S)
    def _flip(g: pd.Series) -> pd.Series:
        def fl(w):
            return _COORD_RE.sub(lambda m: f"{m.group(2)} {m.group(1)}", w)

        return pd.Series([None if w is None else fl(w) for w in g])

    reg("st_flipcoordinates", _flip)
