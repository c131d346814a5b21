"""Computational-geometry algorithms over the pure-Python geometry model.

These re-implement (from public knowledge: standard computational geometry +
the JTS algorithm descriptions) the semantics the reference gets from JTS via
Sedona — measures, DE-9IM-style predicates, transforms, and the centroid
monoid used by the reference's ``ST_CENTROID_AGGR``
(``UDAF/AggregateFunctions.scala:12-128``).

Scope note: exact general DE-9IM over arbitrary geometry pairs is a large
project; this module is exact for the combinations the engine's declared
correctness contract exercises (points, segments, axis-aligned boxes, convex
and simple polygons — see FIXTURES.md) and pragmatic elsewhere.
"""

from __future__ import annotations

import math
from typing import List, Optional, Sequence, Tuple

from .model import (
    Coord,
    Geometry,
    WKB_GEOMETRYCOLLECTION,
    WKB_LINESTRING,
    WKB_MULTILINESTRING,
    WKB_MULTIPOINT,
    WKB_MULTIPOLYGON,
    WKB_POINT,
    WKB_POLYGON,
)

EPS = 1e-12

# ---------------------------------------------------------------------------
# primitives
# ---------------------------------------------------------------------------

def _cross(o: Coord, a: Coord, b: Coord) -> float:
    return (a[0] - o[0]) * (b[1] - o[1]) - (a[1] - o[1]) * (b[0] - o[0])


def _orient(o: Coord, a: Coord, b: Coord) -> int:
    c = _cross(o, a, b)
    if c > EPS:
        return 1
    if c < -EPS:
        return -1
    return 0


def _on_segment(p: Coord, a: Coord, b: Coord) -> bool:
    """p collinear-with and within segment ab (inclusive endpoints)."""
    if _orient(a, b, p) != 0:
        return False
    return (
        min(a[0], b[0]) - EPS <= p[0] <= max(a[0], b[0]) + EPS
        and min(a[1], b[1]) - EPS <= p[1] <= max(a[1], b[1]) + EPS
    )


def _seg_intersect(a: Coord, b: Coord, c: Coord, d: Coord) -> bool:
    """Segments ab and cd share at least one point."""
    o1, o2 = _orient(a, b, c), _orient(a, b, d)
    o3, o4 = _orient(c, d, a), _orient(c, d, b)
    # A proper crossing needs strictly opposite sides on both lines.  An
    # orientation of 0 only says |cross| <= EPS, which two short segments
    # near a common point can reach without touching, so those cases go
    # through the bounding-box check in _on_segment.
    if o1 * o2 < 0 and o3 * o4 < 0:
        return True
    return (
        (o1 == 0 and _on_segment(c, a, b))
        or (o2 == 0 and _on_segment(d, a, b))
        or (o3 == 0 and _on_segment(a, c, d))
        or (o4 == 0 and _on_segment(b, c, d))
    )


def _seg_proper_cross(a: Coord, b: Coord, c: Coord, d: Coord) -> bool:
    """Segments cross at a single interior point of both."""
    o1, o2 = _orient(a, b, c), _orient(a, b, d)
    o3, o4 = _orient(c, d, a), _orient(c, d, b)
    return o1 * o2 < 0 and o3 * o4 < 0


def _collinear_overlap(a: Coord, b: Coord, c: Coord, d: Coord) -> bool:
    """Segments are collinear and overlap over positive length."""
    if _orient(a, b, c) != 0 or _orient(a, b, d) != 0:
        return False
    # project on dominant axis
    if abs(b[0] - a[0]) >= abs(b[1] - a[1]):
        lo1, hi1 = sorted((a[0], b[0]))
        lo2, hi2 = sorted((c[0], d[0]))
    else:
        lo1, hi1 = sorted((a[1], b[1]))
        lo2, hi2 = sorted((c[1], d[1]))
    return min(hi1, hi2) - max(lo1, lo2) > EPS


def _pt_in_ring(p: Coord, ring: Sequence[Coord]) -> int:
    """0 outside, 1 on boundary, 2 inside (ray-crossing, boundary-exact)."""
    x, y = p
    inside = False
    n = len(ring)
    for i in range(n - 1):
        a, b = ring[i], ring[i + 1]
        if _on_segment(p, a, b):
            return 1
        ay, by = a[1], b[1]
        if (ay > y) != (by > y):
            xi = a[0] + (y - ay) * (b[0] - a[0]) / (by - ay)
            if xi > x:
                inside = not inside
    return 2 if inside else 0


def locate_in_polygon(p: Coord, rings: Sequence[Sequence[Coord]]) -> int:
    """0 exterior, 1 boundary, 2 interior — polygon with holes."""
    if not rings:
        return 0
    loc = _pt_in_ring(p, rings[0])
    if loc != 2:
        return loc
    for hole in rings[1:]:
        hl = _pt_in_ring(p, hole)
        if hl == 1:
            return 1
        if hl == 2:
            return 0
    return 2


def _dist_pt_pt(a: Coord, b: Coord) -> float:
    return math.hypot(a[0] - b[0], a[1] - b[1])


def _dist_pt_seg(p: Coord, a: Coord, b: Coord) -> float:
    dx, dy = b[0] - a[0], b[1] - a[1]
    L2 = dx * dx + dy * dy
    if L2 <= 0:
        return _dist_pt_pt(p, a)
    t = ((p[0] - a[0]) * dx + (p[1] - a[1]) * dy) / L2
    t = max(0.0, min(1.0, t))
    return math.hypot(p[0] - (a[0] + t * dx), p[1] - (a[1] + t * dy))


def _dist_seg_seg(a: Coord, b: Coord, c: Coord, d: Coord) -> float:
    if _seg_intersect(a, b, c, d):
        return 0.0
    return min(
        _dist_pt_seg(a, c, d), _dist_pt_seg(b, c, d),
        _dist_pt_seg(c, a, b), _dist_pt_seg(d, a, b),
    )


def _ring_signed_area2(ring: Sequence[Coord]) -> float:
    s = 0.0
    for i in range(len(ring) - 1):
        x1, y1 = ring[i]
        x2, y2 = ring[i + 1]
        s += x1 * y2 - x2 * y1
    return s


def _segments(geom: Geometry):
    """Yield all line segments (edges) of the geometry's 1-D/2-D parts."""
    for g in geom.flatten():
        if g.kind == WKB_LINESTRING:
            for i in range(len(g.coords) - 1):
                yield g.coords[i], g.coords[i + 1]
        elif g.kind == WKB_POLYGON:
            for ring in g.coords:
                for i in range(len(ring) - 1):
                    yield ring[i], ring[i + 1]


# ---------------------------------------------------------------------------
# measures
# ---------------------------------------------------------------------------

def area(geom: Geometry) -> float:
    total = 0.0
    for g in geom.flatten():
        if g.kind == WKB_POLYGON and g.coords:
            total += abs(_ring_signed_area2(g.coords[0])) / 2.0
            for hole in g.coords[1:]:
                total -= abs(_ring_signed_area2(hole)) / 2.0
    return total


def length(geom: Geometry) -> float:
    """JTS ``Geometry.getLength`` semantics: line length; polygon perimeter."""
    total = 0.0
    for a, b in _segments(geom):
        total += _dist_pt_pt(a, b)
    return total


def distance(g1: Geometry, g2: Geometry) -> Optional[float]:
    if g1.is_empty() or g2.is_empty():
        return None
    if intersects(g1, g2):
        return 0.0
    best = math.inf
    pts1 = [g.coords for g in g1.flatten() if g.kind == WKB_POINT]
    pts2 = [g.coords for g in g2.flatten() if g.kind == WKB_POINT]
    segs1 = list(_segments(g1))
    segs2 = list(_segments(g2))
    for p in pts1:
        for q in pts2:
            best = min(best, _dist_pt_pt(p, q))
        for a, b in segs2:
            best = min(best, _dist_pt_seg(p, a, b))
    for q in pts2:
        for a, b in segs1:
            best = min(best, _dist_pt_seg(q, a, b))
    for a, b in segs1:
        for c, d in segs2:
            best = min(best, _dist_seg_seg(a, b, c, d))
    return best if best < math.inf else None


# -- centroid monoid (mirrors reference CentroidBuffer, 9 numeric fields,
#    UDAF/AggregateFunctions.scala:12-14,17-128) ------------------------------

CENTROID_FIELDS = (
    "area2", "acx3", "acy3",          # areal: 2*signed area, 3*area-weighted sums
    "length", "lcx", "lcy",           # lineal: length, length-weighted midpoint sums
    "npts", "pcx", "pcy",             # puntal: count, coordinate sums
)


def centroid_buffer_zero() -> List[float]:
    return [0.0] * 9


def centroid_buffer_add(buf: List[float], geom: Geometry) -> List[float]:
    """Accumulate one geometry (empties skipped, per AggregateFunctions.scala:18)."""
    if geom is None or geom.is_empty():
        return buf
    for g in geom.flatten():
        if g.kind == WKB_POINT:
            buf[6] += 1.0
            buf[7] += g.coords[0]
            buf[8] += g.coords[1]
        elif g.kind == WKB_LINESTRING:
            for i in range(len(g.coords) - 1):
                a, b = g.coords[i], g.coords[i + 1]
                L = _dist_pt_pt(a, b)
                buf[3] += L
                buf[4] += L * (a[0] + b[0]) / 2.0
                buf[5] += L * (a[1] + b[1]) / 2.0
        elif g.kind == WKB_POLYGON:
            for ri, ring in enumerate(g.coords):
                s2 = _ring_signed_area2(ring)
                sx = sy = 0.0
                for i in range(len(ring) - 1):
                    x1, y1 = ring[i]
                    x2, y2 = ring[i + 1]
                    cr = x1 * y2 - x2 * y1
                    sx += (x1 + x2) * cr
                    sy += (y1 + y2) * cr
                # normalize: shell positive, holes negative
                sign = 1.0 if ri == 0 else -1.0
                if s2 != 0:
                    flip = sign * (1.0 if s2 > 0 else -1.0)
                    buf[0] += flip * s2
                    buf[1] += flip * sx
                    buf[2] += flip * sy
                # perimeter also feeds the lineal accumulator (JTS Centroid
                # keeps lineal sums as fallback for zero-area polygons)
                for i in range(len(ring) - 1):
                    a, b = ring[i], ring[i + 1]
                    L = _dist_pt_pt(a, b)
                    buf[3] += L
                    buf[4] += L * (a[0] + b[0]) / 2.0
                    buf[5] += L * (a[1] + b[1]) / 2.0
    return buf


def centroid_buffer_merge(b1: List[float], b2: List[float]) -> List[float]:
    return [a + b for a, b in zip(b1, b2)]


def centroid_buffer_finish(buf: List[float]) -> Optional[Geometry]:
    """Priority areal > lineal > puntal (AggregateFunctions.scala:111-126)."""
    if abs(buf[0]) > 0:
        return Geometry.point(buf[1] / (3.0 * buf[0]), buf[2] / (3.0 * buf[0]))
    if buf[3] > 0:
        return Geometry.point(buf[4] / buf[3], buf[5] / buf[3])
    if buf[6] > 0:
        return Geometry.point(buf[7] / buf[6], buf[8] / buf[6])
    return None


def centroid(geom: Geometry) -> Optional[Geometry]:
    if geom is None or geom.is_empty():
        return None
    return centroid_buffer_finish(centroid_buffer_add(centroid_buffer_zero(), geom))


# ---------------------------------------------------------------------------
# predicates
# ---------------------------------------------------------------------------

def _env_disjoint(g1: Geometry, g2: Geometry) -> bool:
    e1, e2 = g1.envelope(), g2.envelope()
    if e1 is None or e2 is None:
        return True
    return e1[2] < e2[0] - EPS or e2[2] < e1[0] - EPS or e1[3] < e2[1] - EPS or e2[3] < e1[1] - EPS


def _atomic_intersects(a: Geometry, b: Geometry) -> bool:
    ka, kb = a.kind, b.kind
    if ka > kb:
        a, b, ka, kb = b, a, kb, ka
    if ka == WKB_POINT:
        p = a.coords
        if kb == WKB_POINT:
            return _dist_pt_pt(p, b.coords) <= EPS
        if kb == WKB_LINESTRING:
            return any(_on_segment(p, b.coords[i], b.coords[i + 1]) for i in range(len(b.coords) - 1))
        return locate_in_polygon(p, b.coords) > 0
    if ka == WKB_LINESTRING:
        if kb == WKB_LINESTRING:
            return any(
                _seg_intersect(a.coords[i], a.coords[i + 1], b.coords[j], b.coords[j + 1])
                for i in range(len(a.coords) - 1) for j in range(len(b.coords) - 1)
            )
        # line vs polygon
        if any(locate_in_polygon(p, b.coords) > 0 for p in a.coords):
            return True
        for i in range(len(a.coords) - 1):
            for ring in b.coords:
                for j in range(len(ring) - 1):
                    if _seg_intersect(a.coords[i], a.coords[i + 1], ring[j], ring[j + 1]):
                        return True
        return False
    # polygon vs polygon
    for ring in a.coords:
        for p in ring:
            if locate_in_polygon(p, b.coords) > 0:
                return True
    for ring in b.coords:
        for p in ring:
            if locate_in_polygon(p, a.coords) > 0:
                return True
    for ra in a.coords:
        for i in range(len(ra) - 1):
            for rb in b.coords:
                for j in range(len(rb) - 1):
                    if _seg_intersect(ra[i], ra[i + 1], rb[j], rb[j + 1]):
                        return True
    return False


def intersects(g1: Geometry, g2: Geometry) -> bool:
    if g1.is_empty() or g2.is_empty():
        return False
    if _env_disjoint(g1, g2):
        return False
    return any(
        _atomic_intersects(a, b) for a in g1.flatten() for b in g2.flatten()
    )


def disjoint(g1: Geometry, g2: Geometry) -> bool:
    return not intersects(g1, g2)


def _atomic_covered_by(b: Geometry, a: Geometry) -> bool:
    """Every point of atomic ``b`` lies in (closure of) atomic ``a``."""
    ka, kb = a.kind, b.kind
    if kb == WKB_POINT:
        return _atomic_intersects(b, a)
    if kb == WKB_LINESTRING:
        if ka == WKB_POINT:
            return all(_dist_pt_pt(p, a.coords) <= EPS for p in b.coords)
        if ka == WKB_LINESTRING:
            # each segment of b must lie within segments of a: endpoint+midpoint test
            for i in range(len(b.coords) - 1):
                p, q = b.coords[i], b.coords[i + 1]
                m = ((p[0] + q[0]) / 2, (p[1] + q[1]) / 2)
                for t in (p, q, m):
                    if not any(_on_segment(t, a.coords[j], a.coords[j + 1])
                               for j in range(len(a.coords) - 1)):
                        return False
            return True
        # line within polygon: endpoints+midpoints inside, no proper exit crossings
        for i in range(len(b.coords) - 1):
            p, q = b.coords[i], b.coords[i + 1]
            m = ((p[0] + q[0]) / 2, (p[1] + q[1]) / 2)
            for t in (p, q, m):
                if locate_in_polygon(t, a.coords) == 0:
                    return False
            for ring in a.coords:
                for j in range(len(ring) - 1):
                    if _seg_proper_cross(p, q, ring[j], ring[j + 1]):
                        return False
        return True
    # b is polygon
    if ka != WKB_POLYGON:
        return False  # a polygon can only be covered by another polygon
    for ring in b.coords:
        for i in range(len(ring) - 1):
            p, q = ring[i], ring[i + 1]
            m = ((p[0] + q[0]) / 2, (p[1] + q[1]) / 2)
            for t in (p, q, m):
                if locate_in_polygon(t, a.coords) == 0:
                    return False
            for ra in a.coords:
                for j in range(len(ra) - 1):
                    if _seg_proper_cross(p, q, ra[j], ra[j + 1]):
                        return False
    # a's holes must not poke into b's interior
    for hole in a.coords[1:]:
        hp = _ring_interior_point(hole)
        if hp is not None and locate_in_polygon(hp, b.coords) == 2 and \
                locate_in_polygon(hp, a.coords) == 0:
            return False
    return True


def covers(g1: Geometry, g2: Geometry) -> bool:
    """Every point of g2 lies in g1 (boundary contact allowed)."""
    if g1.is_empty() or g2.is_empty():
        return False
    for b in g2.flatten():
        if not any(_atomic_covered_by(b, a) for a in g1.flatten()):
            return False
    return True


def covered_by(g1: Geometry, g2: Geometry) -> bool:
    return covers(g2, g1)


def _interior_point(g: Geometry) -> Optional[Coord]:
    """Some point in the interior of an atomic geometry."""
    if g.kind == WKB_POINT:
        return g.coords
    if g.kind == WKB_LINESTRING:
        if len(g.coords) >= 2:
            p, q = g.coords[0], g.coords[1]
            return ((p[0] + q[0]) / 2, (p[1] + q[1]) / 2)
        return None
    return _poly_interior_point(g.coords)


def _ring_interior_point(ring: Sequence[Coord]) -> Optional[Coord]:
    return _poly_interior_point([list(ring)])


def _poly_interior_point(rings) -> Optional[Coord]:
    if not rings or len(rings[0]) < 4:
        return None
    c = centroid(Geometry(WKB_POLYGON, [list(r) for r in rings]))
    if c is not None and locate_in_polygon(c.coords, rings) == 2:
        return c.coords
    # fallback: midpoints of diagonals from vertex triples
    ring = rings[0]
    for i in range(len(ring) - 2):
        m = ((ring[i][0] + ring[i + 2][0]) / 2, (ring[i][1] + ring[i + 2][1]) / 2)
        if locate_in_polygon(m, rings) == 2:
            return m
    return None


def _interior_intersects(g1: Geometry, g2: Geometry) -> bool:
    """Interiors share at least one point (pragmatic)."""
    for a in g1.flatten():
        for b in g2.flatten():
            if a.kind == WKB_POINT:
                if _pt_in_interior(a.coords, b):
                    return True
            elif b.kind == WKB_POINT:
                if _pt_in_interior(b.coords, a):
                    return True
            elif a.kind == WKB_LINESTRING and b.kind == WKB_LINESTRING:
                for i in range(len(a.coords) - 1):
                    for j in range(len(b.coords) - 1):
                        if _seg_proper_cross(a.coords[i], a.coords[i + 1],
                                             b.coords[j], b.coords[j + 1]):
                            return True
                        if _collinear_overlap(a.coords[i], a.coords[i + 1],
                                              b.coords[j], b.coords[j + 1]):
                            return True
            elif WKB_POLYGON in (a.kind, b.kind):
                poly, other = (a, b) if a.kind == WKB_POLYGON else (b, a)
                # any sample point of `other` strictly inside poly?
                samples: List[Coord] = []
                if other.kind == WKB_LINESTRING:
                    samples.extend(other.coords)
                    for i in range(len(other.coords) - 1):
                        p, q = other.coords[i], other.coords[i + 1]
                        samples.append(((p[0] + q[0]) / 2, (p[1] + q[1]) / 2))
                else:
                    for ring in other.coords:
                        samples.extend(ring)
                        for i in range(len(ring) - 1):
                            p, q = ring[i], ring[i + 1]
                            samples.append(((p[0] + q[0]) / 2, (p[1] + q[1]) / 2))
                    ip = _interior_point(other)
                    if ip is not None:
                        samples.append(ip)
                if any(locate_in_polygon(s, poly.coords) == 2 for s in samples):
                    return True
                # proper edge crossings imply interior overlap
                for sa, sb in _segments(other):
                    for ring in poly.coords:
                        for j in range(len(ring) - 1):
                            if _seg_proper_cross(sa, sb, ring[j], ring[j + 1]):
                                return True
                if other.kind == WKB_POLYGON:
                    ip = _interior_point(poly)
                    if ip is not None and locate_in_polygon(ip, other.coords) == 2:
                        return True
    return False


def _pt_in_interior(p: Coord, g: Geometry) -> bool:
    if g.kind == WKB_POINT:
        return _dist_pt_pt(p, g.coords) <= EPS
    if g.kind == WKB_LINESTRING:
        if _dist_pt_pt(p, g.coords[0]) <= EPS or _dist_pt_pt(p, g.coords[-1]) <= EPS:
            closed = _dist_pt_pt(g.coords[0], g.coords[-1]) <= EPS
            if not closed:
                return False
        return any(_on_segment(p, g.coords[i], g.coords[i + 1])
                   for i in range(len(g.coords) - 1))
    return locate_in_polygon(p, g.coords) == 2


def contains(g1: Geometry, g2: Geometry) -> bool:
    """OGC contains: covers AND some interior-interior contact."""
    if not covers(g1, g2):
        return False
    return _interior_intersects(g1, g2)


def within(g1: Geometry, g2: Geometry) -> bool:
    return contains(g2, g1)


def touches(g1: Geometry, g2: Geometry) -> bool:
    if g1.is_empty() or g2.is_empty():
        return False
    return intersects(g1, g2) and not _interior_intersects(g1, g2)


def crosses(g1: Geometry, g2: Geometry) -> bool:
    d1, d2 = g1.dimension(), g2.dimension()
    if g1.is_empty() or g2.is_empty():
        return False
    if d1 == 1 and d2 == 1:
        # lines cross: proper crossing exists, no collinear overlap dominance
        for a, b in _segments(g1):
            for c, d in _segments(g2):
                if _seg_proper_cross(a, b, c, d):
                    return True
        return False
    if {d1, d2} == {1, 2} or {d1, d2} == {0, 1} or {d1, d2} == {0, 2}:
        lower, higher = (g1, g2) if d1 < d2 else (g2, g1)
        if not _interior_intersects(lower, higher):
            return False
        return not covers(higher, lower)
    return False


def overlaps(g1: Geometry, g2: Geometry) -> bool:
    d1, d2 = g1.dimension(), g2.dimension()
    if d1 != d2 or g1.is_empty() or g2.is_empty():
        return False
    if not _interior_intersects(g1, g2):
        return False
    return not covers(g1, g2) and not covers(g2, g1)


def equals(g1: Geometry, g2: Geometry) -> bool:
    if g1.is_empty() and g2.is_empty():
        return True
    if g1.is_empty() or g2.is_empty():
        return False
    if g1.dimension() != g2.dimension():
        return False
    return covers(g1, g2) and covers(g2, g1)


def ordering_equals(g1: Geometry, g2: Geometry) -> bool:
    return g1.kind == g2.kind and g1.coords == g2.coords


# ---------------------------------------------------------------------------
# transforms
# ---------------------------------------------------------------------------

def envelope_geom(geom: Geometry) -> Geometry:
    env = geom.envelope()
    if env is None:
        return Geometry.empty(WKB_POLYGON)
    xmin, ymin, xmax, ymax = env
    if xmin == xmax and ymin == ymax:
        return Geometry.point(xmin, ymin)
    if xmin == xmax or ymin == ymax:
        return Geometry.linestring([(xmin, ymin), (xmax, ymax)])
    return Geometry.box(xmin, ymin, xmax, ymax)


def boundary(geom: Geometry) -> Geometry:
    k = geom.kind
    if k in (WKB_POINT, WKB_MULTIPOINT):
        return Geometry.empty(WKB_GEOMETRYCOLLECTION)
    if k == WKB_LINESTRING:
        if geom.is_empty() or geom.coords[0] == geom.coords[-1]:
            return Geometry.empty(WKB_MULTIPOINT)
        return Geometry.multipoint([geom.coords[0], geom.coords[-1]])
    if k == WKB_POLYGON:
        if len(geom.coords) == 1:
            return Geometry(WKB_LINESTRING, list(geom.coords[0]))
        return Geometry(WKB_MULTILINESTRING, [list(r) for r in geom.coords])
    if k == WKB_MULTILINESTRING:
        pts = []
        for line in geom.coords:
            if line and line[0] != line[-1]:
                pts += [line[0], line[-1]]
        # points appearing an odd number of times (mod-2 rule)
        out = [p for p in set(pts) if pts.count(p) % 2 == 1]
        return Geometry.multipoint(sorted(out))
    if k == WKB_MULTIPOLYGON:
        lines = [list(r) for poly in geom.coords for r in poly]
        return Geometry(WKB_MULTILINESTRING, lines)
    return Geometry.collection([boundary(g) for g in geom.coords])


def convex_hull(geom: Geometry) -> Geometry:
    pts = sorted(set(geom.all_coords()))
    if not pts:
        return Geometry.empty(WKB_GEOMETRYCOLLECTION)
    if len(pts) == 1:
        return Geometry.point(*pts[0])
    if len(pts) == 2:
        return Geometry.linestring(pts)

    def half(points):
        h: List[Coord] = []
        for p in points:
            while len(h) >= 2 and _cross(h[-2], h[-1], p) <= 0:
                h.pop()
            h.append(p)
        return h

    lower = half(pts)
    upper = half(list(reversed(pts)))
    hull = lower[:-1] + upper[:-1]
    if len(hull) < 3:
        return Geometry.linestring(pts)
    hull.append(hull[0])
    return Geometry(WKB_POLYGON, [hull])


def simplify(geom: Geometry, tol: float) -> Geometry:
    """Douglas–Peucker (non-topology-preserving, JTS DouglasPeuckerSimplifier)."""
    def dp(coords: List[Coord]) -> List[Coord]:
        if len(coords) < 3:
            return list(coords)
        a, b = coords[0], coords[-1]
        imax, dmax = 0, -1.0
        for i in range(1, len(coords) - 1):
            d = _dist_pt_seg(coords[i], a, b)
            if d > dmax:
                imax, dmax = i, d
        if dmax <= tol:
            return [a, b]
        left = dp(coords[: imax + 1])
        right = dp(coords[imax:])
        return left[:-1] + right

    k = geom.kind
    if k == WKB_LINESTRING:
        return Geometry(WKB_LINESTRING, dp(geom.coords), geom.srid)
    if k == WKB_POLYGON:
        rings = []
        for ring in geom.coords:
            r = dp(ring)
            if len(r) >= 4:
                rings.append(r)
        return Geometry(WKB_POLYGON, rings, geom.srid)
    if k == WKB_MULTILINESTRING:
        return Geometry(WKB_MULTILINESTRING, [dp(l) for l in geom.coords], geom.srid)
    if k == WKB_MULTIPOLYGON:
        out = []
        for poly in geom.coords:
            rings = [dp(r) for r in poly]
            rings = [r for r in rings if len(r) >= 4]
            if rings:
                out.append(rings)
        return Geometry(WKB_MULTIPOLYGON, out, geom.srid)
    if k == WKB_GEOMETRYCOLLECTION:
        return Geometry.collection([simplify(g, tol) for g in geom.coords], geom.srid)
    return geom


def flip_coordinates(geom: Geometry) -> Geometry:
    def flip(c):
        if c is None:
            return None
        if isinstance(c, tuple):
            return (c[1], c[0])
        return [flip(x) for x in c]

    if geom.kind == WKB_GEOMETRYCOLLECTION:
        return Geometry.collection([flip_coordinates(g) for g in geom.coords], geom.srid)
    return Geometry(geom.kind, flip(geom.coords), geom.srid)


def reverse(geom: Geometry) -> Geometry:
    k = geom.kind
    if k == WKB_LINESTRING:
        return Geometry(k, list(reversed(geom.coords)), geom.srid)
    if k == WKB_POLYGON:
        return Geometry(k, [list(reversed(r)) for r in geom.coords], geom.srid)
    if k == WKB_MULTILINESTRING:
        return Geometry(k, [list(reversed(l)) for l in geom.coords], geom.srid)
    if k == WKB_MULTIPOLYGON:
        return Geometry(k, [[list(reversed(r)) for r in p] for p in geom.coords], geom.srid)
    if k == WKB_GEOMETRYCOLLECTION:
        return Geometry.collection([reverse(g) for g in geom.coords], geom.srid)
    return geom


def normalize(geom: Geometry) -> Geometry:
    """Engine-canonical form: shell CCW / holes CW, rings rotated to start at
    lexicographically-smallest vertex, multi-part components sorted.

    (Engine convention — both sides of any differential test must use it.)
    """
    def norm_ring(ring: List[Coord], want_ccw: bool) -> List[Coord]:
        if len(ring) < 2:
            return list(ring)
        body = ring[:-1] if ring[0] == ring[-1] else list(ring)
        s2 = _ring_signed_area2(list(body) + [body[0]])
        is_ccw = s2 > 0
        if is_ccw != want_ccw:
            body = list(reversed(body))
        i = min(range(len(body)), key=lambda j: body[j])
        body = body[i:] + body[:i]
        return body + [body[0]]

    k = geom.kind
    if k == WKB_POLYGON:
        rings = [norm_ring(geom.coords[0], True)] if geom.coords else []
        rings += sorted((norm_ring(r, False) for r in geom.coords[1:]), key=lambda r: r[0])
        return Geometry(k, rings, geom.srid)
    if k == WKB_MULTIPOINT:
        return Geometry(k, sorted(geom.coords, key=lambda c: (c is None, c)), geom.srid)
    if k == WKB_MULTILINESTRING:
        return Geometry(k, sorted(geom.coords), geom.srid)
    if k == WKB_MULTIPOLYGON:
        polys = [normalize(Geometry(WKB_POLYGON, p)).coords for p in geom.coords]
        return Geometry(k, sorted(polys), geom.srid)
    if k == WKB_GEOMETRYCOLLECTION:
        from .io import to_wkb
        parts = [normalize(g) for g in geom.coords]
        parts.sort(key=lambda g: to_wkb(g))
        return Geometry.collection(parts, geom.srid)
    return geom


def buffer(geom: Geometry, dist: float, quad_segs: int = 8) -> Geometry:
    """Buffer over every OGC kind (circle approximation, JTS
    quadrantSegments=8): point/multipoint circles, line dilation via
    per-segment rectangles + vertex circles, polygon dilation via boundary
    buffer dissolve, negative-distance erosion, per-part collections.
    Distance 0 returns the input unchanged.  Total over the seven OGC
    kinds (fuzzed in tests/test_geom_property.py::test_overlay_totality).
    """
    if dist == 0:
        return geom
    if geom.is_empty():
        return Geometry.empty(WKB_POLYGON)
    if geom.kind == WKB_GEOMETRYCOLLECTION:
        # per-part buffer, dissolved — each part handles its own sign
        parts = [buffer(g, dist, quad_segs) for g in geom.flatten()]
        u = union_all([p for p in parts if p is not None and not p.is_empty()])
        return u if u is not None else Geometry.empty(WKB_POLYGON)
    if dist < 0:
        # erosion: areal inputs shrink by |dist| (A − buffer(∂A, |d|));
        # lower-dimension inputs vanish (GEOS behavior)
        if geom.dimension() == 2 and not geom.is_empty():
            return difference(geom, buffer(boundary(geom), -dist, quad_segs))
        return Geometry.empty(WKB_POLYGON)
    n = max(4, 4 * quad_segs)

    def circle(cx, cy):
        ring = []
        for i in range(n):
            th = 2 * math.pi * i / n
            ring.append((cx + dist * math.cos(th), cy + dist * math.sin(th)))
        ring.append(ring[0])
        return [ring]

    if geom.kind == WKB_POINT and not geom.is_empty():
        return Geometry(WKB_POLYGON, circle(*geom.coords))
    if geom.kind == WKB_MULTIPOINT:
        polys = [circle(x, y) for (x, y) in geom.coords if geom.coords]
        return Geometry(WKB_MULTIPOLYGON, polys)
    if geom.dimension() == 1:
        # line buffer: dissolve per-segment oriented rectangles + vertex
        # circles (classic decomposition; union_all does the dissolve)
        parts: List[Geometry] = []
        for ls in geom.flatten():
            if ls.kind != WKB_LINESTRING or ls.is_empty():
                continue
            cs = list(ls.coords)
            for i in range(len(cs) - 1):
                (x0, y0), (x1, y1) = cs[i], cs[i + 1]
                L = math.hypot(x1 - x0, y1 - y0)
                if L <= EPS:
                    continue
                nx, ny = -(y1 - y0) / L * dist, (x1 - x0) / L * dist
                rect = [(x0 + nx, y0 + ny), (x1 + nx, y1 + ny),
                        (x1 - nx, y1 - ny), (x0 - nx, y0 - ny)]
                rect.append(rect[0])
                parts.append(Geometry(WKB_POLYGON, [rect]))
            for (x, y) in cs:
                parts.append(Geometry(WKB_POLYGON, circle(x, y)))
        u = union_all(parts)
        return u if u is not None else Geometry.empty(WKB_POLYGON)
    if geom.dimension() == 2:
        # positive polygon buffer: the polygon dilated by its boundary's
        # buffer (shell grows, holes shrink via dissolve)
        ring_lines = []
        for pg in geom.flatten():
            if pg.kind != WKB_POLYGON or pg.is_empty():
                continue
            for ring in pg.coords:
                ring_lines.append(Geometry(WKB_LINESTRING, list(ring)))
        grown = buffer(Geometry(WKB_MULTILINESTRING,
                                [list(r.coords) for r in ring_lines]), dist,
                       quad_segs)
        u = union_all([geom, grown])
        return u if u is not None else geom
    # unreachable for OGC kinds: POINT/MULTIPOINT, the two dim-1 kinds, the
    # two dim-2 kinds, and GEOMETRYCOLLECTION are all handled above
    raise ValueError(f"corrupt geometry kind {geom.kind!r} in buffer")


def make_valid(geom: Geometry) -> Geometry:
    """Pragmatic validity repair: drop consecutive duplicate vertices, close rings."""
    def clean_seq(coords: List[Coord], close: bool) -> List[Coord]:
        out: List[Coord] = []
        for c in coords:
            if not out or _dist_pt_pt(out[-1], c) > EPS:
                out.append(c)
        if close and out and out[0] != out[-1]:
            out.append(out[0])
        return out

    k = geom.kind
    if k == WKB_LINESTRING:
        return Geometry(k, clean_seq(geom.coords, False), geom.srid)
    if k == WKB_POLYGON:
        return Geometry(k, [clean_seq(r, True) for r in geom.coords], geom.srid)
    if k == WKB_MULTILINESTRING:
        return Geometry(k, [clean_seq(l, False) for l in geom.coords], geom.srid)
    if k == WKB_MULTIPOLYGON:
        return Geometry(k, [[clean_seq(r, True) for r in p] for p in geom.coords], geom.srid)
    if k == WKB_GEOMETRYCOLLECTION:
        return Geometry.collection([make_valid(g) for g in geom.coords], geom.srid)
    return geom


def is_valid(geom: Geometry) -> bool:
    """Pragmatic check: rings closed with ≥4 points, linestrings ≥2 points,
    no self-proper-crossing within a ring."""
    for g in geom.flatten():
        if g.kind == WKB_LINESTRING and len(g.coords) < 2:
            return False
        if g.kind == WKB_POLYGON:
            for ring in g.coords:
                if len(ring) < 4 or ring[0] != ring[-1]:
                    return False
                n = len(ring) - 1
                for i in range(n):
                    for j in range(i + 1, n):
                        if _seg_proper_cross(ring[i], ring[i + 1], ring[j], ring[j + 1]):
                            return False
    return True


def is_simple(geom: Geometry) -> bool:
    if geom.kind == WKB_LINESTRING:
        n = len(geom.coords) - 1
        for i in range(n):
            for j in range(i + 1, n):
                a, b = geom.coords[i], geom.coords[i + 1]
                c, d = geom.coords[j], geom.coords[j + 1]
                if _seg_proper_cross(a, b, c, d):
                    return False
                # a retraced (collinear-overlapping) pair — adjacent or not —
                # self-intersects over positive length
                if _collinear_overlap(a, b, c, d):
                    return False
        return True
    if geom.kind == WKB_MULTIPOINT:
        return len(set(geom.coords)) == len(geom.coords)
    return is_valid(geom)


def is_closed(geom: Geometry) -> bool:
    if geom.kind == WKB_LINESTRING:
        return bool(geom.coords) and geom.coords[0] == geom.coords[-1]
    if geom.kind == WKB_MULTILINESTRING:
        return all(l and l[0] == l[-1] for l in geom.coords)
    return True


def is_ring(geom: Geometry) -> bool:
    return geom.kind == WKB_LINESTRING and is_closed(geom) and is_simple(geom)


def collect(geoms: Sequence[Optional[Geometry]]) -> Geometry:
    """ST_Collect: homogeneous inputs → MULTI*, else GEOMETRYCOLLECTION."""
    gs = [g for g in geoms if g is not None and not g.is_empty()]
    if not gs:
        return Geometry.empty(WKB_GEOMETRYCOLLECTION)
    kinds = {g.kind for g in gs}
    if kinds == {WKB_POINT}:
        return Geometry(WKB_MULTIPOINT, [g.coords for g in gs])
    if kinds == {WKB_LINESTRING}:
        return Geometry(WKB_MULTILINESTRING, [g.coords for g in gs])
    if kinds == {WKB_POLYGON}:
        return Geometry(WKB_MULTIPOLYGON, [g.coords for g in gs])
    return Geometry.collection(list(gs))


def union_all(geoms: Sequence[Optional[Geometry]]) -> Optional[Geometry]:
    """N-ary union. Exact for puntal inputs (dedup — matches the reference's
    golden ``MULTIPOINT ((10 20), (20 30))``, TestSedonaIcebergExtension.scala:92)
    and for disjoint/nested inputs; overlapping areal unions are dissolved
    via covers-dedup (covered components are dropped, no boundary merge).
    """
    gs = [g for g in geoms if g is not None and not g.is_empty()]
    if not gs:
        return None
    atoms: List[Geometry] = []
    for g in gs:
        atoms.extend(g.flatten())
    if all(a.kind == WKB_POINT for a in atoms):
        uniq = sorted({a.coords for a in atoms})
        if len(uniq) == 1:
            return Geometry.point(*uniq[0])
        return Geometry(WKB_MULTIPOINT, list(uniq))
    # candidate pairs via envelope sweep (sorted by xmin, prune on x-overlap,
    # test y-overlap) — avoids the O(n^2) all-pairs predicate evaluation that
    # dominates large dissolve groups
    envs = [a.envelope() for a in atoms]
    order = sorted(range(len(atoms)), key=lambda i: envs[i][0])
    cand_pairs: List[Tuple[int, int]] = []
    for oi, i in enumerate(order):
        xi_max = envs[i][2]
        for j in order[oi + 1:]:
            if envs[j][0] > xi_max + EPS:
                break
            if envs[j][1] <= envs[i][3] + EPS and envs[i][1] <= envs[j][3] + EPS:
                cand_pairs.append((i, j))
    # drop components covered by another component (exact test only on
    # envelope-overlapping candidates)
    drop = set()
    for i, j in cand_pairs:
        a, b = atoms[i], atoms[j]
        if i in drop or j in drop:
            continue
        if covers(b, a):
            drop.add(i)
        elif covers(a, b):
            drop.add(j)
    # group interior-overlapping polygons into connected components
    # (union-find over the surviving candidate pairs), then dissolve each
    # component by recursive halving — O(m log m) union_two depth instead of
    # the O(m^2) restart-scan fixpoint; point- or edge-touching components
    # stay separate
    parent = list(range(len(atoms)))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for i, j in cand_pairs:
        if i in drop or j in drop:
            continue
        if atoms[i].kind != WKB_POLYGON or atoms[j].kind != WKB_POLYGON:
            continue
        ri, rj = find(i), find(j)
        if ri != rj and (overlaps(atoms[i], atoms[j])
                         or covers(atoms[i], atoms[j])
                         or covers(atoms[j], atoms[i])):
            parent[ri] = rj

    groups: dict = {}
    for i in range(len(atoms)):
        if i in drop:
            continue
        groups.setdefault(find(i), []).append(atoms[i])

    def merge_halving(members: List[Geometry]) -> List[Geometry]:
        if len(members) == 1:
            return [members[0]]
        mid = len(members) // 2
        left = merge_halving(members[:mid])
        right = merge_halving(members[mid:])
        u = union_two(collect(left) if len(left) > 1 else left[0],
                      collect(right) if len(right) > 1 else right[0])
        return list(u.flatten())

    kept: List[Geometry] = []
    for members in groups.values():
        kept.extend(members if len(members) == 1 else merge_halving(members))
    if len(kept) == 1:
        return kept[0]
    return collect(kept)


def _sh_clip(subject: List[Coord], clip_ring: List[Coord]) -> List[Coord]:
    """Sutherland–Hodgman: clip subject ring by a convex CCW clip ring."""
    out = subject[:-1] if subject and subject[0] == subject[-1] else list(subject)
    cr = clip_ring[:-1] if clip_ring[0] == clip_ring[-1] else list(clip_ring)
    if _ring_signed_area2(list(cr) + [cr[0]]) < 0:
        cr = list(reversed(cr))
    for i in range(len(cr)):
        a, b = cr[i], cr[(i + 1) % len(cr)]
        if not out:
            return []
        new_out: List[Coord] = []
        for j in range(len(out)):
            p, q = out[j], out[(j + 1) % len(out)]
            pin = _cross(a, b, p) >= -EPS
            qin = _cross(a, b, q) >= -EPS
            if pin:
                new_out.append(p)
            if pin != qin:
                denom = _cross(a, b, q) - _cross(a, b, p)
                if abs(denom) > EPS:
                    t = -_cross(a, b, p) / denom
                    new_out.append((p[0] + t * (q[0] - p[0]), p[1] + t * (q[1] - p[1])))
        out = new_out
    if len(out) < 3:
        return []
    return out + [out[0]]


def _is_convex_ring(ring: Sequence[Coord]) -> bool:
    body = list(ring[:-1]) if ring[0] == ring[-1] else list(ring)
    n = len(body)
    sign = 0
    for i in range(n):
        o = _orient(body[i], body[(i + 1) % n], body[(i + 2) % n])
        if o != 0:
            if sign == 0:
                sign = o
            elif o != sign:
                return False
    return True


def intersection(g1: Geometry, g2: Geometry) -> Geometry:
    """General overlay: point/line/area operand combinations, concave
    shells and holes included (convex single-ring cases take the
    Sutherland–Hodgman fast path; the general areal path stitches boundary
    pieces).  Known deviations: polygons touching only along an edge yield
    EMPTY rather than the shared LINESTRING, and a mixed-dimension
    GEOMETRYCOLLECTION operand contributes only its highest-dimension
    parts (GEOS/JTS reject collection operands outright, so homogeneous-
    collection support here already exceeds the library baseline)."""
    if g1.is_empty() or g2.is_empty() or not intersects(g1, g2):
        return Geometry.empty(WKB_GEOMETRYCOLLECTION if g1.is_empty() else g1.kind)
    if covers(g2, g1):
        return g1
    if covers(g1, g2):
        return g2
    d1, d2 = g1.dimension(), g2.dimension()
    if d1 == 0 or d2 == 0:
        pts, other = (g1, g2) if d1 == 0 else (g2, g1)
        hits = sorted({p.coords for p in pts.flatten() if intersects(p, other)})
        if not hits:
            return Geometry.empty(WKB_POINT)
        if len(hits) == 1:
            return Geometry.point(*hits[0])
        return Geometry(WKB_MULTIPOINT, hits)
    if d1 == 2 and d2 == 2:
        a_polys = [g for g in g1.flatten() if g.kind == WKB_POLYGON]
        b_polys = [g for g in g2.flatten() if g.kind == WKB_POLYGON]
        pieces: List[List[Ring]] = []
        for pa in a_polys:
            for pb in b_polys:
                conv_a = len(pa.coords) == 1 and _is_convex_ring(pa.coords[0])
                conv_b = len(pb.coords) == 1 and _is_convex_ring(pb.coords[0])
                # SH fast path only when the clip ring is convex AND the
                # subject has no holes (SH cannot carry holes through)
                if conv_b and len(pa.coords) == 1:
                    ring = _sh_clip(list(pa.coords[0]), list(pb.coords[0]))
                    polys = [[ring]] if ring else []
                elif conv_a and len(pb.coords) == 1:
                    ring = _sh_clip(list(pb.coords[0]), list(pa.coords[0]))
                    polys = [[ring]] if ring else []
                else:
                    # general concave/holed case: boundary stitching
                    polys = _poly_poly_overlay(pa.coords, pb.coords,
                                               "in", "in")
                pieces.extend(
                    p for p in polys
                    if p and abs(_ring_signed_area2(p[0])) > EPS)
        if not pieces:
            return Geometry.empty(WKB_POLYGON)
        if len(pieces) == 1:
            return Geometry(WKB_POLYGON, pieces[0])
        return Geometry(WKB_MULTIPOLYGON, pieces)
    if {d1, d2} == {1, 2}:
        line, poly = (g1, g2) if d1 == 1 else (g2, g1)
        segs: List[List[Coord]] = []
        polys = [g for g in poly.flatten() if g.kind == WKB_POLYGON]
        for ls in line.flatten():
            if ls.kind != WKB_LINESTRING:
                continue
            for pg in polys:
                segs.extend(_clip_line_to_polygon(list(ls.coords), pg.coords))
        segs = _merge_chains(segs)
        if not segs:
            return Geometry.empty(WKB_LINESTRING)
        if len(segs) == 1:
            return Geometry(WKB_LINESTRING, segs[0])
        return Geometry(WKB_MULTILINESTRING, segs)
    if d1 == 1 and d2 == 1:
        pts, segs = _line_line_overlay(g1, g2)
        segs = _merge_chains(segs)
        out: List[Geometry] = [Geometry(WKB_LINESTRING, s) for s in segs]
        covered = lambda p: any(  # noqa: E731 — drop points interior to kept segments
            any(_on_segment(p, s[i], s[i + 1]) for i in range(len(s) - 1))
            for s in segs)
        out.extend(Geometry.point(*p) for p in sorted(pts) if not covered(p))
        if not out:
            return Geometry.empty(WKB_POINT)
        if len(out) == 1:
            return out[0]
        if all(o.kind == WKB_POINT for o in out):
            return Geometry(WKB_MULTIPOINT, [o.coords for o in out])
        if all(o.kind == WKB_LINESTRING for o in out):
            return Geometry(WKB_MULTILINESTRING, [o.coords for o in out])
        return collect(out)
    # unreachable: dimension() ∈ {0,1,2} and the branches above cover every
    # combination — (0,*) and (*,0), (1,1), {1,2}, (2,2)
    raise AssertionError(
        f"overlay dimension combination ({d1}, {d2}) missed an exhaustive branch")


def _seg_param_crossings(a: Coord, b: Coord,
                         rings: Sequence[Sequence[Coord]]) -> List[float]:
    """Sorted parameter values t∈[0,1] where segment ab meets any ring edge."""
    ts = [0.0, 1.0]
    dx, dy = b[0] - a[0], b[1] - a[1]
    for ring in rings:
        for i in range(len(ring) - 1):
            c, d = ring[i], ring[i + 1]
            ex, ey = d[0] - c[0], d[1] - c[1]
            denom = dx * ey - dy * ex
            if abs(denom) > EPS:
                t = ((c[0] - a[0]) * ey - (c[1] - a[1]) * ex) / denom
                s = ((c[0] - a[0]) * dy - (c[1] - a[1]) * dx) / denom
                if -EPS <= t <= 1 + EPS and -EPS <= s <= 1 + EPS:
                    ts.append(min(1.0, max(0.0, t)))
            else:
                # collinear edge: endpoints of the edge projected onto ab
                for p in (c, d):
                    if _on_segment(p, a, b):
                        L2 = dx * dx + dy * dy
                        if L2 > 0:
                            ts.append(((p[0] - a[0]) * dx + (p[1] - a[1]) * dy) / L2)
    ts = sorted(set(round(t, 15) for t in ts))
    return ts


def _clip_line_to_polygon(coords: List[Coord],
                          rings: Sequence[Sequence[Coord]],
                          keep: str = "in") -> List[List[Coord]]:
    """Sub-segments of the polyline classified against a polygon with holes
    (concave handled by interval midpoint classification).
    ``keep='in'``: keep pieces inside or on the boundary;
    ``keep='out'``: keep pieces strictly outside (boundary excluded)."""
    pieces: List[List[Coord]] = []
    for i in range(len(coords) - 1):
        a, b = coords[i], coords[i + 1]
        ts = _seg_param_crossings(a, b, rings)
        for t0, t1 in zip(ts, ts[1:]):
            if t1 - t0 <= EPS:
                continue
            tm = (t0 + t1) / 2
            mid = (a[0] + tm * (b[0] - a[0]), a[1] + tm * (b[1] - a[1]))
            loc = locate_in_polygon(mid, rings)
            if (loc > 0) if keep == "in" else (loc == 0):
                p0 = (a[0] + t0 * (b[0] - a[0]), a[1] + t0 * (b[1] - a[1]))
                p1 = (a[0] + t1 * (b[0] - a[0]), a[1] + t1 * (b[1] - a[1]))
                pieces.append([_snap(p0), _snap(p1)])
    return pieces


def _snap(p: Coord, places: int = 12) -> Coord:
    """Absorb parametric float wobble (…000000000004) in overlay outputs."""
    return (round(p[0], places), round(p[1], places))


def _ring_interior_side(r: Sequence[Coord], other: Sequence[Coord]) -> int:
    """2 if ring r lies inside ring ``other``, 0 if outside (first edge
    midpoint not on ``other``'s boundary decides)."""
    for i in range(len(r) - 1):
        m = ((r[i][0] + r[i + 1][0]) / 2, (r[i][1] + r[i + 1][1]) / 2)
        loc = _pt_in_ring(m, other)
        if loc != 1:
            return loc
    return 0


def _boundary_pieces(rings: Sequence[Sequence[Coord]],
                     other_rings: Sequence[Sequence[Coord]]) -> List[List[Coord]]:
    """All sub-segments of ``rings`` split at crossings with the other
    polygon's boundary (no classification — the overlay filters by side
    test)."""
    pieces: List[List[Coord]] = []
    for ring in rings:
        coords = [_snap(p) for p in ring]
        for i in range(len(coords) - 1):
            a, b = coords[i], coords[i + 1]
            ts = _seg_param_crossings(a, b, other_rings)
            for t0, t1 in zip(ts, ts[1:]):
                if t1 - t0 <= EPS:
                    continue
                p0 = (a[0] + t0 * (b[0] - a[0]), a[1] + t0 * (b[1] - a[1]))
                p1 = (a[0] + t1 * (b[0] - a[0]), a[1] + t1 * (b[1] - a[1]))
                pieces.append([_snap(p0), _snap(p1)])
    return pieces


def _poly_poly_overlay(a_rings: Sequence[Sequence[Coord]],
                       b_rings: Sequence[Sequence[Coord]],
                       op_a: str, op_b: str = None):
    """General polygon overlay (concave shells, holes, shared boundaries) by
    boundary stitching with a side-of-segment region test: a boundary piece
    belongs to the result's boundary iff the result region lies on exactly
    one side of it.  This classifies shared-boundary segments correctly —
    e.g. the common edge of two edge-adjacent squares is interior to their
    union but absent from their intersection.

    ``op_a``: 'in'/'out' pairs kept for source compatibility — resolved to
    the region predicate: ('in','in')=intersection, ('out','out')=union,
    ('out','in')=difference A−B.  Returns a list of ring-lists (shell
    first), possibly several."""
    key = (op_a, op_b)
    if key == ("in", "in"):
        def region(la, lb):
            return la and lb
    elif key == ("out", "out"):
        def region(la, lb):
            return la or lb
    else:  # ("out", "in") → A − B
        def region(la, lb):
            return la and not lb

    def in_region(p: Coord) -> bool:
        return region(locate_in_polygon(p, a_rings) == 2,
                      locate_in_polygon(p, b_rings) == 2)

    pieces = (_boundary_pieces(a_rings, b_rings)
              + _boundary_pieces(b_rings, a_rings))
    seen, uniq = set(), []
    for s in pieces:
        if s[0] == s[1]:
            continue
        k = (min(s[0], s[1]), max(s[0], s[1]))
        if k in seen:
            continue
        seen.add(k)
        # side test: offset the midpoint both ways along the normal
        (x0, y0), (x1, y1) = s
        mx, my = (x0 + x1) / 2, (y0 + y1) / 2
        L = math.hypot(x1 - x0, y1 - y0)
        d = max(1e-9, L * 1e-7)
        nx, ny = -(y1 - y0) / L * d, (x1 - x0) / L * d
        if in_region((mx + nx, my + ny)) != in_region((mx - nx, my - ny)):
            uniq.append(s)
    rings = [c for c in _merge_chains(uniq)
             if len(c) >= 4 and c[0] == c[-1]
             and abs(_ring_signed_area2(c)) > EPS]
    if not rings:
        return []
    # containment depth: even → shell, odd → hole of its tightest shell
    order = sorted(range(len(rings)),
                   key=lambda i: -abs(_ring_signed_area2(rings[i])))
    parents = {}
    depth = {}
    for pos, i in enumerate(order):
        containers = [j for j in order[:pos]
                      if _ring_interior_side(rings[i], rings[j]) == 2]
        depth[i] = len(containers)
        parents[i] = (min(containers,
                          key=lambda j: abs(_ring_signed_area2(rings[j])))
                      if containers else None)
    polys = {}
    for i in order:
        if depth[i] % 2 == 0:
            polys[i] = [rings[i]]
    for i in order:
        if depth[i] % 2 == 1 and parents[i] in polys:
            polys[parents[i]].append(rings[i])
    return list(polys.values())


def _merge_chains(segs: List[List[Coord]]) -> List[List[Coord]]:
    """Stitch segments sharing endpoints into maximal polylines."""
    chains = [list(s) for s in segs]
    merged = True
    while merged:
        merged = False
        for i in range(len(chains)):
            for j in range(i + 1, len(chains)):
                a, b = chains[i], chains[j]
                if a[-1] == b[0]:
                    chains[i] = a + b[1:]
                elif a[-1] == b[-1]:
                    chains[i] = a + list(reversed(b[:-1]))
                elif a[0] == b[-1]:
                    chains[i] = b + a[1:]
                elif a[0] == b[0]:
                    chains[i] = list(reversed(b))[:-1] + a
                else:
                    continue
                del chains[j]
                merged = True
                break
            if merged:
                break
    return chains


def _line_line_overlay(g1: Geometry, g2: Geometry):
    """Crossing points and collinear-overlap segments of two (multi)lines."""
    pts: set = set()
    segs: List[List[Coord]] = []
    l1 = [list(g.coords) for g in g1.flatten() if g.kind == WKB_LINESTRING]
    l2 = [list(g.coords) for g in g2.flatten() if g.kind == WKB_LINESTRING]
    for c1 in l1:
        for i in range(len(c1) - 1):
            a, b = c1[i], c1[i + 1]
            for c2 in l2:
                for j in range(len(c2) - 1):
                    c, d = c2[j], c2[j + 1]
                    if _collinear_overlap(a, b, c, d):
                        lo = max(min(a, b), min(c, d))
                        hi = min(max(a, b), max(c, d))
                        if lo != hi:
                            segs.append([lo, hi])
                        continue
                    if not _seg_intersect(a, b, c, d):
                        continue
                    dx1, dy1 = b[0] - a[0], b[1] - a[1]
                    dx2, dy2 = d[0] - c[0], d[1] - c[1]
                    denom = dx1 * dy2 - dy1 * dx2
                    if abs(denom) > EPS:
                        t = ((c[0] - a[0]) * dy2 - (c[1] - a[1]) * dx2) / denom
                        pts.add((a[0] + t * dx1, a[1] + t * dy1))
                    else:
                        for p in (a, b):
                            if _on_segment(p, c, d):
                                pts.add(p)
                        for p in (c, d):
                            if _on_segment(p, a, b):
                                pts.add(p)
    return pts, segs


Ring = List[Coord]


def difference(g1: Geometry, g2: Geometry) -> Geometry:
    if g1.is_empty():
        return g1
    if g2.is_empty() or disjoint(g1, g2):
        return g1
    if covers(g2, g1):
        return Geometry.empty(g1.kind)
    if g1.dimension() == 0:
        keep = sorted({p.coords for p in g1.flatten() if not intersects(p, g2)})
        if not keep:
            return Geometry.empty(WKB_POINT)
        if len(keep) == 1:
            return Geometry.point(*keep[0])
        return Geometry(WKB_MULTIPOINT, keep)
    if g1.dimension() == 1 and g2.dimension() == 2:
        # line minus polygon: keep the strictly-outside pieces
        segs: List[List[Coord]] = []
        polys = [g for g in g2.flatten() if g.kind == WKB_POLYGON]
        for ls in g1.flatten():
            if ls.kind != WKB_LINESTRING:
                continue
            kept = [list(ls.coords)]
            for pg in polys:
                nxt: List[List[Coord]] = []
                for piece in kept:
                    nxt.extend(_clip_line_to_polygon(piece, pg.coords, "out"))
                kept = nxt
            segs.extend(kept)
        segs = _merge_chains(segs)
        if not segs:
            return Geometry.empty(WKB_LINESTRING)
        if len(segs) == 1:
            return Geometry(WKB_LINESTRING, segs[0])
        return Geometry(WKB_MULTILINESTRING, segs)
    if g1.dimension() == 2 and g2.dimension() == 2:
        # general areal difference: fold A − B1 − B2 − … via boundary
        # stitching (concave shells and holes handled)
        b_polys = [g for g in g2.flatten() if g.kind == WKB_POLYGON]
        cur = [list(g.coords) for g in g1.flatten() if g.kind == WKB_POLYGON]
        for pb in b_polys:
            nxt = []
            for rings in cur:
                nxt.extend(p for p in _poly_poly_overlay(rings, pb.coords,
                                                         "out", "in")
                           if p and abs(_ring_signed_area2(p[0])) > EPS)
            cur = nxt
        if not cur:
            return Geometry.empty(WKB_POLYGON)
        if len(cur) == 1:
            return Geometry(WKB_POLYGON, cur[0], g1.srid)
        return Geometry(WKB_MULTIPOLYGON, cur, g1.srid)
    if g1.dimension() > g2.dimension():
        # subtracting a lower-dimensional geometry removes no measure
        return g1
    if g1.dimension() == 1 and g2.dimension() == 1:
        # line minus line: remove the collinear overlapping portions
        # (crossings at points remove nothing of measure)
        b_lines = [list(ls.coords) for ls in g2.flatten()
                   if ls.kind == WKB_LINESTRING]
        segs: List[List[Coord]] = []
        for ls in g1.flatten():
            if ls.kind != WKB_LINESTRING:
                continue
            cs = list(ls.coords)
            for i in range(len(cs) - 1):
                a, b = cs[i], cs[i + 1]
                ts = _seg_param_crossings(a, b, b_lines)
                for t0, t1 in zip(ts, ts[1:]):
                    if t1 - t0 <= 1e-12:
                        continue
                    tm = (t0 + t1) / 2.0
                    mid = (a[0] + (b[0] - a[0]) * tm, a[1] + (b[1] - a[1]) * tm)
                    on_b = any(
                        _on_segment(mid, bl[j], bl[j + 1])
                        for bl in b_lines for j in range(len(bl) - 1))
                    if not on_b:
                        p0 = (a[0] + (b[0] - a[0]) * t0, a[1] + (b[1] - a[1]) * t0)
                        p1 = (a[0] + (b[0] - a[0]) * t1, a[1] + (b[1] - a[1]) * t1)
                        segs.append([p0, p1])
        segs = _merge_chains(segs)
        if not segs:
            return Geometry.empty(WKB_LINESTRING)
        if len(segs) == 1:
            return Geometry(WKB_LINESTRING, segs[0], g1.srid)
        return Geometry(WKB_MULTILINESTRING, segs, g1.srid)
    # unreachable: dimension() ∈ {0,1,2}; branches cover d1==0, (1,2), (2,2),
    # d1>d2 (covers (1,0),(2,0),(2,1)), and (1,1) — exhaustive
    raise AssertionError(
        "difference dimension combination missed an exhaustive branch")


def sym_difference(g1: Geometry, g2: Geometry) -> Geometry:
    if disjoint(g1, g2):
        return collect([g1, g2])
    if g1.dimension() == 0 and g2.dimension() == 0:
        s1 = {p.coords for p in g1.flatten()}
        s2 = {p.coords for p in g2.flatten()}
        keep = sorted(s1 ^ s2)
        if not keep:
            return Geometry.empty(WKB_POINT)
        if len(keep) == 1:
            return Geometry.point(*keep[0])
        return Geometry(WKB_MULTIPOINT, keep)
    # (A−B) ∪ (B−A): interiors are disjoint by construction; for mixed
    # dimensions this matches GEOS (polygon stays whole, the line keeps its
    # outside pieces)
    d1 = difference(g1, g2)
    d2 = difference(g2, g1)
    parts = [g for g in (list(d1.flatten()) + list(d2.flatten()))
             if not g.is_empty()]
    if not parts:
        return Geometry.empty(g1.kind)
    if len(parts) == 1:
        return parts[0]
    return collect(parts)


def union_two(g1: Geometry, g2: Geometry) -> Geometry:
    """Binary union with areal dissolve (concave shells, holes)."""
    if g1.is_empty():
        return g2
    if g2.is_empty() or covers(g1, g2):
        return g1
    if covers(g2, g1):
        return g2
    if disjoint(g1, g2):
        return collect([g1, g2])
    if g1.dimension() == 2 and g2.dimension() == 2:
        a_polys = [list(g.coords) for g in g1.flatten()
                   if g.kind == WKB_POLYGON]
        b_polys = [list(g.coords) for g in g2.flatten()
                   if g.kind == WKB_POLYGON]
        cur = list(a_polys)
        for pb in b_polys:
            merged_any = False
            nxt = []
            for rings in cur:
                # the area guard below catches the corner-touch degeneracy:
                # the boundary-tracing overlay emits zero-area output for
                # polygons sharing only a point, in which case the sides
                # stay separate components (area-identical result); genuine
                # overlaps and shared edges dissolve normally
                if not merged_any and _rings_intersect(rings, pb):
                    out = [p for p in _poly_poly_overlay(rings, pb,
                                                         "out", "out")
                           if p and abs(_ring_signed_area2(p[0])) > EPS]
                    if (sum(_poly_area(p) for p in out) + EPS
                            >= max(_poly_area(rings), _poly_area(pb))):
                        nxt.extend(out)
                        merged_any = True
                    else:      # degenerate overlay — keep sides separate
                        nxt.append(rings)
                else:
                    nxt.append(rings)
            if not merged_any:
                nxt.append(pb)
            cur = nxt
        # dissolve fixpoint: an incoming polygon merged above with only the
        # FIRST component it intersected — a polygon bridging two disjoint
        # components would otherwise leave overlapping output components
        changed = True
        while changed:
            changed = False
            for i in range(len(cur)):
                for j in range(i + 1, len(cur)):
                    gi = Geometry(WKB_POLYGON, list(cur[i]))
                    gj = Geometry(WKB_POLYGON, list(cur[j]))
                    if overlaps(gi, gj) or covers(gi, gj) or covers(gj, gi):
                        out = [p for p in _poly_poly_overlay(cur[i], cur[j],
                                                             "out", "out")
                               if p and abs(_ring_signed_area2(p[0])) > EPS]
                        if (sum(_poly_area(p) for p in out) + EPS
                                < max(_poly_area(cur[i]), _poly_area(cur[j]))):
                            continue  # degenerate overlay — leave the pair
                        cur = [r for idx, r in enumerate(cur)
                               if idx not in (i, j)] + out
                        changed = True
                        break
                if changed:
                    break
        if not cur:
            return Geometry.empty(WKB_POLYGON)
        if len(cur) == 1:
            return Geometry(WKB_POLYGON, cur[0], g1.srid)
        return Geometry(WKB_MULTIPOLYGON, cur, g1.srid)
    return union_all([g1, g2])


def _rings_intersect(a_rings, b_rings) -> bool:
    return intersects(Geometry(WKB_POLYGON, list(a_rings)),
                      Geometry(WKB_POLYGON, list(b_rings)))


def _poly_area(rings) -> float:
    """Area of one polygon's ring list (outer minus holes)."""
    if not rings:
        return 0.0
    return (abs(_ring_signed_area2(rings[0]))
            - sum(abs(_ring_signed_area2(r)) for r in rings[1:])) / 2.0


# ---------------------------------------------------------------------------
# polygon splitting by a line blade (ST_Split on area subjects — PostGIS
# splits a polygon with a (multi)linestring; point blades are unsupported
# for areas in PostGIS too)
# ---------------------------------------------------------------------------

def _strip_spurs(ring: List[Coord]) -> List[Coord]:
    """Remove out-and-back excursions (…, x, tip, x, …) from a closed ring
    — dangling blade edges that entered the face walk but bound no area.
    Returns a closed ring, or [] if nothing two-dimensional remains."""
    pts = list(ring[:-1]) if ring and ring[0] == ring[-1] else list(ring)
    changed = True
    while changed and len(pts) >= 3:
        changed = False
        n = len(pts)
        for i in range(n):
            if pts[(i - 1) % n] == pts[(i + 1) % n]:
                j = (i + 1) % n
                for k in sorted({i, j}, reverse=True):
                    pts.pop(k)
                changed = True
                break
    dedup = [p for k, p in enumerate(pts) if p != pts[k - 1]] if pts else []
    if len(dedup) < 3:
        return []
    return dedup + [dedup[0]]


def _polygonize_faces(segs: List[List[Coord]]) -> List[List[Coord]]:
    """Faces of the planar arrangement of fully-noded segments, by the
    standard half-edge walk: at each node take the clockwise-next edge
    after the reversed incoming edge.  Bounded faces come out CCW; the
    unbounded face (CW, negative area) is filtered by the caller."""
    adj: dict = {}
    edges = set()
    for a, b in segs:
        if a == b:
            continue
        if (a, b) in edges:
            continue
        edges.add((a, b))
        edges.add((b, a))
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    order = {v: sorted(nbrs, key=lambda w: math.atan2(w[1] - v[1],
                                                      w[0] - v[0]))
             for v, nbrs in adj.items()}
    visited = set()
    faces = []
    for e in sorted(edges):
        if e in visited:
            continue
        ring = [e[0]]
        cur = e
        for _ in range(4 * len(edges) + 4):  # bound: each half-edge once
            visited.add(cur)
            u, v = cur
            ring.append(v)
            nbrs = order[v]
            i = nbrs.index(u)
            cur = (v, nbrs[(i - 1) % len(nbrs)])
            if cur == e:
                break
        faces.append(ring)
    return faces


def split_polygon_by_line(g: Geometry, gb: Geometry) -> List[Geometry]:
    """Split a (multi)polygon by a (multi)linestring blade → list of
    polygon pieces (PostGIS ST_Split semantics: the interior is cut along
    every blade segment crossing it; blade parts along the boundary or
    outside split nothing; a polygon the blade misses comes back whole).

    Per input polygon: node the boundary rings against the blade and the
    blade against the polygon (keeping interior pieces only), walk the
    planar faces of the arrangement, keep CCW faces whose interior point
    is inside the polygon, and for subjects with holes intersect each
    piece with the original polygon so holes untouched by the blade are
    subtracted exactly."""
    blades = [list(part.coords) for part in gb.flatten()
              if part.kind == WKB_LINESTRING]
    blades = [[_snap(p) for p in bc] for bc in blades]
    out: List[Geometry] = []
    for poly in g.flatten():
        if poly.kind != WKB_POLYGON or poly.is_empty():
            continue
        rings = [[_snap(p) for p in r] for r in poly.coords]
        interior_pieces = []
        for bc in blades:
            for s in _clip_line_to_polygon(bc, rings, keep="in"):
                mid = ((s[0][0] + s[1][0]) / 2, (s[0][1] + s[1][1]) / 2)
                if locate_in_polygon(mid, rings) == 2:
                    interior_pieces.append(s)
        if not interior_pieces:
            out.append(poly)
            continue
        segs = _boundary_pieces(rings, blades) + interior_pieces
        added = False
        for face in _polygonize_faces(segs):
            if len(face) < 4 or face[0] != face[-1]:
                continue
            ring = _strip_spurs(face)
            if len(ring) < 4 or _ring_signed_area2(ring) <= EPS:
                continue
            ip = _poly_interior_point([ring])
            if ip is None or locate_in_polygon(ip, rings) != 2:
                continue
            piece = Geometry(WKB_POLYGON, [ring], poly.srid)
            if len(rings) > 1:
                for sub in intersection(piece, poly).flatten():
                    if sub.kind == WKB_POLYGON and not sub.is_empty():
                        out.append(sub)
                        added = True
            else:
                out.append(piece)
                added = True
        if not added:
            out.append(poly)
    return out


def build_area(geom: Geometry) -> Geometry:
    """PostGIS/GEOS ST_BuildArea: assemble the areal geometry enclosed by
    (noded, closed) linework.  Faces come from the same planar half-edge
    walk as ST_Split's polygon path; nesting depth decides shell vs hole
    (even → shell, odd → hole of its tightest container — GEOS'
    odd-even containment rule).  Dangling or unclosed linework bounds no
    face and is dropped, as in GEOS."""
    segs: List[List[Coord]] = []
    for part in geom.flatten():
        if part.kind == WKB_LINESTRING:
            c = [_snap(p) for p in part.coords]
            segs.extend([c[i], c[i + 1]] for i in range(len(c) - 1))
    rings = []
    for face in _polygonize_faces(segs):
        if len(face) < 4 or face[0] != face[-1]:
            continue
        r = _strip_spurs(face)
        if len(r) >= 4 and _ring_signed_area2(r) > EPS:
            rings.append(r)
    if not rings:
        return Geometry.empty(WKB_GEOMETRYCOLLECTION, geom.srid)
    order = sorted(range(len(rings)),
                   key=lambda i: -abs(_ring_signed_area2(rings[i])))
    depth, parents = {}, {}
    for pos, i in enumerate(order):
        containers = [j for j in order[:pos]
                      if _ring_interior_side(rings[i], rings[j]) == 2]
        depth[i] = len(containers)
        parents[i] = (min(containers,
                          key=lambda j: abs(_ring_signed_area2(rings[j])))
                      if containers else None)
    polys = {}
    for i in order:
        if depth[i] % 2 == 0:
            polys[i] = [rings[i]]
    for i in order:
        if depth[i] % 2 == 1 and parents[i] in polys:
            polys[parents[i]].append(rings[i])
    out = list(polys.values())
    if len(out) == 1:
        return Geometry(WKB_POLYGON, out[0], geom.srid)
    return Geometry(WKB_MULTIPOLYGON, out, geom.srid)


def delaunay_triangles(geom: Geometry) -> List[Tuple[Coord, Coord, Coord]]:
    """Delaunay triangulation of the geometry's distinct vertices by
    Bowyer–Watson incremental insertion with a super-triangle (public
    textbook algorithm).  Returns CCW triangles; fewer than 3 distinct
    non-collinear points → []."""
    pts = sorted({_snap(c) for part in geom.flatten()
                  for c in ([part.coords] if part.kind == WKB_POINT
                            else [p for r in part.coords for p in r]
                            if part.kind == WKB_POLYGON else part.coords)
                  if c is not None})
    if len(pts) < 3:
        return []
    xs, ys = [p[0] for p in pts], [p[1] for p in pts]
    cx, cy = (min(xs) + max(xs)) / 2, (min(ys) + max(ys)) / 2
    span = max(max(xs) - min(xs), max(ys) - min(ys), 1.0) * 16
    sup = [(cx - span, cy - span / 2), (cx + span, cy - span / 2),
           (cx, cy + span)]

    def circum_contains(tri, p):
        (ax, ay), (bx, by), (cx_, cy_) = tri
        d = 2 * (ax * (by - cy_) + bx * (cy_ - ay) + cx_ * (ay - by))
        if abs(d) < 1e-30:
            return False
        ux = ((ax * ax + ay * ay) * (by - cy_) + (bx * bx + by * by)
              * (cy_ - ay) + (cx_ * cx_ + cy_ * cy_) * (ay - by)) / d
        uy = ((ax * ax + ay * ay) * (cx_ - bx) + (bx * bx + by * by)
              * (ax - cx_) + (cx_ * cx_ + cy_ * cy_) * (bx - ax)) / d
        r2 = (ax - ux) ** 2 + (ay - uy) ** 2
        return (p[0] - ux) ** 2 + (p[1] - uy) ** 2 < r2 - 1e-12

    tris = [tuple(sup)]
    for p in pts:
        bad = [t for t in tris if circum_contains(t, p)]
        edges: dict = {}
        for t in bad:
            for i in range(3):
                e = (t[i], t[(i + 1) % 3])
                k = (min(e), max(e))
                edges[k] = None if k in edges else e
        tris = [t for t in tris if t not in bad]
        for e in edges.values():
            if e is not None:
                tris.append((e[0], e[1], p))
    sup_set = set(sup)
    out = []
    for t in tris:
        if sup_set & set(t):
            continue
        a2 = _ring_signed_area2([t[0], t[1], t[2], t[0]])
        if abs(a2) <= EPS:
            continue
        out.append(t if a2 > 0 else (t[0], t[2], t[1]))
    return out


def concave_hull(geom: Geometry, pct_convex: float = 0.3) -> Geometry:
    """Concave hull of the geometry's vertices by border-triangle erosion
    of the Delaunay triangulation (the GEOS/Sedona ConcaveHullOfPoints
    design, re-derived from its published description): starting from the
    convex hull (= all Delaunay triangles), repeatedly remove the border
    triangle whose outer edge is longest, while that edge is longer than
    ``maxLen = shortest + pct_convex * (longest - shortest)`` over the
    triangulation's edges and removal keeps the region simply connected
    (the removed triangle's opposite vertex must not already lie on the
    boundary).  pct_convex 1 → convex hull; smaller → tighter hull.
    Exact triangle-set equality with GEOS is not guaranteed (erosion
    order may differ on ties); the containment and edge-length contracts
    are."""
    tris = delaunay_triangles(geom)
    if not tris:
        return convex_hull(geom)
    if not 0.0 <= pct_convex <= 1.0:
        raise ValueError("pct_convex must be in [0, 1]")

    def elen(e):
        return math.hypot(e[0][0] - e[1][0], e[0][1] - e[1][1])

    all_edges = {tuple(sorted((t[i], t[(i + 1) % 3])))
                 for t in tris for i in range(3)}
    lens = [elen(e) for e in all_edges]
    max_len = min(lens) + pct_convex * (max(lens) - min(lens))

    alive = set(range(len(tris)))
    edge_tris: dict = {}
    for i, t in enumerate(tris):
        for k in range(3):
            e = tuple(sorted((t[k], t[(k + 1) % 3])))
            edge_tris.setdefault(e, []).append(i)

    def boundary_edges():
        return {e for e, ts in edge_tris.items()
                if sum(1 for i in ts if i in alive) == 1}

    changed = True
    while changed:
        changed = False
        bnd = boundary_edges()
        bnd_pts = {p for e in bnd for p in e}
        # longest-border-edge-first erosion
        for e in sorted(bnd, key=elen, reverse=True):
            if elen(e) <= max_len:
                break
            i = next((i for i in edge_tris[e] if i in alive), None)
            if i is None:
                continue
            opp = next(p for p in tris[i] if p not in e)
            if opp in bnd_pts:      # would pinch the region — skip
                continue
            alive.discard(i)
            changed = True
            break
    segs = [[list(e)[0], list(e)[1]] for e, ts in edge_tris.items()
            if sum(1 for i in ts if i in alive) == 1]
    rings = [r for r in (_strip_spurs(f) for f in _polygonize_faces(segs))
             if len(r) >= 4 and _ring_signed_area2(r) > EPS]
    if not rings:
        return convex_hull(geom)
    if len(rings) == 1:
        return Geometry(WKB_POLYGON, rings, geom.srid)
    order = sorted(rings, key=lambda r: -abs(_ring_signed_area2(r)))
    return Geometry(WKB_POLYGON, [order[0]], geom.srid)


def line_from_multipoint(geom: Geometry) -> Geometry:
    """Sedona ST_LineFromMultiPoint: the linestring through a multipoint's
    coordinates in order (null for other inputs, matching Sedona)."""
    if geom.kind != WKB_MULTIPOINT or geom.is_empty():
        return None
    return Geometry(WKB_LINESTRING,
                    [c for c in geom.coords if c is not None], geom.srid)


# ---------------------------------------------------------------------------
# affine transforms / part dumps / proximity constructors (Sedona tier-2
# surface the reference exposes through its Sedona dependency —
# /root/reference/README.md:30-38)
# ---------------------------------------------------------------------------

def _map_coords(geom: Geometry, f) -> Geometry:
    """Apply a coordinate mapping (x, y) -> (x, y) through any nesting."""
    def run(c):
        if c is None:
            return None
        if isinstance(c, tuple):
            return f(c)
        return [run(x) for x in c]

    if geom.kind == WKB_GEOMETRYCOLLECTION:
        return Geometry.collection([_map_coords(g, f) for g in geom.coords],
                                   geom.srid)
    return Geometry(geom.kind, run(geom.coords), geom.srid, z=geom.z)


def translate(geom: Geometry, dx: float, dy: float) -> Geometry:
    return _map_coords(geom, lambda c: (c[0] + dx, c[1] + dy))


def scale_geom(geom: Geometry, sx: float, sy: float) -> Geometry:
    """Scale about the origin (PostGIS/Sedona ST_Scale semantics)."""
    return _map_coords(geom, lambda c: (c[0] * sx, c[1] * sy))


def rotate(geom: Geometry, theta: float) -> Geometry:
    """Counter-clockwise rotation about the origin (radians)."""
    ct, st = math.cos(theta), math.sin(theta)
    return _map_coords(geom, lambda c: (c[0] * ct - c[1] * st,
                                        c[0] * st + c[1] * ct))


def force_2d(geom: Geometry) -> Geometry:
    """Drop the Z ordinate (the engine's algorithms are 2-D; only POINT
    carries Z — model.py:76-79)."""
    if geom.kind == WKB_GEOMETRYCOLLECTION:
        return Geometry.collection([force_2d(g) for g in geom.coords],
                                   geom.srid)
    return Geometry(geom.kind, geom.coords, geom.srid, z=None)


_MULTI_OF = {WKB_POINT: WKB_MULTIPOINT, WKB_LINESTRING: WKB_MULTILINESTRING,
             WKB_POLYGON: WKB_MULTIPOLYGON}


def as_multi(geom: Geometry) -> Geometry:
    """Wrap a single geometry in its multi-variant (ST_Multi); multi /
    collection inputs pass through unchanged."""
    mk = _MULTI_OF.get(geom.kind)
    if mk is None:
        return geom
    if geom.is_empty():
        return Geometry(mk, [], geom.srid)
    return Geometry(mk, [geom.coords], geom.srid)


def dump_parts(geom: Geometry) -> List[Geometry]:
    """ST_Dump: the single-part components, recursively through multis and
    collections."""
    k = geom.kind
    if k == WKB_GEOMETRYCOLLECTION:
        out: List[Geometry] = []
        for g in geom.coords:
            out.extend(dump_parts(g))
        return out
    if k in (WKB_MULTIPOINT, WKB_MULTILINESTRING, WKB_MULTIPOLYGON):
        base = {WKB_MULTIPOINT: WKB_POINT,
                WKB_MULTILINESTRING: WKB_LINESTRING,
                WKB_MULTIPOLYGON: WKB_POLYGON}[k]
        return [Geometry(base, c, geom.srid) for c in geom.coords]
    return [geom]


def dump_points(geom: Geometry) -> List[Geometry]:
    """ST_DumpPoints: every vertex as a POINT, in storage order."""
    out: List[Geometry] = []
    for g in geom.flatten():
        if g.kind == WKB_POINT:
            if g.coords is not None:
                out.append(g)
        elif g.kind == WKB_LINESTRING:
            out.extend(Geometry(WKB_POINT, c, geom.srid) for c in g.coords)
        elif g.kind == WKB_POLYGON:
            for ring in g.coords:
                out.extend(Geometry(WKB_POINT, c, geom.srid) for c in ring)
    return out


def _vertices(geom: Geometry) -> List[Coord]:
    return [g.coords for g in dump_points(geom)]


def _proj_pt_seg(p: Coord, a: Coord, b: Coord) -> Coord:
    dx, dy = b[0] - a[0], b[1] - a[1]
    L2 = dx * dx + dy * dy
    if L2 <= 0:
        return a
    t = ((p[0] - a[0]) * dx + (p[1] - a[1]) * dy) / L2
    t = max(0.0, min(1.0, t))
    return (a[0] + t * dx, a[1] + t * dy)


def nearest_points(g1: Geometry, g2: Geometry):
    """The closest pair (p_on_g1, p_on_g2); for intersecting inputs a common
    point of the intersection (distance 0), matching PostGIS/JTS
    nearestPoints semantics.  For disjoint inputs the optimum pair always
    involves a vertex of one side projected onto a segment (or vertex) of
    the other, so scanning vertex×segment both ways is exact."""
    if g1.is_empty() or g2.is_empty():
        return None
    if intersects(g1, g2):
        inter = intersection(g1, g2)
        vs = _vertices(inter) if inter is not None else []
        if vs:
            return vs[0], vs[0]
        # fallback: any vertex of g1 inside g2
        for v in _vertices(g1):
            if intersects(Geometry(WKB_POINT, v), g2):
                return v, v
    best, bp = math.inf, None
    v1, v2 = _vertices(g1), _vertices(g2)
    s1, s2 = list(_segments(g1)), list(_segments(g2))
    for p in v1:
        for q in v2:
            d = _dist_pt_pt(p, q)
            if d < best:
                best, bp = d, (p, q)
        for a, b in s2:
            q = _proj_pt_seg(p, a, b)
            d = _dist_pt_pt(p, q)
            if d < best:
                best, bp = d, (p, q)
    for q in v2:
        for a, b in s1:
            p = _proj_pt_seg(q, a, b)
            d = _dist_pt_pt(p, q)
            if d < best:
                best, bp = d, (p, q)
    return bp


def closest_point(g1: Geometry, g2: Geometry) -> Optional[Geometry]:
    """The point ON g1 closest to g2 (ST_ClosestPoint)."""
    np_ = nearest_points(g1, g2)
    if np_ is None:
        return None
    return Geometry(WKB_POINT, np_[0], g1.srid)


def shortest_line(g1: Geometry, g2: Geometry) -> Optional[Geometry]:
    """The 2-point LineString between the closest pair (ST_ShortestLine)."""
    np_ = nearest_points(g1, g2)
    if np_ is None:
        return None
    return Geometry(WKB_LINESTRING, [np_[0], np_[1]], g1.srid)


# -- minimum enclosing circle (Welzl, move-to-front deterministic order) ----

def _circ_in(p: Coord, c) -> bool:
    (cx, cy), r = c
    return math.hypot(p[0] - cx, p[1] - cy) <= r + 1e-12 * (1.0 + r)


def _circ2(a: Coord, b: Coord):
    return ((a[0] + b[0]) / 2.0, (a[1] + b[1]) / 2.0), _dist_pt_pt(a, b) / 2.0


def _circ3(a: Coord, b: Coord, c: Coord):
    ax, ay = b[0] - a[0], b[1] - a[1]
    bx, by = c[0] - a[0], c[1] - a[1]
    d = 2.0 * (ax * by - ay * bx)
    if abs(d) < 1e-30:
        # collinear: the widest 2-point circle
        cands = [_circ2(a, b), _circ2(a, c), _circ2(b, c)]
        return max(cands, key=lambda x: x[1])
    ux = (by * (ax * ax + ay * ay) - ay * (bx * bx + by * by)) / d
    uy = (ax * (bx * bx + by * by) - bx * (ax * ax + ay * ay)) / d
    ctr = (a[0] + ux, a[1] + uy)
    return ctr, _dist_pt_pt(ctr, a)


def min_bounding_radius(geom: Geometry):
    """((cx, cy), r) of the minimum enclosing circle of the geometry's
    vertices (Welzl's algorithm with deterministic move-to-front order —
    exact; vertex set suffices since the MEC of a polygon equals the MEC
    of its vertices)."""
    pts = []
    seen = set()
    for v in _vertices(geom):
        if v not in seen:
            seen.add(v)
            pts.append(v)
    if not pts:
        return None
    c = (pts[0], 0.0)
    for i, p in enumerate(pts[1:], 1):
        if _circ_in(p, c):
            continue
        c = (p, 0.0)
        for j, q in enumerate(pts[:i]):
            if _circ_in(q, c):
                continue
            c = _circ2(p, q)
            for r_ in pts[:j]:
                if not _circ_in(r_, c):
                    c = _circ3(p, q, r_)
    return c


def min_bounding_circle(geom: Geometry, segs: int = 48) -> Optional[Geometry]:
    """Polygon approximation of the minimum enclosing circle
    (ST_MinimumBoundingCircle; ``segs`` perimeter vertices)."""
    c = min_bounding_radius(geom)
    if c is None:
        return None
    (cx, cy), r = c
    if r <= 0.0:
        return Geometry(WKB_POINT, (cx, cy), geom.srid)
    ring = [(cx + r * math.cos(2 * math.pi * i / segs),
             cy + r * math.sin(2 * math.pi * i / segs))
            for i in range(segs)]
    ring.append(ring[0])
    return Geometry(WKB_POLYGON, [ring], geom.srid)


def farthest_points(g1: Geometry, g2: Geometry):
    """The farthest pair (p_on_g1, p_on_g2).  Distance is convex along a
    segment, so its maximum over any segment is at an endpoint — the
    vertex×vertex scan is exact (JTS MaxDistance semantics)."""
    if g1.is_empty() or g2.is_empty():
        return None
    best, bp = -1.0, None
    for p in _vertices(g1):
        for q in _vertices(g2):
            d = _dist_pt_pt(p, q)
            if d > best:
                best, bp = d, (p, q)
    return bp


def longest_line(g1: Geometry, g2: Geometry) -> Optional[Geometry]:
    """2-point LineString between the farthest pair (ST_LongestLine)."""
    fp = farthest_points(g1, g2)
    if fp is None:
        return None
    return Geometry(WKB_LINESTRING, [fp[0], fp[1]], g1.srid)


def max_distance(g1: Geometry, g2: Geometry) -> Optional[float]:
    fp = farthest_points(g1, g2)
    return None if fp is None else _dist_pt_pt(fp[0], fp[1])


def line_locate_point(line: Geometry, pt: Geometry) -> Optional[float]:
    """Fraction of ``line``'s length at the point on the line closest to
    ``pt`` (ST_LineLocatePoint)."""
    if line.kind != WKB_LINESTRING or len(line.coords) < 2 \
            or pt.kind != WKB_POINT or pt.coords is None:
        return None
    total = length(line)
    if total <= 0:
        return 0.0
    best, best_at, acc = math.inf, 0.0, 0.0
    for i in range(len(line.coords) - 1):
        a, b = line.coords[i], line.coords[i + 1]
        L = math.hypot(b[0] - a[0], b[1] - a[1])
        q = _proj_pt_seg(pt.coords, a, b)
        d = _dist_pt_pt(pt.coords, q)
        if d < best:
            best = d
            best_at = acc + math.hypot(q[0] - a[0], q[1] - a[1])
        acc += L
    return max(0.0, min(1.0, best_at / total))


_EXTRACT_KIND = {1: (WKB_POINT, WKB_MULTIPOINT),
                 2: (WKB_LINESTRING, WKB_MULTILINESTRING),
                 3: (WKB_POLYGON, WKB_MULTIPOLYGON)}


def collection_extract(geom: Geometry, dim: int) -> Optional[Geometry]:
    """ST_CollectionExtract: the multi-geometry of all components of the
    requested dimension class (1 point, 2 line, 3 polygon)."""
    if dim not in _EXTRACT_KIND:
        return None
    base, multi = _EXTRACT_KIND[dim]
    parts = [g for g in dump_parts(geom) if g.kind == base]
    return Geometry(multi, [g.coords for g in parts], geom.srid)


def affine(geom: Geometry, a: float, b: float, d: float, e: float,
           xoff: float, yoff: float) -> Geometry:
    """2-D affine transform (PostGIS ST_Affine):
    x' = a*x + b*y + xoff;  y' = d*x + e*y + yoff."""
    return _map_coords(geom, lambda c: (a * c[0] + b * c[1] + xoff,
                                        d * c[0] + e * c[1] + yoff))


def project_point(pt: Geometry, dist: float, azimuth: float) -> Optional[Geometry]:
    """ST_Project: the point ``dist`` away along ``azimuth`` (radians
    clockwise from north — planar version)."""
    if pt.kind != WKB_POINT or pt.coords is None:
        return None
    x, y = pt.coords
    return Geometry(WKB_POINT, (x + dist * math.sin(azimuth),
                                y + dist * math.cos(azimuth)), pt.srid)


def segmentize(geom: Geometry, max_len: float) -> Geometry:
    """ST_Segmentize: insert vertices so no segment exceeds ``max_len``
    (points and degenerate inputs pass through)."""
    if max_len <= 0:
        return geom

    def densify(ring):
        out = []
        for i in range(len(ring) - 1):
            a, b = ring[i], ring[i + 1]
            seg = _dist_pt_pt(a, b)
            n = max(1, math.ceil(seg / max_len - 1e-12))
            out.append(a)
            for j in range(1, n):
                t = j / n
                out.append((a[0] + (b[0] - a[0]) * t,
                            a[1] + (b[1] - a[1]) * t))
        out.append(ring[-1])
        return out

    k = geom.kind
    if k == WKB_LINESTRING:
        return Geometry(k, densify(geom.coords), geom.srid) \
            if len(geom.coords) >= 2 else geom
    if k == WKB_POLYGON:
        return Geometry(k, [densify(r) for r in geom.coords], geom.srid)
    if k == WKB_MULTILINESTRING:
        return Geometry(k, [densify(l) for l in geom.coords], geom.srid)
    if k == WKB_MULTIPOLYGON:
        return Geometry(k, [[densify(r) for r in p] for p in geom.coords],
                        geom.srid)
    if k == WKB_GEOMETRYCOLLECTION:
        return Geometry.collection([segmentize(g, max_len)
                                    for g in geom.coords], geom.srid)
    return geom


def point_on_surface(geom: Geometry) -> Optional[Geometry]:
    """A point guaranteed ON the geometry (JTS getInteriorPoint contract):
    centroid if it lies on the geometry, else — for areal inputs — the
    midpoint of the widest centroid-scanline crossing (always interior for
    valid polygons), a vertex otherwise."""
    if geom.is_empty():
        return None
    c = centroid(geom)
    if c is not None and not c.is_empty() \
            and intersects(Geometry(WKB_POINT, c.coords), geom):
        return Geometry(WKB_POINT, c.coords, geom.srid)
    kinds = {g.kind for g in geom.flatten()}
    if kinds & {WKB_POLYGON}:
        cy = c.coords[1] if c is not None and c.coords else 0.0
        # crossings of the horizontal line y=cy with every polygon edge
        xs = []
        for g in geom.flatten():
            if g.kind != WKB_POLYGON:
                continue
            for ring in g.coords:
                for i in range(len(ring) - 1):
                    (x1, y1), (x2, y2) = ring[i], ring[i + 1]
                    if (y1 > cy) != (y2 > cy):
                        xs.append(x1 + (cy - y1) * (x2 - x1) / (y2 - y1))
        xs.sort()
        best, bx = -1.0, None
        for i in range(0, len(xs) - 1, 2):   # inside spans by parity
            if xs[i + 1] - xs[i] > best:
                best = xs[i + 1] - xs[i]
                bx = (xs[i] + xs[i + 1]) / 2.0
        if bx is not None:
            return Geometry(WKB_POINT, (bx, cy), geom.srid)
    vs = _vertices(geom)
    return Geometry(WKB_POINT, vs[0], geom.srid) if vs else None


# ---------------------------------------------------------------------------
# round-7 tier-2 batch: geometric median, discrete Hausdorff / Frechet,
# Visvalingam-Whyatt simplification, unary union / polygonize, bounding
# diagonal, shifted longitude, spheroid length, best-SRID suggestion
# (the remaining commonly-used Sedona scalar names —
# /root/reference/README.md:30-38 pulls them in via the Sedona catalog)
# ---------------------------------------------------------------------------

def geometric_median(geom: Geometry, max_iter: int = 200,
                     tol: float = 1e-12) -> Optional[Geometry]:
    """Weiszfeld iteration for the point minimizing the sum of distances
    to the input's vertices (Sedona's ST_GeometricMedian).  The classic
    vertex-collision singularity is handled with an epsilon-smoothed
    distance (sqrt(d^2 + 1e-30)), which converges to the same optimum
    within ``tol``."""
    pts = _vertices(geom)
    pts = [p for p in pts if p is not None]
    if not pts:
        return None
    x = sum(p[0] for p in pts) / len(pts)
    y = sum(p[1] for p in pts) / len(pts)
    for _ in range(max_iter):
        sw = sx = sy = 0.0
        for px, py in pts:
            d = math.sqrt((px - x) ** 2 + (py - y) ** 2 + 1e-30)
            w = 1.0 / d
            sw += w
            sx += px * w
            sy += py * w
        nx, ny = sx / sw, sy / sw
        if abs(nx - x) <= tol and abs(ny - y) <= tol:
            x, y = nx, ny
            break
        x, y = nx, ny
    return Geometry.point(x, y, geom.srid)


def bounding_diagonal(geom: Geometry) -> Geometry:
    """LINESTRING(xmin ymin, xmax ymax) of the envelope (PostGIS/Sedona
    ST_BoundingDiagonal); EMPTY input -> LINESTRING EMPTY."""
    env = geom.envelope()
    if env is None:
        return Geometry(WKB_LINESTRING, [], geom.srid)
    xmin, ymin, xmax, ymax = env
    return Geometry.linestring([(xmin, ymin), (xmax, ymax)], geom.srid)


def shift_longitude(geom: Geometry) -> Geometry:
    """Map x in [-180, 0) to [180, 360) (Sedona ST_ShiftLongitude) — the
    dateline-wrapping normalization for Pacific-centric maps."""
    return _map_coords(
        geom, lambda c: (c[0] + 360.0 if c[0] < 0.0 else c[0], c[1]))


def hausdorff_distance(g1: Geometry, g2: Geometry) -> Optional[float]:
    """Discrete Hausdorff distance over the vertex sets, both directions
    (JTS DiscreteHausdorffDistance with densify 1.0 — the semantics
    Sedona's ST_HausdorffDistance exposes by default): the exact value
    is vertex-to-GEOMETRY, so each vertex is measured against the other
    side's full point/segment set via the engine's exact distance."""
    v1, v2 = _vertices(g1), _vertices(g2)
    if not v1 or not v2:
        return None

    def one_way(vs, other):
        worst = 0.0
        for p in vs:
            d = distance(Geometry.point(p[0], p[1]), other)
            if d is None:
                return None
            worst = max(worst, d)
        return worst

    a, b = one_way(v1, g2), one_way(v2, g1)
    return None if a is None or b is None else max(a, b)


def frechet_distance(g1: Geometry, g2: Geometry) -> Optional[float]:
    """Discrete Frechet distance between the two vertex SEQUENCES
    (dog-walking distance; Eiter & Mannila 1994 dynamic program) —
    order-sensitive, unlike Hausdorff, so reversed trajectories score
    differently.  O(n*m) table over vertices."""
    p, q = _vertices(g1), _vertices(g2)
    if not p or not q:
        return None

    def d(i, j):
        return math.hypot(p[i][0] - q[j][0], p[i][1] - q[j][1])

    n, m = len(p), len(q)
    prev = [0.0] * m
    for i in range(n):
        cur = [0.0] * m
        for j in range(m):
            dij = d(i, j)
            if i == 0 and j == 0:
                cur[j] = dij
            elif i == 0:
                cur[j] = max(cur[j - 1], dij)
            elif j == 0:
                cur[j] = max(prev[j], dij)
            else:
                cur[j] = max(min(prev[j], prev[j - 1], cur[j - 1]), dij)
        prev = cur
    return prev[m - 1]


def _vw_ring(coords, tol_area, closed):
    """Visvalingam-Whyatt: repeatedly drop the vertex whose triangle with
    its neighbours has the smallest effective area, until every remaining
    vertex's area >= tol_area.  Endpoints (or the ring closure) are kept."""
    pts = list(coords)
    if closed and len(pts) > 1 and pts[0] == pts[-1]:
        pts = pts[:-1]
    min_keep = 3 if closed else 2

    def tri_area(a, b, c):
        return abs((b[0] - a[0]) * (c[1] - a[1])
                   - (c[0] - a[0]) * (b[1] - a[1])) / 2.0

    while len(pts) > min_keep:
        best_i, best_a = -1, None
        rng = range(len(pts)) if closed else range(1, len(pts) - 1)
        for i in rng:
            a = pts[i - 1] if i > 0 else pts[-1]
            c = pts[(i + 1) % len(pts)]
            ar = tri_area(a, pts[i], c)
            if best_a is None or ar < best_a:
                best_i, best_a = i, ar
        if best_a is None or best_a >= tol_area:
            break
        pts.pop(best_i)
    if closed:
        pts = pts + [pts[0]]
    return pts


def simplify_vw(geom: Geometry, tol_area: float) -> Geometry:
    """Visvalingam-Whyatt simplification (Sedona/PostGIS ST_SimplifyVW):
    the tolerance is an AREA, not a distance — vertices forming triangles
    smaller than ``tol_area`` with their neighbours are dropped."""
    if geom.kind == WKB_LINESTRING:
        return Geometry(WKB_LINESTRING,
                        _vw_ring(geom.coords, tol_area, closed=False)
                        if geom.coords else [], geom.srid)
    if geom.kind == WKB_POLYGON:
        return Geometry(WKB_POLYGON,
                        [_vw_ring(r, tol_area, closed=True)
                         for r in geom.coords], geom.srid)
    if geom.kind == WKB_MULTILINESTRING:
        return Geometry(WKB_MULTILINESTRING,
                        [_vw_ring(r, tol_area, closed=False)
                         for r in geom.coords], geom.srid)
    if geom.kind == WKB_MULTIPOLYGON:
        return Geometry(WKB_MULTIPOLYGON,
                        [[_vw_ring(r, tol_area, closed=True) for r in poly]
                         for poly in geom.coords], geom.srid)
    if geom.kind == WKB_GEOMETRYCOLLECTION:
        return Geometry.collection(
            [simplify_vw(g, tol_area) for g in geom.coords], geom.srid)
    return geom


def unary_union(geom: Geometry) -> Optional[Geometry]:
    """Union of a single input's components (ST_UnaryUnion): dissolves
    overlapping members of a multi/collection; a simple geometry unions
    with itself (fixing self-overlap where the union core handles it)."""
    parts = dump_parts(geom)
    if not parts:
        return Geometry.empty(WKB_GEOMETRYCOLLECTION, geom.srid)
    return union_all(parts)


def polygonize(geom: Geometry) -> Geometry:
    """GEOMETRYCOLLECTION of the polygons formed by the input linework
    (ST_Polygonize) — the face-walking core of ST_BuildArea, re-wrapped
    with the PostGIS return convention (a collection, holes' faces kept
    as their own polygons is NOT done here: matching BuildArea's
    odd-even nesting, interior faces become holes)."""
    built = build_area(geom)
    if built is None or built.is_empty():
        return Geometry.collection([], geom.srid)
    polys = [g for g in dump_parts(built) if g.kind == WKB_POLYGON]
    return Geometry.collection(polys, geom.srid)


def length_spheroid(geom: Geometry, dist_fn) -> Optional[float]:
    """Geodesic length: the sum of spheroid distances over consecutive
    vertices of every line component.  ``dist_fn(lon1, lat1, lon2, lat2)``
    is injected (the WGS84 geodesic lives in functions/udfs_ext)."""
    total = 0.0
    seen = False
    for part in dump_parts(geom):
        rings = []
        if part.kind == WKB_LINESTRING:
            rings = [part.coords]
        elif part.kind == WKB_POLYGON:
            rings = part.coords
        for ring in rings:
            seen = True
            for a, b in zip(ring, ring[1:]):
                total += dist_fn(a[0], a[1], b[0], b[1])
    return total if seen else 0.0


def best_srid(geom: Geometry) -> Optional[int]:
    """Suggested planar EPSG for measuring this geometry (the PostGIS
    _ST_BestSRID convention): UPS North (32661) above 84N, UPS South
    (32761) below 80S, else the centroid's UTM zone (326xx / 327xx)."""
    c = centroid(geom)
    if c is None or c.coords is None:
        return None
    lon, lat = c.coords
    if lat > 84.0:
        return 32661
    if lat < -80.0:
        return 32761
    zone = min(60, max(1, int(math.floor((lon + 180.0) / 6.0)) + 1))
    return (32600 if lat >= 0 else 32700) + zone
