"""Generic pandas-UDF bodies for the ST_* catalog.

These are the engine's *general* path: Arrow-batched pandas UDFs over WKB
``BinaryType`` columns, decoding with the pure-Python geom core.  The hot
paths (points/boxes from numeric columns) never reach these — the expression
API in ``api.py`` compiles those to native Catalyst expressions instead
(see SURVEY.md §4.1: the reference's pushdown rule dissolves into plain
column predicates in our design).

Parity target: the Sedona 1.4.0 function surface the reference registers
wholesale via ``SedonaExpressionsRegistrator.scala:36-47`` (SURVEY.md §2 C.2).
"""

from __future__ import annotations

import math
from typing import Callable, Dict, Optional

import numpy as np
import pandas as pd
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import (ArrayType, BinaryType, BooleanType, DoubleType,
                               IntegerType, StringType)

# DataType objects (not DDL strings) so UDFs can be created without an
# active SparkContext (string return types are context-parsed lazily)
_BIN = BinaryType()
_BOOL = BooleanType()
_DBL = DoubleType()
_STR = StringType()
_INT = IntegerType()

from ..geom import algos as A
from ..geom.io import from_wkb, from_wkt, to_wkb, to_wkt
from ..geom.model import (
    Geometry,
    WKB_GEOMETRYCOLLECTION,
    WKB_LINESTRING,
    WKB_MULTILINESTRING,
    WKB_MULTIPOINT,
    WKB_MULTIPOLYGON,
    WKB_POINT,
    WKB_POLYGON,
)
from ..geom import vec


def _u1(fn, ret):
    """Unary WKB-in UDF with NULL propagation."""
    @pandas_udf(ret)
    def f(a: pd.Series) -> pd.Series:
        return a.map(lambda b: None if b is None else fn(from_wkb(b)))
    return f


def _u1_geom(fn):
    """Unary WKB→WKB transform."""
    @pandas_udf(_BIN)
    def f(a: pd.Series) -> pd.Series:
        def run(b):
            if b is None:
                return None
            g = fn(from_wkb(b))
            return None if g is None else to_wkb(g)
        return a.map(run)
    return f


def _u2(fn, ret):
    """Binary (WKB, WKB) UDF with NULL propagation."""
    @pandas_udf(ret)
    def f(a: pd.Series, b: pd.Series) -> pd.Series:
        out = []
        for x, y in zip(a, b):
            if x is None or y is None:
                out.append(None)
            else:
                out.append(fn(from_wkb(x), from_wkb(y)))
        return pd.Series(out, dtype=object)
    return f


def _u2_geom(fn):
    @pandas_udf(_BIN)
    def f(a: pd.Series, b: pd.Series) -> pd.Series:
        out = []
        for x, y in zip(a, b):
            if x is None or y is None:
                out.append(None)
            else:
                g = fn(from_wkb(x), from_wkb(y))
                out.append(None if g is None else to_wkb(g))
        return pd.Series(out, dtype=object)
    return f


# ---------------------------------------------------------------------------
# constructors
# ---------------------------------------------------------------------------

@pandas_udf(_BIN)
def st_point(x: pd.Series, y: pd.Series) -> pd.Series:
    # vectorized 21-byte WKB, no per-row Python (geom/vec.py)
    return vec.points_to_wkb(x, y)


@pandas_udf(_BIN)
def st_geomfromtext(wkt: pd.Series) -> pd.Series:
    return wkt.map(lambda s: None if s is None else to_wkb(from_wkt(s)))


@pandas_udf(_BIN)
def st_geomfromwkb(wkb: pd.Series) -> pd.Series:
    # normalizes any EWKB/big-endian input into canonical little-endian ISO WKB
    return wkb.map(lambda b: None if b is None else to_wkb(from_wkb(bytes(b))))


@pandas_udf(_BIN)
def st_polygonfromenvelope(xmin: pd.Series, ymin: pd.Series,
                           xmax: pd.Series, ymax: pd.Series) -> pd.Series:
    # NULL when any corner is NULL or NaN, as for ST_Point (Arrow hands a
    # NULL double over as NaN, so the two cannot be told apart here)
    missing = pd.isna(xmin) | pd.isna(ymin) | pd.isna(xmax) | pd.isna(ymax)
    out = [None if m else to_wkb(Geometry.box(float(a), float(b), float(c), float(d)))
           for m, a, b, c, d in zip(missing, xmin, ymin, xmax, ymax)]
    return pd.Series(out, dtype=object)


@pandas_udf(_BIN)
def st_makepolygon(shell: pd.Series) -> pd.Series:
    def run(b):
        if b is None:
            return None
        g = from_wkb(b)
        if g.kind != WKB_LINESTRING or len(g.coords) < 4:
            return None
        ring = list(g.coords)
        if ring[0] != ring[-1]:
            ring.append(ring[0])
        return to_wkb(Geometry(WKB_POLYGON, [ring]))
    return shell.map(run)


# GeoHash constructor/output -------------------------------------------------

_B32 = "0123456789bcdefghjkmnpqrstuvwxyz"


def _geohash_encode(lon: float, lat: float, precision: int) -> str:
    lat_lo, lat_hi = -90.0, 90.0
    lon_lo, lon_hi = -180.0, 180.0
    bits = []
    even = True
    while len(bits) < precision * 5:
        if even:
            mid = (lon_lo + lon_hi) / 2
            if lon >= mid:
                bits.append(1); lon_lo = mid
            else:
                bits.append(0); lon_hi = mid
        else:
            mid = (lat_lo + lat_hi) / 2
            if lat >= mid:
                bits.append(1); lat_lo = mid
            else:
                bits.append(0); lat_hi = mid
        even = not even
    out = []
    for i in range(0, len(bits), 5):
        out.append(_B32[int("".join(map(str, bits[i:i + 5])), 2)])
    return "".join(out)


def _geohash_decode_box(gh: str):
    lat_lo, lat_hi = -90.0, 90.0
    lon_lo, lon_hi = -180.0, 180.0
    even = True
    for ch in gh:
        val = _B32.index(ch)
        for shift in range(4, -1, -1):
            bit = (val >> shift) & 1
            if even:
                mid = (lon_lo + lon_hi) / 2
                if bit:
                    lon_lo = mid
                else:
                    lon_hi = mid
            else:
                mid = (lat_lo + lat_hi) / 2
                if bit:
                    lat_lo = mid
                else:
                    lat_hi = mid
            even = not even
    return lon_lo, lat_lo, lon_hi, lat_hi


@pandas_udf(_STR)
def st_geohash(wkb: pd.Series, precision: pd.Series) -> pd.Series:
    out = []
    for b, p in zip(wkb, precision):
        if b is None or p is None:
            out.append(None)
            continue
        g = from_wkb(b)
        c = A.centroid(g)
        out.append(None if c is None else _geohash_encode(c.coords[0], c.coords[1], int(p)))
    return pd.Series(out, dtype=object)


@pandas_udf(_BIN)
def st_geomfromgeohash(gh: pd.Series, precision: pd.Series) -> pd.Series:
    out = []
    for s, p in zip(gh, precision):
        if s is None:
            out.append(None)
            continue
        s2 = s[: int(p)] if p is not None else s
        out.append(to_wkb(Geometry.box(*_geohash_decode_box(s2))))
    return pd.Series(out, dtype=object)


# ---------------------------------------------------------------------------
# predicates (generic path; api.py provides native fast paths)
# ---------------------------------------------------------------------------

st_contains = _u2(A.contains, _BOOL)
st_within = _u2(A.within, _BOOL)
st_covers = _u2(A.covers, _BOOL)
st_coveredby = _u2(A.covered_by, _BOOL)
st_intersects = _u2(A.intersects, _BOOL)
st_disjoint = _u2(A.disjoint, _BOOL)
st_touches = _u2(A.touches, _BOOL)
st_crosses = _u2(A.crosses, _BOOL)
st_overlaps = _u2(A.overlaps, _BOOL)
st_equals = _u2(A.equals, _BOOL)
st_orderingequals = _u2(A.ordering_equals, _BOOL)


# ---------------------------------------------------------------------------
# measures
# ---------------------------------------------------------------------------

st_area = _u1(A.area, _DBL)
st_length = _u1(A.length, _DBL)
st_distance = _u2(A.distance, _DBL)


_EARTH_R = 6371008.7714  # mean earth radius (IUGG), used by Sedona's ST_DistanceSphere


def _haversine(g1: Geometry, g2: Geometry) -> Optional[float]:
    c1, c2 = A.centroid(g1), A.centroid(g2)
    if c1 is None or c2 is None:
        return None
    lon1, lat1 = map(math.radians, c1.coords)
    lon2, lat2 = map(math.radians, c2.coords)
    dlat, dlon = lat2 - lat1, lon2 - lon1
    h = math.sin(dlat / 2) ** 2 + math.cos(lat1) * math.cos(lat2) * math.sin(dlon / 2) ** 2
    return 2 * _EARTH_R * math.asin(min(1.0, math.sqrt(h)))


st_distancesphere = _u2(_haversine, _DBL)


@pandas_udf(_BOOL)
def st_dwithin(wkb1: pd.Series, wkb2: pd.Series, d: pd.Series) -> pd.Series:
    out = []
    for b1, b2, dd in zip(wkb1, wkb2, d):
        if b1 is None or b2 is None or dd is None:
            out.append(None)
        else:
            out.append(A.distance(from_wkb(b1), from_wkb(b2)) <= float(dd))
    return pd.Series(out, dtype=object)


# ---------------------------------------------------------------------------
# accessors
# ---------------------------------------------------------------------------

@pandas_udf(_DBL)
def st_x(wkb: pd.Series) -> pd.Series:
    xs, _ = vec.wkb_to_points(wkb)
    return pd.Series(xs)


@pandas_udf(_DBL)
def st_y(wkb: pd.Series) -> pd.Series:
    _, ys = vec.wkb_to_points(wkb)
    return pd.Series(ys)


def _env_acc(idx):
    def get(g: Geometry):
        e = g.envelope()
        return None if e is None else e[idx]
    return get


st_xmin = _u1(_env_acc(0), _DBL)
st_ymin = _u1(_env_acc(1), _DBL)
st_xmax = _u1(_env_acc(2), _DBL)
st_ymax = _u1(_env_acc(3), _DBL)

st_npoints = _u1(lambda g: g.num_points(), _INT)
st_numgeometries = _u1(lambda g: g.num_geometries(), _INT)
st_geometrytype = _u1(lambda g: "ST_" + g.type_name, _STR)
st_isempty = _u1(lambda g: g.is_empty(), _BOOL)
st_isvalid = _u1(A.is_valid, _BOOL)
st_issimple = _u1(A.is_simple, _BOOL)
st_isclosed = _u1(A.is_closed, _BOOL)
st_isring = _u1(A.is_ring, _BOOL)
st_dimension = _u1(lambda g: g.dimension(), _INT)
st_srid = _u1(lambda g: g.srid, _INT)


@pandas_udf(_BIN)
def st_geometryn(wkb: pd.Series, n: pd.Series) -> pd.Series:
    out = []
    for b, i in zip(wkb, n):
        if b is None or i is None:
            out.append(None)
            continue
        g = from_wkb(b)
        try:
            out.append(to_wkb(g.geometry_n(int(i))))
        except (IndexError, ValueError):
            out.append(None)
    return pd.Series(out, dtype=object)


@pandas_udf(_BIN)
def st_pointn(wkb: pd.Series, n: pd.Series) -> pd.Series:
    # 1-based, negative counts from end (Sedona ST_PointN semantics)
    out = []
    for b, i in zip(wkb, n):
        if b is None or i is None:
            out.append(None)
            continue
        g = from_wkb(b)
        if g.kind != WKB_LINESTRING:
            out.append(None)
            continue
        k = int(i)
        idx = k - 1 if k > 0 else len(g.coords) + k
        if 0 <= idx < len(g.coords):
            out.append(to_wkb(Geometry(WKB_POINT, g.coords[idx])))
        else:
            out.append(None)
    return pd.Series(out, dtype=object)


def _startpoint(g):
    return Geometry(WKB_POINT, g.coords[0]) if g.kind == WKB_LINESTRING and g.coords else None


def _endpoint(g):
    return Geometry(WKB_POINT, g.coords[-1]) if g.kind == WKB_LINESTRING and g.coords else None


st_startpoint = _u1_geom(_startpoint)
st_endpoint = _u1_geom(_endpoint)


def _exterior_ring(g):
    if g.kind == WKB_POLYGON and g.coords:
        return Geometry(WKB_LINESTRING, list(g.coords[0]))
    return None


st_exteriorring = _u1_geom(_exterior_ring)
st_numinteriorrings = _u1(
    lambda g: max(0, len(g.coords) - 1) if g.kind == WKB_POLYGON else None, _INT)


@pandas_udf(_BIN)
def st_interiorringn(wkb: pd.Series, n: pd.Series) -> pd.Series:
    out = []
    for b, i in zip(wkb, n):
        if b is None or i is None:
            out.append(None)
            continue
        g = from_wkb(b)
        # Sedona ST_InteriorRingN is 0-based over interior rings
        idx = int(i) + 1
        if g.kind == WKB_POLYGON and 1 <= idx < len(g.coords):
            out.append(to_wkb(Geometry(WKB_LINESTRING, list(g.coords[idx]))))
        else:
            out.append(None)
    return pd.Series(out, dtype=object)


def _azimuth(g1, g2):
    if g1.kind != WKB_POINT or g2.kind != WKB_POINT:
        return None
    dx = g2.coords[0] - g1.coords[0]
    dy = g2.coords[1] - g1.coords[1]
    if dx == 0 and dy == 0:
        return None
    return math.atan2(dx, dy) % (2 * math.pi)


st_azimuth = _u2(_azimuth, _DBL)


# ---------------------------------------------------------------------------
# transforms / editors
# ---------------------------------------------------------------------------

st_envelope = _u1_geom(A.envelope_geom)
st_boundary = _u1_geom(A.boundary)
st_convexhull = _u1_geom(A.convex_hull)
st_centroid = _u1_geom(A.centroid)
st_flipcoordinates = _u1_geom(A.flip_coordinates)
st_reverse = _u1_geom(A.reverse)
st_normalize = _u1_geom(A.normalize)
st_makevalid = _u1_geom(A.make_valid)
st_intersection = _u2_geom(A.intersection)
st_difference = _u2_geom(A.difference)
st_symdifference = _u2_geom(A.sym_difference)
st_union = _u2_geom(A.union_two)  # areal dissolve included


@pandas_udf(_BIN)
def st_buffer(wkb: pd.Series, dist: pd.Series) -> pd.Series:
    out = []
    for b, d in zip(wkb, dist):
        if b is None or d is None:
            out.append(None)
        else:
            out.append(to_wkb(A.buffer(from_wkb(b), float(d))))
    return pd.Series(out, dtype=object)


@pandas_udf(_BIN)
def st_simplify(wkb: pd.Series, tol: pd.Series) -> pd.Series:
    out = []
    for b, t in zip(wkb, tol):
        if b is None or t is None:
            out.append(None)
        else:
            out.append(to_wkb(A.simplify(from_wkb(b), float(t))))
    return pd.Series(out, dtype=object)


st_simplifypreservetopology = st_simplify  # pragmatic alias (DP core)


@pandas_udf(_BIN)
def st_setsrid(wkb: pd.Series, srid: pd.Series) -> pd.Series:
    out = []
    for b, s in zip(wkb, srid):
        if b is None:
            out.append(None)
        else:
            g = from_wkb(b)
            g.srid = int(s) if s is not None else 0
            out.append(to_wkb(g))
    return pd.Series(out, dtype=object)


@pandas_udf(_BIN)
def st_precisionreduce(wkb: pd.Series, digits: pd.Series) -> pd.Series:
    def reduce_geom(g, nd):
        def red(c):
            if c is None:
                return None
            if isinstance(c, tuple):
                return (round(c[0], nd), round(c[1], nd))
            return [red(x) for x in c]
        if g.kind == WKB_GEOMETRYCOLLECTION:
            return Geometry.collection([reduce_geom(x, nd) for x in g.coords], g.srid)
        return Geometry(g.kind, red(g.coords), g.srid)
    out = []
    for b, d in zip(wkb, digits):
        if b is None or d is None:
            out.append(None)
        else:
            out.append(to_wkb(reduce_geom(from_wkb(b), int(d))))
    return pd.Series(out, dtype=object)


@pandas_udf(_BIN)
def st_addpoint(wkb: pd.Series, pt: pd.Series, pos: pd.Series) -> pd.Series:
    out = []
    for b, p, i in zip(wkb, pt, pos):
        if b is None or p is None:
            out.append(None)
            continue
        g, gp = from_wkb(b), from_wkb(p)
        if g.kind != WKB_LINESTRING or gp.kind != WKB_POINT:
            out.append(None)
            continue
        coords = list(g.coords)
        idx = len(coords) if i is None or int(i) < 0 else int(i)
        coords.insert(idx, gp.coords)
        out.append(to_wkb(Geometry(WKB_LINESTRING, coords)))
    return pd.Series(out, dtype=object)


@pandas_udf(_BIN)
def st_removepoint(wkb: pd.Series, pos: pd.Series) -> pd.Series:
    out = []
    for b, i in zip(wkb, pos):
        if b is None:
            out.append(None)
            continue
        g = from_wkb(b)
        if g.kind != WKB_LINESTRING:
            out.append(None)
            continue
        coords = list(g.coords)
        idx = int(i) if i is not None else len(coords) - 1
        if 0 <= idx < len(coords) and len(coords) > 2:
            del coords[idx]
            out.append(to_wkb(Geometry(WKB_LINESTRING, coords)))
        else:
            out.append(None)
    return pd.Series(out, dtype=object)


def _line_substring(g: Geometry, f0: float, f1: float) -> Optional[Geometry]:
    if g.kind != WKB_LINESTRING or len(g.coords) < 2:
        return None
    total = A.length(g)
    if total == 0:
        return g
    lo, hi = sorted((max(0.0, f0) * total, min(1.0, f1) * total))
    out = []
    acc = 0.0
    for i in range(len(g.coords) - 1):
        a, b = g.coords[i], g.coords[i + 1]
        L = math.hypot(b[0] - a[0], b[1] - a[1])
        if L == 0:
            continue
        s0, s1 = acc, acc + L

        def interp(t):
            return (a[0] + (b[0] - a[0]) * t, a[1] + (b[1] - a[1]) * t)

        if s1 >= lo and s0 <= hi:
            t0 = max(0.0, (lo - s0) / L)
            t1 = min(1.0, (hi - s0) / L)
            p0, p1 = interp(t0), interp(t1)
            if not out:
                out.append(p0)
            if p1 != out[-1]:
                out.append(p1)
        acc = s1
    return Geometry(WKB_LINESTRING, out) if len(out) >= 2 else Geometry(WKB_POINT, out[0] if out else None)


@pandas_udf(_BIN)
def st_linesubstring(wkb: pd.Series, f0: pd.Series, f1: pd.Series) -> pd.Series:
    out = []
    for b, a, c in zip(wkb, f0, f1):
        if b is None or a is None or c is None:
            out.append(None)
        else:
            g = _line_substring(from_wkb(b), float(a), float(c))
            out.append(None if g is None else to_wkb(g))
    return pd.Series(out, dtype=object)


@pandas_udf(_BIN)
def st_lineinterpolatepoint(wkb: pd.Series, frac: pd.Series) -> pd.Series:
    out = []
    for b, f in zip(wkb, frac):
        if b is None or f is None:
            out.append(None)
            continue
        g = from_wkb(b)
        if g.kind != WKB_LINESTRING or len(g.coords) < 2:
            out.append(None)
            continue
        target = max(0.0, min(1.0, float(f))) * A.length(g)
        acc = 0.0
        res = g.coords[-1]
        for i in range(len(g.coords) - 1):
            a, c = g.coords[i], g.coords[i + 1]
            L = math.hypot(c[0] - a[0], c[1] - a[1])
            if acc + L >= target and L > 0:
                t = (target - acc) / L
                res = (a[0] + (c[0] - a[0]) * t, a[1] + (c[1] - a[1]) * t)
                break
            acc += L
        out.append(to_wkb(Geometry(WKB_POINT, res)))
    return pd.Series(out, dtype=object)


def _linemerge(g: Geometry) -> Geometry:
    if g.kind != WKB_MULTILINESTRING:
        return g
    lines = [list(l) for l in g.coords if l]
    merged = True
    while merged and len(lines) > 1:
        merged = False
        for i in range(len(lines)):
            for j in range(i + 1, len(lines)):
                a, b = lines[i], lines[j]
                if a[-1] == b[0]:
                    lines[i] = a + b[1:]
                elif b[-1] == a[0]:
                    lines[i] = b + a[1:]
                elif a[-1] == b[-1]:
                    lines[i] = a + list(reversed(b))[1:]
                elif a[0] == b[0]:
                    lines[i] = list(reversed(a)) + b[1:]
                else:
                    continue
                del lines[j]
                merged = True
                break
            if merged:
                break
    if len(lines) == 1:
        return Geometry(WKB_LINESTRING, lines[0])
    return Geometry(WKB_MULTILINESTRING, lines)


st_linemerge = _u1_geom(_linemerge)


def _subdivide(g: Geometry, max_vertices: int):
    """Recursive envelope-halving subdivision (PostGIS-style ST_SubDivide)."""
    if g.num_points() <= max_vertices:
        return [g]
    env = g.envelope()
    if env is None:
        return [g]
    xmin, ymin, xmax, ymax = env
    if xmax - xmin >= ymax - ymin:
        mid = (xmin + xmax) / 2
        left = Geometry.box(xmin, ymin, mid, ymax)
        right = Geometry.box(mid, ymin, xmax, ymax)
    else:
        mid = (ymin + ymax) / 2
        left = Geometry.box(xmin, ymin, xmax, mid)
        right = Geometry.box(xmin, mid, xmax, ymax)
    pieces = []
    for half in (left, right):
        try:
            part = A.intersection(g, half)
        except NotImplementedError:
            return [g]
        if not part.is_empty():
            pieces.extend(_subdivide(part, max_vertices))
    return pieces or [g]


@pandas_udf(ArrayType(BinaryType()))
def st_subdivide(wkb: pd.Series, maxv: pd.Series) -> pd.Series:
    out = []
    for b, m in zip(wkb, maxv):
        if b is None or m is None:
            out.append(None)
        else:
            out.append([to_wkb(p) for p in _subdivide(from_wkb(b), int(m))])
    return pd.Series(out, dtype=object)


# ---------------------------------------------------------------------------
# outputs
# ---------------------------------------------------------------------------

@pandas_udf(_STR)
def st_astext(wkb: pd.Series) -> pd.Series:
    return wkb.map(lambda b: None if b is None else to_wkt(from_wkb(b)))


@pandas_udf(_BIN)
def st_asbinary(wkb: pd.Series) -> pd.Series:
    # canonical WKB (re-encode to normalize endianness / EWKB flags)
    return wkb.map(lambda b: None if b is None else to_wkb(from_wkb(bytes(b))))


def _geojson_obj(g: Geometry):
    def coords(c):
        if isinstance(c, tuple):
            return [c[0], c[1]]
        return [coords(x) for x in c]

    if g.kind == WKB_GEOMETRYCOLLECTION:
        return {"type": "GeometryCollection",
                "geometries": [_geojson_obj(x) for x in g.coords]}
    name = {1: "Point", 2: "LineString", 3: "Polygon", 4: "MultiPoint",
            5: "MultiLineString", 6: "MultiPolygon"}[g.kind]
    if g.kind == WKB_POINT:
        return {"type": name, "coordinates": [] if g.coords is None else list(g.coords)}
    return {"type": name, "coordinates": coords(g.coords)}


def _geojson(g: Geometry) -> str:
    import json
    return json.dumps(_geojson_obj(g))


@pandas_udf(_STR)
def st_asgeojson(wkb: pd.Series) -> pd.Series:
    return wkb.map(lambda b: None if b is None else _geojson(from_wkb(b)))


@pandas_udf(_STR)
def st_asewkt(wkb: pd.Series) -> pd.Series:
    def run(b):
        if b is None:
            return None
        g = from_wkb(b)
        w = to_wkt(g)
        return f"SRID={g.srid};{w}" if g.srid else w
    return wkb.map(run)


# ---------------------------------------------------------------------------
# catalog of SQL-registerable functions (name → pandas UDF)
# ---------------------------------------------------------------------------

SQL_FUNCTIONS: Dict[str, object] = {
    # constructors
    "ST_Point": st_point,
    "ST_GeomFromText": st_geomfromtext,
    "ST_GeomFromWKT": st_geomfromtext,
    "ST_PointFromText": st_geomfromtext,
    "ST_LineStringFromText": st_geomfromtext,
    "ST_LineFromText": st_geomfromtext,
    "ST_PolygonFromText": st_geomfromtext,
    "ST_MPolyFromText": st_geomfromtext,
    "ST_MLineFromText": st_geomfromtext,
    "ST_GeomFromWKB": st_geomfromwkb,
    "ST_PolygonFromEnvelope": st_polygonfromenvelope,
    "ST_MakeEnvelope": st_polygonfromenvelope,
    "ST_MakePolygon": st_makepolygon,
    "ST_GeomFromGeoHash": st_geomfromgeohash,
    # IcebergSTGeomFromText parity alias (reference App.scala:46,51-52)
    "IcebergSTGeomFromText": st_geomfromtext,
    # predicates
    "ST_Contains": st_contains,
    "ST_Within": st_within,
    "ST_Covers": st_covers,
    "ST_CoveredBy": st_coveredby,
    "ST_Intersects": st_intersects,
    "ST_Disjoint": st_disjoint,
    "ST_Touches": st_touches,
    "ST_Crosses": st_crosses,
    "ST_Overlaps": st_overlaps,
    "ST_Equals": st_equals,
    "ST_OrderingEquals": st_orderingequals,
    # measures
    "ST_Area": st_area,
    "ST_Length": st_length,
    "ST_Distance": st_distance,
    "ST_DistanceSphere": st_distancesphere,
    "ST_DWithin": st_dwithin,
    # accessors
    "ST_X": st_x,
    "ST_Y": st_y,
    "ST_XMin": st_xmin,
    "ST_YMin": st_ymin,
    "ST_XMax": st_xmax,
    "ST_YMax": st_ymax,
    "ST_NPoints": st_npoints,
    "ST_NumPoints": st_npoints,
    "ST_NumGeometries": st_numgeometries,
    "ST_GeometryN": st_geometryn,
    "ST_PointN": st_pointn,
    "ST_StartPoint": st_startpoint,
    "ST_EndPoint": st_endpoint,
    "ST_ExteriorRing": st_exteriorring,
    "ST_InteriorRingN": st_interiorringn,
    "ST_NumInteriorRings": st_numinteriorrings,
    "ST_GeometryType": st_geometrytype,
    "ST_IsEmpty": st_isempty,
    "ST_IsValid": st_isvalid,
    "ST_IsSimple": st_issimple,
    "ST_IsClosed": st_isclosed,
    "ST_IsRing": st_isring,
    "ST_Dimension": st_dimension,
    "ST_SRID": st_srid,
    "ST_Azimuth": st_azimuth,
    # transforms
    "ST_Envelope": st_envelope,
    "ST_Boundary": st_boundary,
    "ST_ConvexHull": st_convexhull,
    "ST_Centroid": st_centroid,
    "ST_FlipCoordinates": st_flipcoordinates,
    "ST_Reverse": st_reverse,
    "ST_Normalize": st_normalize,
    "ST_MakeValid": st_makevalid,
    "ST_Buffer": st_buffer,
    "ST_Simplify": st_simplify,
    "ST_SimplifyPreserveTopology": st_simplifypreservetopology,
    "ST_SetSRID": st_setsrid,
    "ST_PrecisionReduce": st_precisionreduce,
    "ST_Intersection": st_intersection,
    "ST_Difference": st_difference,
    "ST_SymDifference": st_symdifference,
    "ST_Union": st_union,
    "ST_AddPoint": st_addpoint,
    "ST_RemovePoint": st_removepoint,
    "ST_LineSubstring": st_linesubstring,
    "ST_LineInterpolatePoint": st_lineinterpolatepoint,
    "ST_LineMerge": st_linemerge,
    "ST_SubDivide": st_subdivide,
    # outputs
    "ST_AsText": st_astext,
    "ST_AsBinary": st_asbinary,
    "ST_AsEWKB": st_asbinary,
    "ST_AsEWKT": st_asewkt,
    "ST_AsGeoJSON": st_asgeojson,
    "ST_GeoHash": st_geohash,
}
