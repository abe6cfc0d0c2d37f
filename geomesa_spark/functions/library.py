"""The st_* function library: every reference SQL function as an
Arrow-vectorized pandas UDF over WKB BinaryType columns.

Function surface mirrors geomesa-spark-jts
(udf/GeometricConstructorFunctions.scala:26-51, GeometricAccessorFunctions.scala:18-80,
GeometricCastFunctions.scala:18-23, GeometricOutputFunctions.scala:28-32,
SpatialRelationFunctions.scala:24-59, GeometricProcessingFunctions.scala:41-67)
plus the SQL-module geodesic extras (GeometricDistanceFunctions.scala:22-37).

Null semantics: every function is null-safe — any null argument yields a null
result (reference nullableUDF, util/SQLFunctionHelper.scala)."""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    BooleanType,
    DoubleType,
    FloatType,
    IntegerType,
    StringType,
)

from ..geom import algorithms as alg
from ..geom import core as gcore
from ..geom import geodesy
from ..geom.geojson import from_geojson, to_geojson
from ..geom.wkb import points_from_wkb, points_to_wkb
from ..geom.wkb import from_wkb, to_wkb
from ..geom.wkt import from_wkt, to_wkt
from ..index.geohash import geohash_decode_bbox, geohash_decode_point, geohash_encode


def _enc(g):
    return None if g is None else to_wkb(g)


def _map1(s: pd.Series, fn) -> pd.Series:
    return s.map(lambda v: None if v is None else fn(v))


def _map2(s1: pd.Series, s2: pd.Series, fn) -> pd.Series:
    out = []
    for a, b in zip(s1, s2):
        out.append(None if a is None or b is None else fn(a, b))
    return pd.Series(out, dtype=object)


def _gmap1(s: pd.Series, fn) -> pd.Series:
    """geometry->value map with a small decode cache (literals repeat)."""
    cache: dict[bytes, object] = {}

    def run(b):
        if b is None:
            return None
        key = bytes(b)
        g = cache.get(key)
        if g is None:
            g = from_wkb(key)
            if len(cache) < 2048:
                cache[key] = g
        return fn(g)

    return s.map(run)


def _gmap2(s1: pd.Series, s2: pd.Series, fn) -> pd.Series:
    cache: dict[bytes, object] = {}

    def geo(b):
        key = bytes(b)
        g = cache.get(key)
        if g is None:
            g = from_wkb(key)
            if len(cache) < 2048:
                cache[key] = g
        return g

    out = []
    for a, b in zip(s1, s2):
        out.append(None if a is None or b is None else fn(geo(a), geo(b)))
    return pd.Series(out, dtype=object)


# A UDF registry: name -> (pandas_udf object). Names are the exact reference
# SQL names so existing GeoMesa SQL runs unchanged.
UDFS: dict[str, object] = {}


def _udf(name, ret):
    def deco(fn):
        u = pandas_udf(fn, ret)
        UDFS[name] = u
        return u

    return deco


# ------------------------------------------------------------- constructors


@_udf("st_geomFromWKT", BinaryType())
def st_geomFromWKT(s: pd.Series) -> pd.Series:
    return _map1(s, lambda w: to_wkb(from_wkt(w)))


UDFS["st_geomFromText"] = UDFS["st_geomFromWKT"]
UDFS["st_geometryFromText"] = UDFS["st_geomFromWKT"]
UDFS["st_lineFromText"] = UDFS["st_geomFromWKT"]
UDFS["st_pointFromText"] = UDFS["st_geomFromWKT"]
UDFS["st_polygonFromText"] = UDFS["st_geomFromWKT"]
UDFS["st_mLineFromText"] = UDFS["st_geomFromWKT"]
UDFS["st_mPointFromText"] = UDFS["st_geomFromWKT"]
UDFS["st_mPolyFromText"] = UDFS["st_geomFromWKT"]


@_udf("st_geomFromWKB", BinaryType())
def st_geomFromWKB(s: pd.Series) -> pd.Series:
    # validate + normalize to our little-endian encoding
    return _map1(s, lambda b: to_wkb(from_wkb(bytes(b))))


UDFS["st_pointFromWKB"] = UDFS["st_geomFromWKB"]


@_udf("st_geomFromGeoJSON", BinaryType())
def st_geomFromGeoJSON(s: pd.Series) -> pd.Series:
    return _map1(s, lambda j: to_wkb(from_geojson(j)))


@_udf("st_makePoint", BinaryType())
def st_makePoint(x: pd.Series, y: pd.Series) -> pd.Series:
    xs = x.astype(float)
    ys = y.astype(float)
    wkbs = points_to_wkb(xs.to_numpy(), ys.to_numpy())
    out = pd.Series(wkbs, index=x.index, dtype=object)
    out[x.isna() | y.isna()] = None
    return out


UDFS["st_point"] = UDFS["st_makePoint"]
UDFS["st_polygon"] = UDFS["st_geomFromWKT"]


@_udf("st_makePointM", BinaryType())
def st_makePointM(x: pd.Series, y: pd.Series, m: pd.Series) -> pd.Series:
    # M ordinate is not preserved in the 2D WKB convention
    return st_makePoint.func(x, y)


@_udf("st_makeBBOX", BinaryType())
def st_makeBBOX(x1: pd.Series, y1: pd.Series, x2: pd.Series, y2: pd.Series) -> pd.Series:
    out = []
    for a, b, c, d in zip(x1, y1, x2, y2):
        if a is None or b is None or c is None or d is None:
            out.append(None)
        else:
            out.append(to_wkb(gcore.box(float(a), float(b), float(c), float(d))))
    return pd.Series(out, dtype=object)


@_udf("st_makeBox2D", BinaryType())
def st_makeBox2D(ll: pd.Series, ur: pd.Series) -> pd.Series:
    def mk(a, b):
        g1, g2 = from_wkb(bytes(a)), from_wkb(bytes(b))
        return to_wkb(gcore.box(g1.coords[0], g1.coords[1], g2.coords[0], g2.coords[1]))

    return _map2(ll, ur, mk)


@_udf("st_makePolygon", BinaryType())
def st_makePolygon(line: pd.Series) -> pd.Series:
    def mk(b):
        g = from_wkb(bytes(b))
        return to_wkb(gcore.polygon(np.asarray(g.coords)))

    return _map1(line, mk)


@_udf("st_makeLine", BinaryType())
def st_makeLine(points: pd.Series) -> pd.Series:
    def mk(arr):
        pts = [from_wkb(bytes(b)).coords[:2] for b in arr if b is not None]
        return to_wkb(gcore.linestring(pts))

    # r9 fast path (optimization guide §4.2): when every row is a non-empty
    # array of 21-byte little-endian POINT WKBs with one shared length (the
    # segment/track-construction shape: st_makeLine(array(st_makePoint...))
    # over millions of rows), assemble the linestring WKB with numpy slab
    # ops instead of per-row from_wkb/to_wkb — BYTE-IDENTICAL output
    # (header 0x0102... + <u4 count + the points' own <dd coord bytes).
    import struct

    from ..geom.wkb import POINT_WKB_SIZE, _LE_POINT_HEADER

    vals = points.to_numpy(dtype=object)
    n_rows = len(vals)
    if n_rows:
        first = vals[0]
        npts = len(first) if first is not None else 0
        if npts > 0 and all(
            arr is not None
            and len(arr) == npts
            and all(
                b is not None
                and len(b) == POINT_WKB_SIZE
                and bytes(b[:5]) == _LE_POINT_HEADER
                for b in arr
            )
            for arr in vals
        ):
            flat = b"".join(
                bytes(b) for arr in vals for b in arr
            )
            raw = np.frombuffer(flat, dtype=np.uint8).reshape(-1, POINT_WKB_SIZE)
            coords = raw[:, 5:POINT_WKB_SIZE].reshape(n_rows, npts * 16)
            buf = np.empty((n_rows, 9 + npts * 16), dtype=np.uint8)
            buf[:, :9] = np.frombuffer(
                b"\x01\x02\x00\x00\x00" + struct.pack("<I", npts), dtype=np.uint8
            )
            buf[:, 9:] = coords
            return pd.Series([row.tobytes() for row in buf], dtype=object)

    return _map1(points, mk)


@_udf("st_geomFromGeoHash", BinaryType())
def st_geomFromGeoHash(s: pd.Series, prec: pd.Series) -> pd.Series:
    def mk(gh, p):
        minx, miny, maxx, maxy = geohash_decode_bbox(gh[: int(np.ceil(p / 5))])
        return to_wkb(gcore.box(minx, miny, maxx, maxy))

    return _map2(s, prec, mk)


UDFS["st_box2DFromGeoHash"] = UDFS["st_geomFromGeoHash"]


@_udf("st_pointFromGeoHash", BinaryType())
def st_pointFromGeoHash(s: pd.Series, prec: pd.Series) -> pd.Series:
    def mk(gh, p):
        x, y = geohash_decode_point(gh[: int(np.ceil(p / 5))])
        return to_wkb(gcore.point(x, y))

    return _map2(s, prec, mk)


# ---------------------------------------------------------------- accessors


@_udf("st_boundary", BinaryType())
def st_boundary(s: pd.Series) -> pd.Series:
    return _gmap1(s, lambda g: to_wkb(alg.boundary(g)))


@_udf("st_coordDim", IntegerType())
def st_coordDim(s: pd.Series) -> pd.Series:
    return _gmap1(s, lambda g: 2)


@_udf("st_dimension", IntegerType())
def st_dimension(s: pd.Series) -> pd.Series:
    return _gmap1(s, lambda g: g.dimension())


@_udf("st_envelope", BinaryType())
def st_envelope(s: pd.Series) -> pd.Series:
    return _gmap1(s, lambda g: to_wkb(alg.envelope(g)))


@_udf("st_exteriorRing", BinaryType())
def st_exteriorRing(s: pd.Series) -> pd.Series:
    return _gmap1(s, lambda g: _enc(alg.exterior_ring(g)))


@_udf("st_geometryN", BinaryType())
def st_geometryN(s: pd.Series, n: pd.Series) -> pd.Series:
    return _map2(s, n, lambda b, k: _enc(from_wkb(bytes(b)).geometry_n(int(k))))


@_udf("st_geometryType", StringType())
def st_geometryType(s: pd.Series) -> pd.Series:
    return _gmap1(s, lambda g: g.type_name)


@_udf("st_interiorRingN", BinaryType())
def st_interiorRingN(s: pd.Series, n: pd.Series) -> pd.Series:
    return _map2(s, n, lambda b, k: _enc(alg.interior_ring_n(from_wkb(bytes(b)), int(k))))


@_udf("st_isClosed", BooleanType())
def st_isClosed(s: pd.Series) -> pd.Series:
    return _gmap1(s, alg.is_closed)


@_udf("st_isCollection", BooleanType())
def st_isCollection(s: pd.Series) -> pd.Series:
    return _gmap1(s, lambda g: g.gtype in (4, 5, 6, 7))


@_udf("st_isEmpty", BooleanType())
def st_isEmpty(s: pd.Series) -> pd.Series:
    return _gmap1(s, lambda g: g.is_empty())


@_udf("st_isRing", BooleanType())
def st_isRing(s: pd.Series) -> pd.Series:
    return _gmap1(s, alg.is_ring)


@_udf("st_isSimple", BooleanType())
def st_isSimple(s: pd.Series) -> pd.Series:
    return _gmap1(s, alg.is_simple)


@_udf("st_isValid", BooleanType())
def st_isValid(s: pd.Series) -> pd.Series:
    return _gmap1(s, alg.is_valid)


@_udf("st_numGeometries", IntegerType())
def st_numGeometries(s: pd.Series) -> pd.Series:
    return _gmap1(s, lambda g: g.num_geometries())


@_udf("st_numPoints", IntegerType())
def st_numPoints(s: pd.Series) -> pd.Series:
    return _gmap1(s, lambda g: g.num_points())


@_udf("st_pointN", BinaryType())
def st_pointN(s: pd.Series, n: pd.Series) -> pd.Series:
    def pn(b, k):
        g = from_wkb(bytes(b))
        if g.gtype != gcore.LINESTRING:
            return None
        k = int(k)
        npts = len(g.coords)
        # negative-index wraps (GeometricAccessorFunctions.scala:60-72)
        idx = k - 1 if k > 0 else npts + k
        if idx < 0 or idx >= npts:
            return None
        return to_wkb(gcore.point(g.coords[idx][0], g.coords[idx][1]))

    return _map2(s, n, pn)


@_udf("st_x", FloatType())
def st_x(s: pd.Series) -> pd.Series:
    pts = points_from_wkb([None if b is None else bytes(b) for b in s])
    return pd.Series(pts[:, 0], index=s.index).astype("float32")


@_udf("st_y", FloatType())
def st_y(s: pd.Series) -> pd.Series:
    pts = points_from_wkb([None if b is None else bytes(b) for b in s])
    return pd.Series(pts[:, 1], index=s.index).astype("float32")


# -------------------------------------------------------------------- casts


@_udf("st_castToPoint", BinaryType())
def st_castToPoint(s: pd.Series) -> pd.Series:
    return _gmap1(s, lambda g: to_wkb(g) if g.gtype == gcore.POINT else None)


@_udf("st_castToPolygon", BinaryType())
def st_castToPolygon(s: pd.Series) -> pd.Series:
    return _gmap1(s, lambda g: to_wkb(g) if g.gtype == gcore.POLYGON else None)


@_udf("st_castToLineString", BinaryType())
def st_castToLineString(s: pd.Series) -> pd.Series:
    return _gmap1(s, lambda g: to_wkb(g) if g.gtype == gcore.LINESTRING else None)


@_udf("st_castToGeometry", BinaryType())
def st_castToGeometry(s: pd.Series) -> pd.Series:
    return s


@_udf("st_byteArray", BinaryType())
def st_byteArray(s: pd.Series) -> pd.Series:
    return _map1(s, lambda v: v.encode("utf-8"))


# ------------------------------------------------------------------ outputs


@_udf("st_asBinary", BinaryType())
def st_asBinary(s: pd.Series) -> pd.Series:
    return s


UDFS["st_asWKB"] = UDFS["st_asBinary"]


@_udf("st_asText", StringType())
def st_asText(s: pd.Series) -> pd.Series:
    return _gmap1(s, to_wkt)


UDFS["st_asWKT"] = UDFS["st_asText"]


@_udf("st_asGeoJSON", StringType())
def st_asGeoJSON(s: pd.Series) -> pd.Series:
    return _gmap1(s, to_geojson)


@_udf("st_asLatLonText", StringType())
def st_asLatLonText(s: pd.Series) -> pd.Series:
    def dms(g):
        # DMS formatting (GeometricOutputFunctions.scala:50-64). Degrees are
        # floor-based, so -76.5 renders as 77°30'0.000"W (reference golden:
        # GeometricUdfTest.scala "st_asLatLonText").
        import math as _math

        x, y = float(g.coords[0]), float(g.coords[1])

        def fmt(v, pos, neg):
            h = pos if v >= 0 else neg
            d = _math.floor(v)
            mfull = (v - d) * 60
            m = int(mfull)
            sec = (mfull - m) * 60
            return f"{abs(d)}°{m}'{sec:.3f}\"{h}"

        return f"{fmt(y, 'N', 'S')} {fmt(x, 'E', 'W')}"

    return _gmap1(s, dms)


@_udf("st_geoHash", StringType())
def st_geoHash(s: pd.Series, prec: pd.Series) -> pd.Series:
    def gh(b, p):
        g = from_wkb(bytes(b))
        c = alg.centroid(g)
        p = int(p)
        bits = p - (p % 5) if p % 5 == 0 else p + (5 - p % 5)
        full = geohash_encode([c.coords[0]], [c.coords[1]], max(5, bits))[0]
        return full[: max(1, p // 5 + (1 if p % 5 else 0))] if p % 5 else full

    return _map2(s, prec, gh)


# --------------------------------------------------- predicates and measures


def _make_predicate(name, fn):
    @_udf(name, BooleanType())
    def _pred(s1: pd.Series, s2: pd.Series) -> pd.Series:
        return _gmap2(s1, s2, fn)

    return _pred


st_contains = _make_predicate("st_contains", alg.contains)
st_covers = _make_predicate("st_covers", alg.covers)
st_crosses = _make_predicate("st_crosses", alg.crosses)
st_disjoint = _make_predicate("st_disjoint", alg.disjoint)
st_equals = _make_predicate("st_equals", alg.equals)
st_intersects = _make_predicate("st_intersects", alg.intersects)
st_overlaps = _make_predicate("st_overlaps", alg.overlaps)
st_touches = _make_predicate("st_touches", alg.touches)
st_within = _make_predicate("st_within", alg.within)


@_udf("st_relate", StringType())
def st_relate(s1: pd.Series, s2: pd.Series) -> pd.Series:
    return _gmap2(s1, s2, alg.relate)


@_udf("st_relateBool", BooleanType())
def st_relateBool(s1: pd.Series, s2: pd.Series, pat: pd.Series) -> pd.Series:
    out = []
    for a, b, p in zip(s1, s2, pat):
        if a is None or b is None or p is None:
            out.append(None)
        else:
            out.append(alg.relate_bool(from_wkb(bytes(a)), from_wkb(bytes(b)), p))
    return pd.Series(out, dtype=object)


@_udf("st_translate", BinaryType())
def st_translate(s: pd.Series, dx: pd.Series, dy: pd.Series) -> pd.Series:
    out = []
    for b, x, y in zip(s, dx, dy):
        if b is None or x is None or y is None:
            out.append(None)
        else:
            out.append(to_wkb(alg.translate(from_wkb(bytes(b)), float(x), float(y))))
    return pd.Series(out, dtype=object)


@_udf("st_area", DoubleType())
def st_area(s: pd.Series) -> pd.Series:
    return _gmap1(s, alg.area).astype(float)


@_udf("st_length", DoubleType())
def st_length(s: pd.Series) -> pd.Series:
    return _gmap1(s, alg.length).astype(float)


@_udf("st_centroid", BinaryType())
def st_centroid(s: pd.Series) -> pd.Series:
    return _gmap1(s, lambda g: to_wkb(alg.centroid(g)))


@_udf("st_closestPoint", BinaryType())
def st_closestPoint(s1: pd.Series, s2: pd.Series) -> pd.Series:
    def cp(g1, g2):
        pa, _ = alg.closest_points(g1, g2)
        return to_wkb(gcore.point(pa[0], pa[1]))

    return _gmap2(s1, s2, cp)


@_udf("st_distance", DoubleType())
def st_distance(s1: pd.Series, s2: pd.Series) -> pd.Series:
    return _gmap2(s1, s2, alg.distance).astype(float)


@_udf("st_distanceSphere", DoubleType())
def st_distanceSphere(s1: pd.Series, s2: pd.Series) -> pd.Series:
    # fast path: both point columns -> one vectorized haversine pass
    w1 = [None if b is None else bytes(b) for b in s1]
    w2 = [None if b is None else bytes(b) for b in s2]
    p1 = points_from_wkb(w1)
    p2 = points_from_wkb(w2)
    ok = ~(np.isnan(p1[:, 0]) | np.isnan(p2[:, 0]))
    out = pd.Series(np.nan, index=s1.index, dtype=float)
    out[ok] = alg.haversine(p1[ok, 0], p1[ok, 1], p2[ok, 0], p2[ok, 1])
    # slow path rows (non-points)
    for i in np.nonzero(~ok)[0]:
        if w1[i] is not None and w2[i] is not None:
            out.iloc[i] = alg.distance_sphere(from_wkb(w1[i]), from_wkb(w2[i]))
    return out


@_udf("st_distanceSpheroid", DoubleType())
def st_distanceSpheroid(s1: pd.Series, s2: pd.Series) -> pd.Series:
    def d(g1, g2):
        pa, pb = alg.closest_points(g1, g2)
        return geodesy.vincenty_inverse(pa[0], pa[1], pb[0], pb[1])

    return _gmap2(s1, s2, d).astype(float)


@_udf("st_lengthSphere", DoubleType())
def st_lengthSphere(s: pd.Series) -> pd.Series:
    return _gmap1(s, alg.length_sphere).astype(float)


@_udf("st_lengthSpheroid", DoubleType())
def st_lengthSpheroid(s: pd.Series) -> pd.Series:
    def L(g):
        total = 0.0
        for arr in alg._lines_of(g):
            a = np.asarray(arr)
            for i in range(len(a) - 1):
                total += geodesy.vincenty_inverse(a[i, 0], a[i, 1], a[i + 1, 0], a[i + 1, 1])
        return total

    return _gmap1(s, L).astype(float)


@_udf("st_aggregateDistanceSphere", DoubleType())
def st_aggregateDistanceSphere(s: pd.Series) -> pd.Series:
    def agg(arr):
        geoms = [from_wkb(bytes(b)) for b in arr if b is not None]
        return alg.aggregate_distance_sphere(geoms)

    return _map1(s, agg).astype(float)


@_udf("st_aggregateDistanceSpheroid", DoubleType())
def st_aggregateDistanceSpheroid(s: pd.Series) -> pd.Series:
    def agg(arr):
        geoms = [from_wkb(bytes(b)) for b in arr if b is not None]
        total = 0.0
        for g1, g2 in zip(geoms[:-1], geoms[1:]):
            pa, pb = alg.closest_points(g1, g2)
            total += geodesy.vincenty_inverse(pa[0], pa[1], pb[0], pb[1])
        return total

    return _map1(s, agg).astype(float)


@_udf("st_intersection", BinaryType())
def st_intersection(s1: pd.Series, s2: pd.Series) -> pd.Series:
    return _gmap2(s1, s2, lambda a, b: to_wkb(alg.intersection(a, b)))


@_udf("st_difference", BinaryType())
def st_difference(s1: pd.Series, s2: pd.Series) -> pd.Series:
    return _gmap2(s1, s2, lambda a, b: to_wkb(alg.difference(a, b)))


@_udf("st_dwithin", BooleanType())
def st_dwithin(s1: pd.Series, s2: pd.Series, meters: pd.Series) -> pd.Series:
    """Geodesic distance-within (the reference evaluates DWithin as a CQL
    filter: buffered bbox prefilter + precise geodetic re-check,
    GeometryProcessing.scala:145, FastDWithin.scala:29-63)."""
    w1 = [None if b is None else bytes(b) for b in s1]
    w2 = [None if b is None else bytes(b) for b in s2]
    p1 = points_from_wkb(w1)
    p2 = points_from_wkb(w2)
    m = pd.Series(meters).astype(float).to_numpy()
    ok = ~(np.isnan(p1[:, 0]) | np.isnan(p2[:, 0]) | np.isnan(m))
    out = pd.Series([None] * len(s1), index=s1.index, dtype=object)
    d = np.full(len(s1), np.nan)
    d[ok] = alg.haversine(p1[ok, 0], p1[ok, 1], p2[ok, 0], p2[ok, 1])
    for i in np.nonzero(ok)[0]:
        out.iloc[i] = bool(d[i] <= m[i])
    for i in np.nonzero(~ok)[0]:
        if w1[i] is not None and w2[i] is not None and not np.isnan(m[i]):
            out.iloc[i] = bool(
                alg.distance_sphere(from_wkb(w1[i]), from_wkb(w2[i])) <= m[i]
            )
    return out


# --------------------------------------------------------------- processing


@_udf("st_antimeridianSafeGeom", BinaryType())
def st_antimeridianSafeGeom(s: pd.Series) -> pd.Series:
    return _gmap1(s, lambda g: to_wkb(alg.antimeridian_safe(g)))


UDFS["st_idlSafeGeom"] = UDFS["st_antimeridianSafeGeom"]


@_udf("st_bufferPoint", BinaryType())
def st_bufferPoint(s: pd.Series, meters: pd.Series) -> pd.Series:
    def buf(b, m):
        g = from_wkb(bytes(b))
        return to_wkb(alg.buffer_point_geodesic(float(g.coords[0]), float(g.coords[1]), float(m)))

    return _map2(s, meters, buf)


@_udf("st_makeValid", BinaryType())
def st_makeValid(s: pd.Series) -> pd.Series:
    return _gmap1(s, lambda g: to_wkb(alg.make_valid(g)))


@_udf("st_transform", BinaryType())
def st_transform(s: pd.Series, from_crs: pd.Series, to_crs: pd.Series) -> pd.Series:
    out = []
    for b, fc, tc in zip(s, from_crs, to_crs):
        if b is None or fc is None or tc is None:
            out.append(None)
            continue
        g = from_wkb(bytes(b))

        def tx(arr, fc=fc, tc=tc):
            a = np.asarray(arr, dtype=np.float64).reshape(-1, 2)
            x, y = geodesy.transform_points(a[:, 0], a[:, 1], fc, tc)
            return np.column_stack([x, y])

        out.append(to_wkb(alg._map_coords(g, tx)))
    return pd.Series(out, dtype=object)


# ----------------------------------------------------------------- UDAF-ish


@pandas_udf(BinaryType())
def st_convexhull_agg(s: pd.Series) -> bytes:
    """Grouped-agg pandas UDF: convex hull of all geometries in the group
    (reference UDAF geomesa-spark-jts/.../udaf/ConvexHull.scala:18-52)."""
    coords = []
    for b in s:
        if b is not None:
            coords.append(from_wkb(bytes(b))._all_coords())
    if not coords:
        return None
    return to_wkb(alg.convex_hull(np.concatenate(coords)))


@_udf("st_convexHull", BinaryType())
def st_convexHull(s: pd.Series) -> pd.Series:
    """Scalar convex hull of one geometry."""
    return _gmap1(s, lambda g: to_wkb(alg.convex_hull(g._all_coords())))


def convex_hull_by(df, group_cols, geom_col: str = "geom"):
    """TWO-PHASE distributed convex hull by group — the scale-safe form of
    `groupBy(...).agg(st_convexhull_agg(...))`.

    Phase 1 (map-side, NO shuffle): mapInPandas folds each Arrow batch's
    rows into one partial hull per group — hull(points) == hull(hull-vertex
    union), so only O(hull-vertices) rows leave each partition. Phase 2:
    the grouped-agg hull over partial-hull vertices. This is the
    reference's incremental update/merge fold (ConvexHull.scala:18-52);
    a single-phase grouped-agg UDAF instead concatenates ALL coordinates of
    a group on one worker and OOMs on a hot group (10^9 points in one
    event_type)."""
    from pyspark.sql import functions as F

    if isinstance(group_cols, str):
        group_cols = [group_cols]
    proj = df.select(*group_cols, geom_col)
    # single-file reads arrive as one partition — spread the map-side fold
    # (skipped when the plan already carries an explicit repartition, e.g.
    # a caller that parallelized BELOW its geometry UDF — r9)
    from ..operators.dedup import _ensure_parallel

    proj = _ensure_parallel(proj)
    schema = proj.schema

    from ..geom.wkb import _LE_POINT_HEADER, POINT_WKB_SIZE, points_from_wkb

    def partial(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            # r9 fast path: all-POINT batches (the dominant shape) bulk-
            # decode via one numpy pass instead of a generic from_wkb per
            # row — identical coordinates feed the identical hull fold
            vals = [None if b is None else bytes(b) for b in pdf[geom_col]]
            all_pts = all(
                b is not None
                and len(b) == POINT_WKB_SIZE
                and b[:5] == _LE_POINT_HEADER
                for b in vals
            )
            pts = points_from_wkb(vals) if all_pts and vals else None
            groups, wkbs = [], []
            for key, sub in pdf.groupby(group_cols, dropna=False, sort=False):
                if pts is not None:
                    coords = [pts[sub.index.to_numpy()]]
                else:
                    coords = [
                        from_wkb(bytes(b))._all_coords()
                        for b in sub[geom_col]
                        if b is not None
                    ]
                if not coords:
                    continue
                groups.append(key if isinstance(key, tuple) else (key,))
                wkbs.append(to_wkb(alg.convex_hull(np.concatenate(coords))))
            if not groups:
                continue
            out = pd.DataFrame(groups, columns=group_cols)
            out[geom_col] = pd.Series(wkbs, dtype=object)
            yield out

    partials = proj.mapInPandas(partial, schema=schema)
    return partials.groupBy(*group_cols).agg(
        st_convexhull_agg(F.col(geom_col)).alias("hull")
    )


def register(spark) -> None:
    """Register every st_* function for SQL use — the analog of
    SparkSession.withJTS / geomesa_pyspark.init_sql
    (geomesa-spark-jts/.../package.scala:38-42, geomesa_pyspark/__init__.py:114-121)."""
    for name, fn in UDFS.items():
        spark.udf.register(name, fn)
    spark.udf.register("st_convexhull_agg", st_convexhull_agg)
