"""SFC index tests: interleave round-trips (zorder/sfcurve Z2Test/Z3Test
style), zranges recall invariants, XZ2 window fixtures (XZ2SFCTest.scala:23-62
via FIXTURES.md §8), tiles and geohash goldens."""

import numpy as np
import pytest

from geomesa_spark.index import (
    XZ2SFC,
    GridSnap,
    deinterleave2,
    deinterleave3,
    geohash_decode_point,
    geohash_encode,
    interleave2,
    interleave3,
    lonlat_to_tile,
    merge_ranges,
    normalize,
    tile_bounds,
    z2_index,
    z2_invert,
    z3_index,
    zranges_box,
    zranges_lonlat,
)
from geomesa_spark.index.ranges import IndexRange
from geomesa_spark.index.zorder import WORLD, Z2_BITS


def test_interleave2_roundtrip():
    rng = np.random.default_rng(42)
    xs = rng.integers(0, 2**31, 1000)
    ys = rng.integers(0, 2**31, 1000)
    z = interleave2(xs, ys)
    rx, ry = deinterleave2(z)
    assert np.array_equal(rx, xs) and np.array_equal(ry, ys)


def test_interleave3_roundtrip():
    rng = np.random.default_rng(42)
    xs = rng.integers(0, 2**21, 1000)
    ys = rng.integers(0, 2**21, 1000)
    ts = rng.integers(0, 2**21, 1000)
    z = interleave3(xs, ys, ts)
    rx, ry, rt = deinterleave3(z)
    assert np.array_equal(rx, xs)
    assert np.array_equal(ry, ys)
    assert np.array_equal(rt, ts)


def test_z2_monotone_locality():
    # same point -> same z; z2_invert lands within one cell width
    lons = np.array([-76.5, 0.0, 179.999, -180.0])
    lats = np.array([38.5, 0.0, 89.999, -90.0])
    z = z2_index(lons, lats)
    lx, ly = z2_invert(z)
    assert np.all(np.abs(lx - lons) < 360.0 / 2**30)
    assert np.all(np.abs(ly - lats) < 180.0 / 2**30)


def test_zranges_recall_points_in_box():
    """Recall invariant: every point inside a query bbox has its z2 covered by
    the decomposed ranges (reference Z3RangeTest style)."""
    rng = np.random.default_rng(42)
    lons = rng.uniform(-180, 180, 2000)
    lats = rng.uniform(-90, 90, 2000)
    z = z2_index(lons, lats)
    for bbox in [(-10, -10, 10, 10), (100, 40, 140, 80), (-180, -90, -100, 0)]:
        ranges = zranges_lonlat([bbox], Z2_BITS)
        inside = (
            (lons >= bbox[0]) & (lons <= bbox[2]) & (lats >= bbox[1]) & (lats <= bbox[3])
        )
        covered = np.zeros(len(z), dtype=bool)
        for r in ranges:
            covered |= (z >= r.lower) & (z <= r.upper)
        # no false negatives
        assert np.all(covered[inside])
        # decomposition is selective: false-positive rate bounded
        fp = covered & ~inside
        assert fp.sum() <= max(20, int(0.1 * len(z)))


def test_zranges_budget():
    ranges = zranges_lonlat([(-10, -10, 10, 10)], Z2_BITS, max_ranges=50)
    assert len(ranges) <= 200  # budget respected (post-merge, loose cap)


def test_merge_adjacent():
    rs = [IndexRange(0, 5, True), IndexRange(6, 10, True), IndexRange(20, 30, False)]
    m = merge_ranges(rs)
    assert (m[0].lower, m[0].upper) == (0, 10)
    assert len(m) == 2


# ------------------------------------------------------------------ XZ2 (FIXTURES §8)

XZ = XZ2SFC(g=12)
ELEMENT = (10.0, 10.0, 12.0, 12.0)

CONTAINING = [(9, 9, 13, 13), (-180, -90, 180, 90), (0, 0, 180, 90), (0, 0, 20, 20)]
OVERLAPPING = [(11, 11, 13, 13), (9, 9, 11, 11), (10.5, 10.5, 11.5, 11.5), (11, 11, 11, 11)]
DISJOINT = [(-180, -90, 8, 8), (0, 0, 8, 8), (9, 9, 9.5, 9.5), (20, 20, 180, 90)]


def _covers(code: int, windows) -> bool:
    ranges = XZ.ranges([tuple(float(v) for v in w) for w in windows])
    return any(r.lower <= code <= r.upper for r in ranges)


@pytest.mark.parametrize("window", CONTAINING + OVERLAPPING)
def test_xz2_recall(window):
    code = XZ.index(*ELEMENT)
    assert _covers(code, [window]), f"window {window} must cover element code"


def test_xz2_disjoint_mostly_excluded():
    code = XZ.index(*ELEMENT)
    hits = sum(1 for w in DISJOINT if _covers(code, [w]))
    # XZ-ordering allows documented false positives; all-disjoint matching
    # would mean no selectivity at all
    assert hits <= 1


def test_xz2_vectorized_matches_scalar():
    from geomesa_spark.index.xz import xz2_index_many

    rng = np.random.default_rng(11)
    n = 400
    minx = rng.uniform(-185, 178, n)
    miny = rng.uniform(-95, 88, n)
    # zero, tiny, cell-sized and continent-sized extents; some leave the bounds
    size = rng.choice([0.0, 1e-5, 0.03, 1.0, 40.0], n) * rng.uniform(0, 1, n)
    maxx = minx + size
    maxy = miny + size * rng.uniform(0.2, 2.0, n)
    codes = xz2_index_many(minx, miny, maxx, maxy, g=12)
    assert codes.tolist() == [XZ.index(*e) for e in zip(minx, miny, maxx, maxy)]


def test_xz2_point_extent():
    code = XZ.index(5.0, 5.0, 5.0, 5.0)
    assert _covers(code, [(4, 4, 6, 6)])
    assert not _covers(code, [(50, 50, 60, 60)])


def test_xz2_random_recall():
    rng = np.random.default_rng(42)
    for _ in range(100):
        cx = rng.uniform(-170, 170)
        cy = rng.uniform(-80, 80)
        w = rng.uniform(0.01, 1.5)
        h = rng.uniform(0.01, 0.5)
        el = (cx, cy, cx + w, cy + h)
        code = XZ.index(*el)
        qx = rng.uniform(-175, 160)
        qy = rng.uniform(-85, 75)
        qw = rng.uniform(1, 20)
        window = (qx, qy, qx + qw, qy + qw)
        intersects = not (
            el[2] < window[0] or window[2] < el[0] or el[3] < window[1] or window[3] < el[1]
        )
        if intersects:
            assert _covers(code, [window])


# ------------------------------------------------------------------ tiles


def test_tile_known_values():
    # standard OSM formula: (lon 13.4, lat 52.52, z 17) -> (70414, 42985)
    xt, yt = lonlat_to_tile([13.4], [52.52], 17)
    assert (xt[0], yt[0]) == (70414, 42985)
    xt, yt = lonlat_to_tile([-87.65], [41.85], 15)
    assert (xt[0], yt[0]) == (8405, 12182)
    xt, yt = lonlat_to_tile([0.0], [0.0], 0)
    assert (xt[0], yt[0]) == (0, 0)
    xt, yt = lonlat_to_tile([0.0], [0.0], 1)
    assert (xt[0], yt[0]) == (1, 1)


def test_tile_bounds_roundtrip():
    xt, yt = lonlat_to_tile([-76.5], [38.5], 10)
    w, s, e, n = tile_bounds(int(xt[0]), int(yt[0]), 10)
    assert w <= -76.5 <= e and s <= 38.5 <= n


def test_gridsnap_semantics():
    gs = GridSnap(0, 0, 10, 10, 10, 10)
    assert gs.i([0.0])[0] == 0
    assert gs.i([9.99])[0] == 9
    assert gs.i([10.0])[0] == 9  # upper-bound clamp (FIXTURES §6b)
    assert gs.i([-0.1])[0] == -1
    assert gs.i([10.1])[0] == -1
    assert gs.x([0])[0] == 0.5  # cell-center back-mapping


# ------------------------------------------------------------------ geohash


def test_geohash_golden():
    assert geohash_encode([-5.6], [42.6], 25)[0] == "ezs42"
    # decode is cell center
    x, y = geohash_decode_point("ezs42")
    assert abs(x - -5.6) < 0.05 and abs(y - 42.6) < 0.05


def test_geohash_roundtrip_many():
    rng = np.random.default_rng(42)
    lons = rng.uniform(-180, 180, 200)
    lats = rng.uniform(-90, 90, 200)
    ghs = geohash_encode(lons, lats, 40)
    for i in range(200):
        x, y = geohash_decode_point(ghs[i])
        assert abs(x - lons[i]) < 0.01
        assert abs(y - lats[i]) < 0.01


# --------- regressions folded from the round-advice files (round-5 hygiene)


@pytest.mark.parametrize("max_ranges", [1, 2, 4, 8, 16, 60])
def test_xz2_tight_budget_never_abandons_frontier(max_ranges):
    """Every stored element intersecting the window must fall in SOME range,
    no matter how small the budget (budget trades precision, not recall)."""
    from geomesa_spark.index.xz import XZ2SFC

    sfc = XZ2SFC(g=12)
    window = (-40.0, -20.0, 10.0, 25.0)
    ranges = sfc.ranges([window], max_ranges=max_ranges)

    def covered(code):
        return any(r.lower <= code <= r.upper for r in ranges)

    # a lattice of small elements inside / crossing the window
    rng = np.random.default_rng(7)
    for _ in range(300):
        cx = rng.uniform(-42, 12)
        cy = rng.uniform(-22, 27)
        w, h = rng.uniform(0.01, 2.0), rng.uniform(0.01, 2.0)
        el = (cx, cy, cx + w, cy + h)
        intersects = not (
            el[2] < window[0] or window[2] < el[0] or el[3] < window[1] or window[3] < el[1]
        )
        if intersects:
            assert covered(sfc.index(*el)), (max_ranges, el)
