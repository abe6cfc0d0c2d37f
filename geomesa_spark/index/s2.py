"""Minimal S2 cell scheme (reference s2/S2IndexKeySpace.scala + S2SFC.scala:
23-62 delegate to the S2 library; this is an independent implementation of
the PUBLISHED S2 cell-id structure — s2geometry.io/devguide/s2cell_hierarchy):

- sphere -> 6 cube faces (argmax axis), face (u,v) in [-1,1]^2;
- quadratic (s,t) projection st(u) = sqrt((1+3u)/4)-style area equalization
  (the published non-linear transform, s2geometry.io/devguide/s2cell_statistics);
- (i,j) leaf coordinates at 2^30 resolution, Hilbert-ordered position;
- 64-bit cell id layout: [face:3][Hilbert position][1 marker-lsb], the
  marker at bit 2*(MAX_LEVEL-level) so a cell's descendants occupy the
  contiguous range [id - (lsb-1), id + (lsb-1)] — range queries need no
  extra math, exactly like the reference's S2 range decomposition.

The Hilbert traversal uses the canonical xy2d rotation rules; ids are
structurally S2 (face/position/level algebra, containment-by-range) without
claiming byte parity with the C++ library's lookup-table orientations.
"""

from __future__ import annotations

import numpy as np

MAX_LEVEL = 30
_POS_BITS = 2 * MAX_LEVEL + 1


def _face_uv(lon_deg, lat_deg):
    """lon/lat degrees -> (face, u, v) on the unit cube (vectorized)."""
    lon = np.radians(np.asarray(lon_deg, dtype=np.float64))
    lat = np.radians(np.asarray(lat_deg, dtype=np.float64))
    x = np.cos(lat) * np.cos(lon)
    y = np.cos(lat) * np.sin(lon)
    z = np.sin(lat)
    ax, ay, az = np.abs(x), np.abs(y), np.abs(z)
    face = np.where(
        (ax >= ay) & (ax >= az),
        np.where(x >= 0, 0, 3),
        np.where(ay >= az, np.where(y >= 0, 1, 4), np.where(z >= 0, 2, 5)),
    )
    u = np.empty_like(x)
    v = np.empty_like(x)
    for f, (un, un2, dn) in enumerate(
        [
            (lambda: y, lambda: z, lambda: x),    # face 0: +x
            (lambda: -x, lambda: z, lambda: y),   # face 1: +y
            (lambda: -x, lambda: -y, lambda: z),  # face 2: +z
            (lambda: z, lambda: y, lambda: -x),   # face 3: -x
            (lambda: z, lambda: -x, lambda: -y),  # face 4: -y
            (lambda: -y, lambda: -x, lambda: -z), # face 5: -z
        ]
    ):
        m = face == f
        if m.any():
            d = dn()[m]
            u[m] = un()[m] / d
            v[m] = un2()[m] / d
    return face.astype(np.int64), u, v


def _uv_to_xyz(face, u, v):
    """(face, u, v) -> unit-sphere xyz (vectorized inverse of _face_uv)."""
    face = np.asarray(face)
    u = np.asarray(u, dtype=np.float64)
    v = np.asarray(v, dtype=np.float64)
    one = np.ones_like(u)
    # forward divisors for faces 3-5 are the NEGATED axes, so the inverse
    # components flip accordingly: f3 x=-1,y=v,z=u; f4 x=-v,y=-1,z=u;
    # f5 x=-v,y=-u,z=-1
    xyz_by_face = [
        (one, u, v),
        (-u, one, v),
        (-u, -v, one),
        (-one, v, u),
        (-v, -one, u),
        (-v, -u, -one),
    ]
    x = np.empty_like(u)
    y = np.empty_like(u)
    z = np.empty_like(u)
    for f, (fx, fy, fz) in enumerate(xyz_by_face):
        m = face == f
        x[m], y[m], z[m] = fx[m], fy[m], fz[m]
    n = np.sqrt(x * x + y * y + z * z)
    return x / n, y / n, z / n


def _st_from_uv(u):
    """Quadratic area-equalizing projection (published S2 transform)."""
    u = np.asarray(u, dtype=np.float64)
    return np.where(
        u >= 0,
        0.5 * np.sqrt(np.maximum(1 + 3 * u, 0.0)),
        1 - 0.5 * np.sqrt(np.maximum(1 - 3 * u, 0.0)),
    )


def _uv_from_st(s):
    s = np.asarray(s, dtype=np.float64)
    return np.where(s >= 0.5, (4 * s * s - 1) / 3, (1 - 4 * (1 - s) ** 2) / 3)


def _hilbert_pos(i, j, order: int = MAX_LEVEL) -> np.ndarray:
    """Hilbert curve position of (i, j) at 2^order resolution — canonical
    xy2d rotation rules, vectorized."""
    x = np.asarray(i, dtype=np.int64).copy()
    y = np.asarray(j, dtype=np.int64).copy()
    d = np.zeros_like(x)
    s = np.int64(1) << (order - 1)
    while s > 0:
        rx = ((x & s) > 0).astype(np.int64)
        ry = ((y & s) > 0).astype(np.int64)
        d += s * s * ((3 * rx) ^ ry)
        # rotate quadrant
        swap = ry == 0
        flip = swap & (rx == 1)
        x_f = np.where(flip, s - 1 - x, x)
        y_f = np.where(flip, s - 1 - y, y)
        x, y = np.where(swap, y_f, x_f), np.where(swap, x_f, y_f)
        s >>= 1
    return d


def _hilbert_ij(d, order: int = MAX_LEVEL) -> tuple[np.ndarray, np.ndarray]:
    """Inverse Hilbert: position -> (i, j)."""
    t = np.asarray(d, dtype=np.int64).copy()
    x = np.zeros_like(t)
    y = np.zeros_like(t)
    s = np.int64(1)
    while s < (np.int64(1) << order):
        rx = 1 & (t // 2)
        ry = 1 & (t ^ rx)
        swap = ry == 0
        flip = swap & (rx == 1)
        x_f = np.where(flip, s - 1 - x, x)
        y_f = np.where(flip, s - 1 - y, y)
        x, y = np.where(swap, y_f, x_f), np.where(swap, x_f, y_f)
        x += s * rx
        y += s * ry
        t //= 4
        s <<= 1
    return x, y


def s2_cell_id(lon, lat, level: int = MAX_LEVEL) -> np.ndarray:
    """S2 cell id(s) of lon/lat point(s) at `level` (vectorized)."""
    face, u, v = _face_uv(lon, lat)
    n = np.int64(1) << MAX_LEVEL
    i = np.clip((_st_from_uv(u) * n).astype(np.int64), 0, n - 1)
    j = np.clip((_st_from_uv(v) * n).astype(np.int64), 0, n - 1)
    pos = _hilbert_pos(i, j)
    leaf = (face.astype(np.uint64) << np.uint64(_POS_BITS)) | (
        pos.astype(np.uint64) << np.uint64(1)
    ) | np.uint64(1)
    return parent_id(leaf.astype(np.int64), level)


def parent_id(cell, level: int) -> np.ndarray:
    """Ancestor cell id at `level` (truncate position, set the marker lsb)."""
    c = np.asarray(cell, dtype=np.uint64)
    lsb = np.uint64(1) << np.uint64(2 * (MAX_LEVEL - level))
    return ((c & ~(lsb + lsb - np.uint64(1))) | lsb).astype(np.int64)


def cell_level(cell) -> np.ndarray:
    """Level from the marker lsb position."""
    c = np.asarray(cell, dtype=np.uint64)
    lsb = c & (~c + np.uint64(1))
    return (MAX_LEVEL - (np.round(np.log2(lsb.astype(np.float64))) / 2)).astype(np.int64)


def cell_range(cell) -> tuple[np.ndarray, np.ndarray]:
    """[lo, hi] leaf-id range of all descendants — containment queries are
    plain BETWEENs on the leaf column (the S2 range-decomposition property)."""
    c = np.asarray(cell, dtype=np.uint64)
    lsb = c & (~c + np.uint64(1))
    return ((c - (lsb - np.uint64(1))).astype(np.int64),
            (c + (lsb - np.uint64(1))).astype(np.int64))


def cell_center_lonlat(cell) -> tuple[np.ndarray, np.ndarray]:
    """Center point of cell(s) in lon/lat degrees (roundtrip decode)."""
    c = np.asarray(cell, dtype=np.uint64)
    face = (c >> np.uint64(_POS_BITS)).astype(np.int64)
    pos = ((c & ((np.uint64(1) << np.uint64(_POS_BITS)) - np.uint64(1))) >> np.uint64(1)).astype(np.int64)
    lvl = cell_level(cell)
    n = np.int64(1) << MAX_LEVEL
    i, j = _hilbert_ij(pos)
    # snap to the cell's center at its level
    size = np.int64(1) << (MAX_LEVEL - lvl)
    ic = (i // size) * size + size // 2
    jc = (j // size) * size + size // 2
    u = _uv_from_st((ic.astype(np.float64) + 0.5) / n)
    v = _uv_from_st((jc.astype(np.float64) + 0.5) / n)
    x, y, z = _uv_to_xyz(face, u, v)
    return np.degrees(np.arctan2(y, x)), np.degrees(np.arcsin(np.clip(z, -1, 1)))


def s3_index(lon, lat, tsec, level: int = MAX_LEVEL):
    """S3 = (week_bin, S2 cell) — the reference's spatio-temporal point key
    (s3/S3IndexKeySpace.scala:79-97: time bin prefix + S2 cell id). For
    POINT data the (bin, cell) composition is exact — unlike extents, a
    point belongs to exactly one bin and one cell, so pruning on both
    columns is sound (the extent case needs XZ3, see index/xz.py)."""
    from .zorder import SECONDS_PER

    per = SECONDS_PER["week"]
    ts = np.asarray(tsec, dtype=np.float64)
    week_bin = np.floor_divide(ts, per).astype(np.int64)
    return week_bin, s2_cell_id(lon, lat, level)


def s2_covering(
    bbox: tuple[float, float, float, float], level: int
) -> list[int]:
    """Cells at `level` intersecting a lon/lat bbox, by conservative dense
    sampling (step < the minimum cell angular width at `level`, so every
    cell containing any bbox point is sampled). A demo covering for coarse
    pruning levels; the production pruning path remains Z2/XZ2."""
    minx, miny, maxx, maxy = bbox
    # min cell width ~ 0.33 * 90deg / 2^l (published s2cell_statistics);
    # sample at a third of that for safety
    step = 0.33 * 90.0 / (2**level) / 3.0
    xs = np.arange(minx, maxx + step, step)
    ys = np.arange(miny, maxy + step, step)
    xs = np.clip(xs, -180.0, 180.0)
    ys = np.clip(ys, -90.0, 90.0)
    gx, gy = np.meshgrid(xs, ys)
    cells = s2_cell_id(gx.ravel(), gy.ravel(), level)
    return sorted(set(int(c) for c in cells))
