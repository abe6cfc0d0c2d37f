"""XZ extent indexing in d dimensions (Böhm/Klump/Kriegel, "XZ-Ordering: A
Space-Filling Curve for Objects with Spatial Extension", SSD 1999).

One code per element, no duplication, matching the reference's extents
indexes (geomesa-z3/.../curve/XZ2SFC.scala:24-351, XZ3SFC.scala:53-330).
Written from the published algorithm, not translated from the Scala. The
dimension d is len(bounds) // 2 and every tree level splits all d axes, so a
node has 2^d children:

- an element is stored at resolution level l = the deepest level at which
  the (2x-enlarged on every axis) cell of its lower corner still covers it;
- its code is the preorder-DFS number of that cell, and a level-l subtree
  holds ((2^d)^(g-l+1)-1)/(2^d-1) codes (Lemma 3);
- a query window matches a stored element if it intersects the element's
  enlarged cell, so query planning is a BFS emitting
  - full subtree ranges when the window contains the enlarged cell, and
  - singleton ranges [cs, cs] for partial overlaps, recursing down.

The two configurations are the reference's:

- `XZ2SFC`: (x, y) extents, g=12 (XZ2SFC.scala:363-370 default).
- `XZ3SFC`: (x, y, t) extents with t the offset inside a week bin; time is
  binned by week like the reference Z3/XZ3 keys. g=18 keeps the max code
  (8^19-1)/7 < 2^63 with margin; 18 levels already give ~1.5 m x 0.75 m x
  23 s leaf cells. A composed (week_bin, xz2) key cannot replace it: it
  loses containment pruning on the time axis (a 3-day extent stored in one
  week bin matches every temporal window in that week).

The stored xz2/xz3 columns are an on-disk format: tests/test_xz_golden.py
pins codes and ranges, and any change to the arithmetic here must keep them.
"""

from __future__ import annotations

import math

import numpy as np

from .ranges import IndexRange, merge_ranges
from .zorder import SECONDS_PER


class XZSFC:
    """XZ curve of resolution `g` over the box `bounds` = (d mins, d maxes).

    Elements and query windows use the same layout as `bounds`."""

    def __init__(self, g: int, bounds):
        self.g = g
        self.d = len(bounds) // 2
        self.mins = tuple(bounds[: self.d])
        self.sizes = tuple(hi - lo for lo, hi in zip(self.mins, bounds[self.d :]))
        self.fanout = 2**self.d

    def _subtree(self, level: int) -> int:
        """Codes in a level-`level` subtree, its root included."""
        return (self.fanout ** (self.g - level + 1) - 1) // (self.fanout - 1)

    def _normalize(self, extent) -> list[float]:
        d = self.d
        return [
            min(max((v - self.mins[k % d]) / self.sizes[k % d], 0.0), 1.0)
            for k, v in enumerate(extent)
        ]

    # ------------------------------------------------------------------ write

    def index(self, *extent: float) -> int:
        """Code for one element (d mins, then d maxes); the per-element
        reference that `index_many` is tested against."""
        n = self._normalize(extent)
        lo, hi = n[: self.d], n[self.d :]
        max_dim = max(b - a for a, b in zip(lo, hi))
        if max_dim <= 0:
            l1 = self.g
        else:
            l1 = min(self.g, int(math.floor(math.log(max_dim) / math.log(0.5))))
        # one level deeper if the element still fits that level's 2x-enlarged
        # cell (XZ2SFC.scala:60-74 semantics)
        length = l1
        if l1 < self.g:
            w2 = 0.5 ** (l1 + 1)
            if all(b <= math.floor(a / w2) * w2 + 2 * w2 for a, b in zip(lo, hi)):
                length = l1 + 1
        cs = 0
        cmin, cmax = [0.0] * self.d, [1.0] * self.d
        for i in range(length):
            q = 0
            for k, v in enumerate(lo):
                c = (cmin[k] + cmax[k]) / 2
                if v >= c:
                    q |= 1 << k
                    cmin[k] = c
                else:
                    cmax[k] = c
            cs += 1 + q * self._subtree(i + 1)
        return cs

    def index_many(self, lo, hi) -> np.ndarray:
        """Vectorized `index` over (d, n) arrays of element mins and maxes:
        one numpy pass over a whole Arrow batch."""
        g = self.g
        mins = np.array(self.mins)[:, None]
        sizes = np.array(self.sizes)[:, None]
        lo = np.clip((np.asarray(lo, dtype=np.float64) - mins) / sizes, 0.0, 1.0)
        hi = np.clip((np.asarray(hi, dtype=np.float64) - mins) / sizes, 0.0, 1.0)
        max_dim = (hi - lo).max(axis=0)
        with np.errstate(divide="ignore"):
            l1 = np.where(
                max_dim <= 0,
                g,
                np.minimum(g, np.floor(np.log(np.maximum(max_dim, 1e-300)) / np.log(0.5))),
            ).astype(np.int64)
        l1 = np.clip(l1, 0, g)
        w2 = 0.5 ** (l1 + 1.0)
        fits = (hi <= np.floor(lo / w2) * w2 + 2 * w2).all(axis=0)
        length = np.where((l1 < g) & fits, l1 + 1, l1)

        bit = (1 << np.arange(self.d, dtype=np.int64))[:, None]
        cs = np.zeros(lo.shape[1], dtype=np.int64)
        # lower corner of the current cell: a multiple of 0.5**i, so adding
        # half a cell is exact and equals `index`'s (cmin + cmax) / 2
        cmin = np.zeros_like(lo)
        for i in range(g):
            half = 0.5 ** (i + 1)
            upper = lo >= cmin + half
            q = (upper * bit).sum(axis=0)
            cs += np.where(i < length, 1 + q * self._subtree(i + 1), 0)
            cmin += upper * half
        return cs

    # ------------------------------------------------------------------ query

    def ranges(self, windows, max_ranges: int = 2000) -> list[IndexRange]:
        """Code ranges whose stored elements MAY intersect any window (d mins,
        then d maxes). Over-selects, never misses: budget or depth
        exhaustion, and any abandoned frontier, emit loose full subtrees."""
        d = self.d
        norm = np.array([self._normalize(w) for w in windows]).reshape(-1, 1, 2 * d)
        qlo, qhi = norm[..., :d], norm[..., d:]
        # offsets of the 2^d children inside a unit cell, in child-number order
        unit = (np.arange(self.fanout)[:, None] >> np.arange(d) & 1).astype(np.float64)
        lows, highs, flags = [], [], []
        n_out = 0
        # BFS one level at a time over the frontier's lower corners (in
        # normalized space) and codes, in the order the nodes were expanded
        level = 0
        corner = np.zeros((1, d))
        code = np.zeros(1, dtype=np.int64)
        while len(code) and n_out < max_ranges * 4:
            w = 0.5**level
            far = corner + 2 * w  # enlarged cell: 2x every axis
            hit = ((qlo <= far) & (qhi >= corner)).all(axis=2)
            contained = (hit & ((qlo <= corner) & (qhi >= far)).all(axis=2)).any(axis=0)
            inter = hit.any(axis=0)
            corner, code, contained = corner[inter], code[inter], contained[inter]
            # every intersecting node emits one range, so the budget a node
            # sees is the count emitted before it
            before = n_out + np.arange(len(code))
            expand = ~contained & (level < self.g) & (before < max_ranges)
            lows.append(code)
            highs.append(np.where(expand, code, code + self._subtree(level)))
            flags.append(contained)
            n_out += len(code)
            corner = (corner[expand][:, None, :] + unit * (w / 2)).reshape(-1, d)
            child = 1 + np.arange(self.fanout) * self._subtree(level + 1)
            code = (code[expand][:, None] + child).reshape(-1)
            level += 1
        # budget exhausted with a live frontier: those nodes' parents emitted
        # only singleton ranges, so cover every remaining subtree loosely
        lows.append(code)
        highs.append(code + self._subtree(level))
        flags.append(np.zeros(len(code), dtype=bool))
        cols = (np.concatenate(a).tolist() for a in (lows, highs, flags))
        return merge_ranges([IndexRange(*r) for r in zip(*cols)])


class XZ2SFC(XZSFC):
    """XZ over (x, y) extents in world bounds."""

    def __init__(self, g: int = 12, bounds=(-180.0, -90.0, 180.0, 90.0)):
        super().__init__(g, bounds)


class XZ3SFC(XZSFC):
    """XZ over (x, y, t) extents, t in seconds inside one week bin."""

    def __init__(
        self, g: int = 18, bounds=(-180.0, -90.0, 0.0, 180.0, 90.0, SECONDS_PER["week"])
    ):
        super().__init__(g, bounds)


def xz2_index_many(minx, miny, maxx, maxy, g: int = 12) -> np.ndarray:
    """Vectorized XZ2 codes for arrays of envelopes."""
    return XZ2SFC(g).index_many((minx, miny), (maxx, maxy))


def xz3_index_many(minx, miny, maxx, maxy, tsec, g: int = 18):
    """Vectorized (week_bin, xz3) codes for arrays of envelopes at instant
    timestamps (the docs index-job hot path: a doc carries one instant, so
    its within-bin interval is the degenerate [t, t])."""
    per = SECONDS_PER["week"]
    ts = np.asarray(tsec, dtype=np.float64)
    week_bin = np.floor_divide(ts, per).astype(np.int64)
    tin = ts - week_bin * per
    return week_bin, XZ3SFC(g).index_many((minx, miny, tin), (maxx, maxy, tin))
