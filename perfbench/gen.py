"""Seeded input generators for the benchmark workloads.

Everything here is a pure function of its arguments: the same seed and sizes
give byte-identical inputs. The package's own ``synth_*`` helpers are not
used, so a change to them cannot change what the benchmark measures.

Coordinates are generated on two disjoint lattices so that no input lands
exactly on a boundary, where "intersects" would hinge on floating-point
ties rather than on the engine's logic:

* document coordinates are whole micro-degrees (WKT with 6 decimals);
* polygon vertices and query-window edges are odd half-micro-degrees
  (WKT with 7 decimals ending in 5).

The oracle uses the same numbers (``int / 1e6`` and ``odd / 2e6``), which are
exactly the doubles the engine parses out of the WKT text.
"""

from __future__ import annotations

from dataclasses import dataclass
from datetime import datetime, timezone

import numpy as np
import pyarrow as pa

T0 = int(datetime(2024, 3, 4, tzinfo=timezone.utc).timestamp())
# docs and polygons live in this lon/lat box: 4 x 4 of the engine's 256
# coarse partition cells, so window queries can prune while a week of data
# stays at about a hundred partition files
REGION = (-45.0, -22.5, 45.0, 22.5)
# hot spot: inside one coarse cell ([0, 22.5] x [0, 11.25]), away from its edges
HOT_CENTER = (10.3, 5.7)
HOT_HALF = 0.1

SPAN_TYPE = pa.list_(
    pa.struct(
        [
            ("kind", pa.string()),
            ("text", pa.string()),
            ("media_ref", pa.string()),
            ("offset", pa.int32()),
        ]
    )
)
DOCS_SCHEMA = pa.schema([pa.field("doc_id", pa.string(), nullable=False), ("spans", SPAN_TYPE)])


def _docs_arrow(ids: list[str], wkts: list[str], ts: np.ndarray, body: list[str]) -> pa.Table:
    """Interleaved-document rows: one text, one geo and one time span each."""
    n = len(ids)
    iso = np.datetime_as_string(ts.astype("datetime64[s]"), unit="s")
    kinds = np.tile(np.array(["text", "geo", "time"], dtype=object), n)
    texts = np.empty(3 * n, dtype=object)
    texts[0::3] = body
    texts[1::3] = wkts
    texts[2::3] = [s + "Z" for s in iso]
    spans = pa.StructArray.from_arrays(
        [
            pa.array(kinds, pa.string()),
            pa.array(texts, pa.string()),
            pa.array(np.full(3 * n, "", dtype=object), pa.string()),
            pa.array(np.tile(np.array([0, 1, 2], dtype=np.int32), n)),
        ],
        fields=list(SPAN_TYPE.value_type),
    )
    offsets = pa.array(np.arange(0, 3 * n + 1, 3, dtype=np.int32))
    return pa.Table.from_arrays(
        [pa.array(ids, pa.string()), pa.ListArray.from_arrays(offsets, spans)],
        schema=DOCS_SCHEMA,
    )


@dataclass
class Docs:
    """Generated documents plus the exact geometry the oracle checks against.
    Envelopes are in degrees; points have minx == maxx and miny == maxy."""

    table: pa.Table
    minx: np.ndarray
    miny: np.ndarray
    maxx: np.ndarray
    maxy: np.ndarray
    is_rect: np.ndarray
    ts: np.ndarray  # epoch seconds

    @property
    def x(self) -> np.ndarray:
        """Centroid longitude, as the index derives it."""
        return np.where(self.is_rect, (self.minx + self.maxx) / 2, self.minx)

    @property
    def y(self) -> np.ndarray:
        return np.where(self.is_rect, (self.miny + self.maxy) / 2, self.miny)


def docs(
    seed: int,
    n: int,
    hot_share: float = 0.05,
    rect_share: float = 0.10,
    days: int = 7,
    id_prefix: str = "d",
) -> Docs:
    """``n`` documents: points and axis-aligned rectangles, uniform over
    REGION except ``hot_share`` of them packed into one 0.2-degree box
    (the hot cell), with timestamps uniform over ``days`` days from T0."""
    rng = np.random.default_rng([seed, 1])
    x0, y0, x1, y1 = (int(v * 1_000_000) for v in REGION)
    px = rng.integers(x0, x1, n)
    py = rng.integers(y0, y1, n)
    n_hot = int(round(n * hot_share))
    hot = np.zeros(n, dtype=bool)
    hot[rng.choice(n, n_hot, replace=False)] = True
    hx, hy, hh = (int(v * 1_000_000) for v in (*HOT_CENTER, HOT_HALF))
    px[hot] = rng.integers(hx - hh, hx + hh, n_hot)
    py[hot] = rng.integers(hy - hh, hy + hh, n_hot)
    is_rect = (rng.random(n) < rect_share) & ~hot
    # even sides keep rectangle centroids on the whole-micro-degree lattice
    qx = px + 2 * rng.integers(500, 750_000, n)
    qy = py + 2 * rng.integers(500, 250_000, n)
    ts = T0 + rng.integers(0, days * 86400, n)

    wkts = [
        f"POLYGON (({a / 1e6:.6f} {b / 1e6:.6f}, {a / 1e6:.6f} {d / 1e6:.6f}, "
        f"{c / 1e6:.6f} {d / 1e6:.6f}, {c / 1e6:.6f} {b / 1e6:.6f}, {a / 1e6:.6f} {b / 1e6:.6f}))"
        if r
        else f"POINT ({a / 1e6:.6f} {b / 1e6:.6f})"
        for a, b, c, d, r in zip(px.tolist(), py.tolist(), qx.tolist(), qy.tolist(), is_rect.tolist())
    ]
    ids = [f"{id_prefix}{seed % 1000:03d}-{i:07d}" for i in range(n)]
    body = [f"document {i} body" for i in range(n)]
    minx, miny = px / 1e6, py / 1e6
    maxx = np.where(is_rect, qx, px) / 1e6
    maxy = np.where(is_rect, qy, py) / 1e6
    return Docs(_docs_arrow(ids, wkts, ts, body), minx, miny, maxx, maxy, is_rect, ts)


@dataclass
class Polygons:
    """Polygon table for the join's right side. ``rings`` is (n, V, 2): each
    closed ring padded to V vertices by repeating its closing vertex."""

    table: pa.Table
    rings: np.ndarray

    @property
    def bounds(self) -> np.ndarray:
        r = self.rings
        return np.stack(
            [r[:, :, 0].min(1), r[:, :, 1].min(1), r[:, :, 0].max(1), r[:, :, 1].max(1)], axis=1
        )


def _half_micro(v: np.ndarray) -> np.ndarray:
    """Snap degrees to the odd half-micro-degree lattice (see module doc)."""
    k = np.floor(np.asarray(v) * 1_000_000).astype(np.int64)
    return (2 * k + 1) / 2e6


def polygons(
    seed: int,
    n: int,
    nonrect_share: float = 0.4,
    hot_share: float = 0.02,
    max_vertices: int = 8,
) -> Polygons:
    """``n`` simple polygons over REGION: rectangles, plus ``nonrect_share``
    star-shaped (often concave) polygons with 5..max_vertices vertices.
    ``hot_share`` of them are small and sit on the documents' hot cell."""
    rng = np.random.default_rng([seed, 2])
    cx = rng.uniform(REGION[0] + 2, REGION[2] - 2, n)
    cy = rng.uniform(REGION[1] + 2, REGION[3] - 2, n)
    radius = np.exp(rng.uniform(np.log(0.05), np.log(0.8), n))
    n_hot = int(round(n * hot_share))
    cx[:n_hot] = HOT_CENTER[0] + rng.uniform(-HOT_HALF, HOT_HALF, n_hot)
    cy[:n_hot] = HOT_CENTER[1] + rng.uniform(-HOT_HALF, HOT_HALF, n_hot)
    radius[:n_hot] = rng.uniform(0.01, 0.05, n_hot)
    star = rng.random(n) < nonrect_share
    V = max_vertices + 1
    rings = np.empty((n, V, 2))
    wkts = []
    for i in range(n):
        if star[i]:
            m = int(rng.integers(5, max_vertices + 1))
            ang = np.sort(rng.uniform(0, 2 * np.pi, m))
            rad = radius[i] * rng.uniform(0.35, 1.0, m)
            xs = _half_micro(cx[i] + rad * np.cos(ang))
            ys = _half_micro(cy[i] + rad * np.sin(ang) * 0.6)
        else:
            w, h = radius[i], radius[i] * rng.uniform(0.3, 1.0)
            xs = _half_micro(np.array([cx[i] - w, cx[i] - w, cx[i] + w, cx[i] + w]))
            ys = _half_micro(np.array([cy[i] - h, cy[i] + h, cy[i] + h, cy[i] - h]))
        ring = np.stack([np.append(xs, xs[0]), np.append(ys, ys[0])], axis=1)
        rings[i, : len(ring)] = ring
        rings[i, len(ring) :] = ring[-1]
        wkts.append("POLYGON ((" + ", ".join(f"{a:.7f} {b:.7f}" for a, b in ring) + "))")
    ids = [f"p{seed % 1000:03d}-{i:05d}" for i in range(n)]
    ts = T0 + rng.integers(0, 86400, n)
    return Polygons(_docs_arrow(ids, wkts, ts, ["polygon"] * n), rings)


def _slots(n: int, k: int) -> np.ndarray:
    """n fixed points of a golden-ratio sequence in [0, 1): every run sees the
    same spread of window sizes and categories, whatever the seed."""
    phi = (np.sqrt(5) - 1) / 2
    return (np.arange(n) * phi * k + 0.5) % 1.0


def windows(seed: int, n: int, hot_share: float = 0.3, empty_share: float = 0.1) -> np.ndarray:
    """(n, 4) query rectangles on the half-micro lattice. Window i's side
    length (log-uniform from 0.01 to 20 degrees) and category are fixed by
    i alone: ``hot_share`` of the slots are centred on the hot cell and
    ``empty_share`` sit outside REGION, where no document is. The seed moves
    the windows, so runs differ in place but not in the mix of work."""
    rng = np.random.default_rng([seed, 3])
    side = np.exp(np.log(0.01) + _slots(n, 1) * (np.log(20.0) - np.log(0.01)))
    aspect = np.exp(rng.uniform(np.log(0.5), np.log(2.0), n))
    w, h = side * np.sqrt(aspect) / 2, side / np.sqrt(aspect) / 2
    cx = rng.uniform(REGION[0], REGION[2], n)
    cy = rng.uniform(REGION[1], REGION[3], n)
    u = _slots(n, 2)
    hot = u < hot_share
    empty = (u >= hot_share) & (u < hot_share + empty_share)
    cx[hot] = HOT_CENTER[0] + rng.uniform(-HOT_HALF, HOT_HALF, hot.sum())
    cy[hot] = HOT_CENTER[1] + rng.uniform(-HOT_HALF, HOT_HALF, hot.sum())
    w[hot], h[hot] = np.minimum(w[hot], 0.3), np.minimum(h[hot], 0.3)
    cx[empty] = rng.uniform(120.0, 170.0, empty.sum())
    cy[empty] = rng.uniform(50.0, 80.0, empty.sum())
    w[empty], h[empty] = np.minimum(w[empty], 5.0), np.minimum(h[empty], 5.0)
    out = np.stack([cx - w, cy - h, cx + w, cy + h], axis=1)
    out[:, [0, 2]] = np.clip(out[:, [0, 2]], -179.9, 179.9)
    out[:, [1, 3]] = np.clip(out[:, [1, 3]], -84.9, 84.9)
    return _half_micro(out)


@dataclass
class Texts:
    ids: list[str]
    texts: list[str]
    planted: list[tuple[str, str]]  # (original id, near-duplicate id)

    def arrow(self) -> pa.Table:
        return pa.table({"doc_id": pa.array(self.ids), "text": pa.array(self.texts)})


def texts(
    seed: int, n: int, dup_rate: float = 0.05, words: int = 40, vocab_size: int = 5000
) -> Texts:
    """``n`` texts of ``words`` random pseudo-words. ``dup_rate`` of them are
    near-duplicates of an earlier text with one word replaced (character
    3-gram Jaccard about 0.93); unrelated texts share almost no 3-grams."""
    rng = np.random.default_rng([seed, 4])
    lengths = rng.integers(3, 10, vocab_size)
    letters = rng.integers(0, 26, lengths.sum())
    flat = "".join(chr(97 + c) for c in letters.tolist())
    ends = np.cumsum(lengths)
    vocab = [flat[e - ln : e] for e, ln in zip(ends.tolist(), lengths.tolist())]
    W = rng.integers(0, vocab_size, (n, words))
    is_dup = rng.random(n) < dup_rate
    is_dup[0] = False
    src = np.where(is_dup, (rng.random(n) * np.arange(n)).astype(np.int64), -1)
    pos = rng.integers(0, words, n)
    repl = rng.integers(0, vocab_size, n)
    planted = []
    ids = [f"t{seed % 1000:03d}-{i:07d}" for i in range(n)]
    for i in np.flatnonzero(is_dup).tolist():
        W[i] = W[src[i]]
        W[i, pos[i]] = repl[i]
        planted.append((ids[src[i]], ids[i]))
    out = [" ".join(vocab[j] for j in row) for row in W.tolist()]
    return Texts(ids, out, planted)


@dataclass
class Vectors:
    corpus: np.ndarray  # (n, dim) float64
    queries: np.ndarray  # (q, dim) float64

    def arrow(self, which: str) -> pa.Table:
        m = self.corpus if which == "corpus" else self.queries
        id_name = "vec_id" if which == "corpus" else "query_id"
        flat = pa.array(m.ravel(), pa.float64())
        return pa.table(
            {
                id_name: pa.array(np.arange(len(m), dtype=np.int64)),
                "embedding": pa.FixedSizeListArray.from_arrays(flat, m.shape[1]).cast(
                    pa.list_(pa.float64())
                ),
            }
        )


def vectors(seed: int, n_corpus: int, n_queries: int, dim: int = 64, clusters: int = 64) -> Vectors:
    """Gaussian-mixture corpus; each query is a corpus vector plus small noise,
    so its true neighbours are well separated from the rest."""
    rng = np.random.default_rng([seed, 5])
    centers = rng.normal(size=(clusters, dim))
    lab = rng.integers(0, clusters, n_corpus)
    corpus = centers[lab] + 0.35 * rng.normal(size=(n_corpus, dim))
    src = rng.integers(0, n_corpus, n_queries)
    queries = corpus[src] + 0.05 * rng.normal(size=(n_queries, dim))
    return Vectors(np.round(corpus, 6), np.round(queries, 6))
