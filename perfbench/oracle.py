"""Independent answers for every operation the benchmark times.

Nothing here imports the engine: geometry is numpy (even-odd ray casting and
Liang-Barsky segment clipping), candidate pairs come from DuckDB, PNGs are
decoded with zlib. Each ``check_*`` returns None when the engine's output is
right and a one-line reason when it is not.
"""

from __future__ import annotations

import struct
import zlib

import duckdb
import numpy as np
import pandas as pd

import gen

EARTH_R = 6371008.7714  # mean Earth radius in metres, as the engine uses


def _bbox_pairs(a: np.ndarray, b: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Index pairs (i, j) whose closed (minx, miny, maxx, maxy) boxes overlap."""
    con = duckdb.connect()
    try:
        con.execute("SET threads TO 2")
        cols = ["minx", "miny", "maxx", "maxy"]
        con.register("a", pd.DataFrame(a, columns=cols).assign(i=np.arange(len(a))))
        con.register("b", pd.DataFrame(b, columns=cols).assign(j=np.arange(len(b))))
        res = con.execute(
            "SELECT a.i, b.j FROM a JOIN b ON a.minx <= b.maxx AND a.maxx >= b.minx "
            "AND a.miny <= b.maxy AND a.maxy >= b.miny"
        ).fetchnumpy()
    finally:
        con.close()
    return np.asarray(res["i"], dtype=np.int64), np.asarray(res["j"], dtype=np.int64)


def _inside(px: np.ndarray, py: np.ndarray, rings: np.ndarray) -> np.ndarray:
    """Even-odd point-in-ring for each (px[c], py[c], rings[c])."""
    ax, ay = rings[:, :-1, 0], rings[:, :-1, 1]
    bx, by = rings[:, 1:, 0], rings[:, 1:, 1]
    x, y = px[:, None], py[:, None]
    straddle = (ay > y) != (by > y)
    with np.errstate(divide="ignore", invalid="ignore"):
        cross = x < (bx - ax) * (y - ay) / (by - ay) + ax
    return ((straddle & cross).sum(axis=1) % 2) == 1


def _edges_hit_box(rings: np.ndarray, box: np.ndarray) -> np.ndarray:
    """Whether any edge of rings[c] meets the closed box[c] (Liang-Barsky)."""
    ax, ay = rings[:, :-1, 0], rings[:, :-1, 1]
    dx, dy = rings[:, 1:, 0] - ax, rings[:, 1:, 1] - ay
    x0, y0, x1, y1 = (box[:, k, None] for k in range(4))
    t0, t1 = np.zeros_like(ax), np.ones_like(ax)
    ok = np.ones(ax.shape, dtype=bool)
    for p, q in ((-dx, ax - x0), (dx, x1 - ax), (-dy, ay - y0), (dy, y1 - ay)):
        ok &= ~((p == 0) & (q < 0))
        with np.errstate(divide="ignore", invalid="ignore"):
            r = q / p
        t0 = np.where(p < 0, np.maximum(t0, r), t0)
        t1 = np.where(p > 0, np.minimum(t1, r), t1)
    return (ok & (t0 <= t1)).any(axis=1)


def join_pairs(docs: gen.Docs, polys: gen.Polygons) -> int:
    """Number of (document, polygon) pairs that intersect."""
    d_box = np.stack([docs.minx, docs.miny, docs.maxx, docs.maxy], axis=1)
    i, j = _bbox_pairs(d_box, polys.bounds)
    rings = polys.rings[j]
    hit = _inside(docs.minx[i], docs.miny[i], rings)
    rect = docs.is_rect[i]
    hit[rect] |= _edges_hit_box(rings[rect], d_box[i[rect]])
    return int(hit.sum())


def window_mask(docs: gen.Docs, win, interval: tuple[float, float] | None = None) -> np.ndarray:
    """Documents intersecting the window rectangle (and, if given, with
    lo <= ts < hi)."""
    x0, y0, x1, y1 = win
    m = (docs.minx <= x1) & (docs.maxx >= x0) & (docs.miny <= y1) & (docs.maxy >= y0)
    if interval is not None:
        m &= (docs.ts >= interval[0]) & (docs.ts < interval[1])
    return m


def check_window(docs: gen.Docs, win, interval, n: int) -> str | None:
    want = int(window_mask(docs, win, interval).sum())
    return None if n == want else f"window rows {n}, oracle {want}"


def haversine(lon1, lat1, lon2, lat2):
    p1, p2 = np.radians(lat1), np.radians(lat2)
    a = np.sin((p2 - p1) / 2) ** 2 + np.cos(p1) * np.cos(p2) * np.sin(np.radians(lon2 - lon1) / 2) ** 2
    return 2 * EARTH_R * np.arcsin(np.minimum(1.0, np.sqrt(a)))


def check_knn(docs: gen.Docs, queries, k: int, rows) -> str | None:
    """rows: (query_id, dist_m). Each query's distances must be the k
    smallest centroid distances, to a millimetre."""
    got: dict[str, list[float]] = {}
    for qid, dist in rows:
        got.setdefault(qid, []).append(dist)
    for qid, lon, lat in queries:
        want = np.sort(haversine(docs.x, docs.y, lon, lat))[:k]
        have = np.sort(np.asarray(got.get(qid, []), dtype=float))
        if len(have) != len(want) or not np.allclose(have, want, rtol=0, atol=1e-3):
            return f"knn {qid}: got {have[:k].round(3).tolist()} want {want.round(3).tolist()}"
    return None


def check_density(docs: gen.Docs, win, total_weight: float) -> str | None:
    """The grid's weights sum to the window's documents whose centroid lies
    in the grid box."""
    x, y = docs.x, docs.y
    m = window_mask(docs, win) & (x >= win[0]) & (x <= win[2]) & (y >= win[1]) & (y <= win[3])
    return None if int(m.sum()) == round(total_weight) else f"density sum {total_weight} != {int(m.sum())}"


def decode_gray_png(data: bytes) -> np.ndarray:
    """8-bit grayscale, non-interlaced PNG -> (h, w) uint8."""
    if data[:8] != b"\x89PNG\r\n\x1a\n":
        raise ValueError("not a PNG")
    pos, idat, head = 8, b"", None
    while pos < len(data):
        (length,) = struct.unpack(">I", data[pos : pos + 4])
        kind, body = data[pos + 4 : pos + 8], data[pos + 8 : pos + 8 + length]
        if zlib.crc32(kind + body) != struct.unpack(">I", data[pos + 8 + length : pos + 12 + length])[0]:
            raise ValueError("bad CRC")
        if kind == b"IHDR":
            head = struct.unpack(">IIBBBBB", body)
        elif kind == b"IDAT":
            idat += body
        pos += 12 + length
    if head is None or head[2:] != (8, 0, 0, 0, 0):
        raise ValueError(f"unexpected header {head}")
    w, h = head[0], head[1]
    raw = np.frombuffer(zlib.decompress(idat), dtype=np.uint8).reshape(h, w + 1)
    out = np.zeros((h, w), dtype=np.int32)
    prev = np.zeros(w, dtype=np.int32)
    for r in range(h):
        ft, line = raw[r, 0], raw[r, 1:].astype(np.int32)
        if ft in (0, 2):
            cur = (line + (prev if ft == 2 else 0)) % 256
        else:
            cur = np.zeros(w, dtype=np.int32)
            for c in range(w):
                left = cur[c - 1] if c else 0
                up_left = prev[c - 1] if c else 0
                if ft == 1:
                    pred = left
                elif ft == 3:
                    pred = (left + prev[c]) // 2
                else:
                    pa, pb, pc = abs(prev[c] - up_left), abs(left - up_left), abs(left + prev[c] - 2 * up_left)
                    pred = left if pa <= pb and pa <= pc else (prev[c] if pb <= pc else up_left)
                cur[c] = (line[c] + pred) % 256
        out[r] = prev = cur
    return out.astype(np.uint8)


def check_tiles(n_rows: int, pyramid, pngs, zooms, png_zoom: int, tile_px: int) -> str | None:
    """pyramid: (tile_z, tile_x, tile_y, n_docs); pngs: (tile_z, tile_x,
    tile_y, png). Every level sums to the window's rows; one PNG per tile at
    png_zoom, each decoding to a tile_px square whose brightest pixel is 255."""
    for z in zooms:
        total = sum(r[3] for r in pyramid if r[0] == z)
        if total != n_rows:
            return f"zoom {z} tiles sum to {total}, window has {n_rows}"
    want = {(r[1], r[2]) for r in pyramid if r[0] == png_zoom}
    have = {(r[1], r[2]) for r in pngs}
    if want != have:
        return f"{len(have)} PNG tiles for {len(want)} non-empty tiles"
    for r in pngs:
        img = decode_gray_png(bytes(r[3]))
        if img.shape != (tile_px, tile_px) or img.max() != 255:
            return f"PNG tile {r[1]},{r[2]}: shape {img.shape} max {img.max()}"
    return None


def shingles(text: str, k: int = 3) -> set[str]:
    t = text.lower()
    return {t[i : i + k] for i in range(max(len(t) - k + 1, 1))}


def check_dedup(texts: gen.Texts, rows, threshold: float) -> str | None:
    """rows: (id_a, id_b, jaccard). Every pair is distinct, really has that
    exact 3-gram Jaccard and reaches the threshold; every planted
    near-duplicate is found."""
    text_of = dict(zip(texts.ids, texts.texts))
    seen = set()
    for a, b, jac in rows:
        key = (min(a, b), max(a, b))
        if a == b or key in seen:
            return f"pair {key} repeated or reflexive"
        seen.add(key)
        sa, sb = shingles(text_of[a]), shingles(text_of[b])
        exact = len(sa & sb) / len(sa | sb)
        if exact < threshold or abs(exact - jac) > 1e-9:
            return f"pair {key}: jaccard {jac} reported, {exact} exact"
    missing = [p for p in texts.planted if (min(p), max(p)) not in seen]
    if missing:
        return f"{len(missing)} of {len(texts.planted)} planted duplicates missed"
    return None


def check_ann(vec: gen.Vectors, rows, k: int, sample: int = 100, min_recall: float = 0.9) -> str | None:
    """rows: (query_id, vec_id, score). k rows per query, each score the true
    cosine (engine rounds to 6 decimals), and recall@k against brute force
    on the first ``sample`` queries at least ``min_recall``."""
    if len(rows) != len(vec.queries) * k:
        return f"{len(rows)} rows for {len(vec.queries)} queries x k={k}"
    q = np.array([r[0] for r in rows])
    v = np.array([r[1] for r in rows])
    s = np.array([r[2] for r in rows], dtype=float)
    cn = vec.corpus / np.linalg.norm(vec.corpus, axis=1, keepdims=True)
    qn = vec.queries / np.linalg.norm(vec.queries, axis=1, keepdims=True)
    cos = np.einsum("ij,ij->i", qn[q], cn[v])
    if np.abs(cos - s).max() > 2e-6:
        return f"score off by {np.abs(cos - s).max():.3g}"
    truth = np.argsort(-(qn[:sample] @ cn.T), axis=1)[:, :k]
    found = 0
    for i in range(sample):
        found += len(set(v[q == i].tolist()) & set(truth[i].tolist()))
    recall = found / (sample * k)
    return None if recall >= min_recall else f"recall@{k} {recall:.3f} < {min_recall}"
