"""Self-tests for the benchmark's own code (no Spark needed):

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import struct
import zlib

import numpy as np
import pytest

import gen
import oracle
from run import percentile, samples_beyond
from spans import Span, layer_self_times, parse_plan_metrics, self_times, summarize_plan


@pytest.mark.parametrize(
    "make",
    [
        lambda s: gen.docs(s, 500).table,
        lambda s: gen.polygons(s, 50).table,
        lambda s: gen.windows(s, 40),
        lambda s: gen.texts(s, 300).texts,
        lambda s: gen.vectors(s, 200, 10).queries,
    ],
)
def test_generators_are_deterministic_per_seed(make):
    a, b, c = make(7), make(7), make(8)
    if isinstance(a, np.ndarray):
        assert np.array_equal(a, b) and not np.array_equal(a, c)
    elif hasattr(a, "equals"):
        assert a.equals(b) and not a.equals(c)
    else:
        assert a == b and a != c


def test_generated_geometry_avoids_ties():
    def on_lattice(v, scale, odd=False):
        k = np.round(v * scale)
        return (np.abs(v * scale - k) < 1e-3).all() and (not odd or (k % 2 == 1).all())

    d = gen.docs(3, 2000)
    assert on_lattice(d.minx, 1e6) and on_lattice(d.maxy, 1e6)
    assert on_lattice(d.x, 1e6) and on_lattice(d.y, 1e6)  # rectangle centroids too
    assert on_lattice(gen.windows(3, 100), 2e6, odd=True)
    assert on_lattice(gen.polygons(3, 100).rings, 2e6, odd=True)


def test_window_mix_does_not_depend_on_seed():
    def on_hot_cell(seed):
        w = gen.windows(seed, 60)
        cx, cy = (w[:, 0] + w[:, 2]) / 2, (w[:, 1] + w[:, 3]) / 2
        return (abs(cx - gen.HOT_CENTER[0]) < 0.11) & (abs(cy - gen.HOT_CENTER[1]) < 0.11)

    assert np.array_equal(on_hot_cell(1), on_hot_cell(2))
    assert 0.2 < on_hot_cell(1).mean() < 0.4


def test_planted_duplicates_clear_the_threshold_and_others_do_not():
    t = gen.texts(5, 400, dup_rate=0.1)
    assert t.planted
    text = dict(zip(t.ids, t.texts))
    jac = lambda a, b: len(oracle.shingles(a) & oracle.shingles(b)) / len(oracle.shingles(a) | oracle.shingles(b))
    assert min(jac(text[a], text[b]) for a, b in t.planted) > 0.85
    assert jac(t.texts[0], t.texts[1]) < 0.2


@pytest.mark.parametrize("n", [1, 2, 5, 20, 101])
def test_percentile_matches_numpy(n):
    xs = list(np.random.default_rng(n).exponential(size=n))
    for q in (0, 25, 50, 90, 99, 100):
        assert percentile(xs, q) == pytest.approx(np.percentile(xs, q))


def test_samples_beyond_percentile():
    assert samples_beyond(100, 90) == 10
    assert samples_beyond(20, 90) == 2
    assert samples_beyond(1, 50) == 0


def _span(i, start, end, parent=None, layer="x"):
    return Span(i, f"s{i}", layer, start, end, parent, "r")


def test_self_time_subtracts_covered_child_time_once():
    spans = [
        _span(0, 0.0, 10.0, layer="bench"),
        _span(1, 1.0, 3.0, 0, "a"),
        _span(2, 2.0, 5.0, 0, "b"),  # overlaps span 1: [1, 5] is covered once
        _span(3, 6.0, 7.0, 0, "a"),
        _span(4, 6.5, 6.75, 3, "trace"),
        _span(5, 9.5, 12.0, 0, "b"),  # runs past its parent: only [9.5, 10] counts
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(10 - 4 - 1 - 0.5)
    assert st[3] == pytest.approx(0.75)
    assert st[5] == pytest.approx(2.5)
    layers = layer_self_times(spans)
    assert layers["a"] == pytest.approx(2 + 0.75)
    assert layers["b"] == pytest.approx(3 + 2.5)
    assert layers["trace"] == pytest.approx(0.25)


DOT = r'''digraph G {
  3 [id="node3" labelType="html" label="<b>ArrowEvalPython</b><br><br>time to run Python workers total (min, med, max (stageId: taskId))<br>2.8 s (635 ms, 711 ms, 795 ms (stage 61.0: task 117))<br>data sent to Python workers: 1.5 MiB<br>number of output rows: 30,000" tooltip="ArrowEvalPython [f(x)]"];
  4 [id="node4" labelType="html" label="<b>Exchange</b><br><br>shuffle bytes written total (min, med, max (stageId: taskId))<br>1460.0 B (365.0 B, 365.0 B, 365.0 B (stage 0.0: task 1))<br>shuffle write time: 3 ms" tooltip="Exchange"];
  5 [id="node5" labelType="html" label="<b>Scan parquet </b><br><br>number of files read: 4<br>number of output rows: 120" tooltip="FileScan"];
  6 [id="node6" labelType="html" label="<b>BroadcastHashJoin</b><br><br>number of output rows: 77" tooltip="join"];
}'''


def test_plan_metrics_parse_and_fold():
    m = parse_plan_metrics(DOT)
    assert ("ArrowEvalPython", "time to run Python workers", 2.8) in m
    assert ("Exchange", "shuffle write time", pytest.approx(0.003)) in m
    s = summarize_plan(m)
    assert s == {
        "python_s": pytest.approx(2.8),
        "python_data_sent_bytes": 1.5 * 2**20,
        "python_rows": 30000,
        "shuffle_bytes": 1460,
        "files_read": 4,
        "scan_rows": 120,
        "join_rows": 77,
    }


def test_join_oracle_on_hand_made_cases():
    square = [(0.0, 0.0), (0.0, 2.0), (2.0, 2.0), (2.0, 0.0), (0.0, 0.0)]
    notch = [(4.0, 0.0), (4.0, 2.0), (5.0, 0.2), (6.0, 2.0), (6.0, 0.0), (4.0, 0.0)]
    rings = np.array([square + [square[-1]], notch])
    polys = gen.Polygons(None, rings)
    # point in square; point in the notch's cut-out (outside); rectangle
    # crossing the square's edge; rectangle containing the notch; far away
    minx = np.array([1.0, 5.0, 1.5, 3.0, 10.0])
    miny = np.array([1.0, 1.5, 1.5, -1.0, 10.0])
    maxx = np.array([1.0, 5.0, 3.0, 7.0, 11.0])
    maxy = np.array([1.0, 1.5, 3.0, 3.0, 11.0])
    is_rect = np.array([False, False, True, True, True])
    docs = gen.Docs(None, minx, miny, maxx, maxy, is_rect, np.zeros(5))
    assert oracle.join_pairs(docs, polys) == 3


def _png(rows: np.ndarray, filters: list[int]) -> bytes:
    def chunk(kind, body):
        return struct.pack(">I", len(body)) + kind + body + struct.pack(">I", zlib.crc32(kind + body))

    h, w = rows.shape
    raw = b"".join(bytes([f]) + r.astype(np.uint8).tobytes() for f, r in zip(filters, rows))
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 0, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )


def test_png_decoder_unfilters_rows():
    # row 0 raw, row 1 "up" (+ row 0), row 2 "sub" (running sum)
    encoded = np.array([[10, 20, 30], [1, 1, 1], [5, 1, 1]])
    img = oracle.decode_gray_png(_png(encoded, [0, 2, 1]))
    assert img.tolist() == [[10, 20, 30], [11, 21, 31], [5, 6, 7]]


def test_benchmark_json_lists_exactly_the_traced_metrics():
    import json
    from pathlib import Path

    from run import _unit, layer_metrics

    declared = json.loads((Path(__file__).resolve().parent.parent / "BENCHMARK.json").read_text())
    produced = {**layer_metrics([], [], 1), "trace.overhead_ratio": 1.0}
    assert {m["name"]: m["unit"] for m in declared["per_layer"]} == {k: _unit(k) for k in produced}
