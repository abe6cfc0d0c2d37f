"""True XZ3 (3-D XZ ordering): recall invariants in the XZ2SFCTest style
across containing / overlapping / disjoint space-time windows, vectorized
parity, and the planner (week_bin, xz3) pushdown end-to-end."""

import numpy as np
import pytest

from geomesa_spark.index.xz import XZ3SFC, xz3_index_many
from geomesa_spark.index.zorder import SECONDS_PER

WEEK = SECONDS_PER["week"]
XZ = XZ3SFC()

# element: a small extent alive over a 1-hour slice mid-week
ELEMENT = (10.0, 10.0, 300000.0, 11.0, 11.0, 303600.0)

CONTAINING = [
    (9, 9, 290000, 13, 13, 310000),
    (-180, -90, 0, 180, 90, WEEK),
    (0, 0, 200000, 20, 20, 400000),
]
OVERLAPPING = [
    (10.5, 10.5, 302000, 12, 12, 350000),
    (9, 9, 250000, 10.5, 10.5, 301000),
    (11, 11, 303600, 11, 11, 303600),
]
DISJOINT = [
    (-180, -90, 0, 8, 8, WEEK),          # spatially disjoint
    (10, 10, 400000, 11, 11, 500000),    # temporally disjoint
    (20, 20, 290000, 30, 30, 310000),
]


def _covers(code: int, windows) -> bool:
    ranges = XZ.ranges([tuple(float(v) for v in w) for w in windows])
    return any(r.lower <= code <= r.upper for r in ranges)


@pytest.mark.parametrize("window", CONTAINING + OVERLAPPING)
def test_xz3_recall(window):
    code = XZ.index(*ELEMENT)
    assert _covers(code, [window])


def test_xz3_disjoint_mostly_excluded():
    code = XZ.index(*ELEMENT)
    hits = sum(1 for w in DISJOINT if _covers(code, [w]))
    assert hits <= 1  # XZ allows documented false positives, not zero selectivity


def test_xz3_code_fits_long():
    assert XZ.index(-180, -90, 0, 180, 90, WEEK) >= 0
    top = (8 ** (XZ.g + 1) - 1) // 7
    assert top < 2**63


def test_xz3_random_recall():
    rng = np.random.default_rng(42)
    for _ in range(150):
        cx, cy = rng.uniform(-170, 170), rng.uniform(-80, 80)
        w, h = rng.uniform(0.01, 1.5), rng.uniform(0.01, 0.5)
        t0 = rng.uniform(0, WEEK - 7200)
        dt = rng.uniform(0, 3600)
        el = (cx, cy, t0, cx + w, cy + h, t0 + dt)
        code = XZ.index(*el)
        qx, qy = rng.uniform(-175, 160), rng.uniform(-85, 75)
        qt = rng.uniform(0, WEEK - 90000)
        window = (qx, qy, qt, qx + rng.uniform(1, 20), qy + rng.uniform(1, 20), qt + 86400)
        intersects = not (
            el[3] < window[0] or window[3] < el[0]
            or el[4] < window[1] or window[4] < el[1]
            or el[5] < window[2] or window[5] < el[2]
        )
        if intersects:
            assert _covers(code, [window]), (el, window)


def test_xz3_temporal_axis_prunes():
    """The property the composed (week_bin, xz2) key LOSES: two elements at
    the same place, different times within one week, must be separable."""
    early = XZ.index(10, 10, 10000, 10.5, 10.5, 12000)
    late = XZ.index(10, 10, 500000, 10.5, 10.5, 502000)
    win_early = [(9.0, 9.0, 0.0, 12.0, 12.0, 50000.0)]
    ranges = XZ.ranges(win_early)
    assert any(r.lower <= early <= r.upper for r in ranges)
    assert not any(r.lower <= late <= r.upper for r in ranges)


def test_xz3_vectorized_matches_scalar():
    rng = np.random.default_rng(7)
    n = 200
    minx = rng.uniform(-170, 160, n)
    miny = rng.uniform(-80, 70, n)
    maxx = minx + rng.uniform(0, 2, n)
    maxy = miny + rng.uniform(0, 1, n)
    ts = rng.uniform(1.4e9, 1.5e9, n)
    wb, codes = xz3_index_many(minx, miny, maxx, maxy, ts)
    for i in range(0, n, 11):
        tin = ts[i] - (ts[i] // WEEK) * WEEK
        assert wb[i] == int(ts[i] // WEEK)
        assert codes[i] == XZ.index(minx[i], miny[i], tin, maxx[i], maxy[i], tin)


def test_xz3_index_many_matches_scalar_on_intervals():
    """The batch encoder over non-degenerate time intervals, including ones
    that leave the week bin on either side (clamped)."""
    rng = np.random.default_rng(13)
    n = 300
    lo = np.stack([rng.uniform(-175, 170, n), rng.uniform(-85, 80, n), rng.uniform(-3600, WEEK, n)])
    span = rng.choice([0.0, 1e-4, 0.5, 5.0], n) * rng.uniform(0, 1, n)
    hi = lo + np.stack([span, span * 0.5, rng.choice([0.0, 60.0, 86400.0, 3 * 86400.0], n)])
    codes = XZ.index_many(lo, hi)
    assert codes.tolist() == [XZ.index(*lo[:, i], *hi[:, i]) for i in range(n)]


def test_xz3_pushdown_end_to_end(spark):
    """index_docs emits xz3; the planner predicate must keep every matching
    row (recall) while cutting the scanned set (selectivity)."""
    from pyspark.sql import functions as F

    from geomesa_spark.plans.planner import xz3_predicate
    from geomesa_spark.sources.docs import index_docs, synth_docs

    docs = index_docs(synth_docs(spark, 600, seed=3)).cache()
    docs.count()
    bbox = (-30.0, -20.0, 30.0, 20.0)
    interval = ("2016-01-05", "2016-01-12")
    pred = xz3_predicate([bbox], interval, max_ranges=120)
    assert pred is not None
    exact = (
        (F.col("minx") <= bbox[2]) & (F.col("maxx") >= bbox[0])
        & (F.col("miny") <= bbox[3]) & (F.col("maxy") >= bbox[1])
        & (F.col("ts") >= F.lit(interval[0])) & (F.col("ts") < F.lit(interval[1]))
    )
    want = {r.doc_id for r in docs.filter(exact).collect()}
    got_pre = {r.doc_id for r in docs.filter(pred).collect()}
    assert want <= got_pre, "xz3 prefilter must never drop a matching row"
    assert len(got_pre) < docs.count(), "xz3 prefilter must prune something"
    got = {r.doc_id for r in docs.filter(pred & exact).collect()}
    assert got == want


# --------- regressions folded from the round-advice files (round-5 hygiene)


def test_xz3_sfc_closed_upper_bound_on_cell_boundary():
    """Element stored exactly at the mid-bin time-cell boundary; a query
    window whose maxt equals that boundary must cover the stored code
    (closed upper bound, no epsilon shrink)."""
    sfc = XZ3SFC()
    per = SECONDS_PER["week"]
    t = per / 2.0  # an octree time-cell boundary at every level
    x, y = 10.0, 20.0
    code = sfc.index(x, y, t, x, y, t)
    ranges = sfc.ranges([(x - 1, y - 1, 0.0, x + 1, y + 1, t)], max_ranges=200)
    assert any(r.lower <= code <= r.upper for r in ranges)


def test_xz3_predicate_includes_interval_upper_boundary(spark):
    """Planner-level: doc timestamp == interval upper bound == time-cell
    boundary -> the (week_bin, xz3) pushdown predicate must keep the row."""
    import pandas as pd

    from geomesa_spark.plans.planner import xz3_predicate

    sfc = XZ3SFC()
    per = SECONDS_PER["week"]
    b = 2400
    t_in_bin = per / 2.0
    x, y = 10.0, 20.0
    code = sfc.index(x, y, t_in_bin, x, y, t_in_bin)
    df = spark.createDataFrame(
        pd.DataFrame({"doc_id": ["d0"], "week_bin": [b], "xz3": [code]})
    )
    t_abs = b * per + t_in_bin
    interval = (
        pd.Timestamp(t_abs - 3600, unit="s"),
        pd.Timestamp(t_abs, unit="s"),  # upper bound EXACTLY on the boundary
    )
    cond = xz3_predicate([(x - 1, y - 1, x + 1, y + 1)], interval)
    assert cond is not None
    assert df.filter(cond).count() == 1
