"""Interleaved-document table: deterministic synthesis, span parsing, and the
index job (docs -> docs_indexed).

Input shape (BASELINE.json input_hint):
    doc_id: string
    spans:  array<struct<kind:string, text:string, media_ref:string, offset:int>>

Span conventions (FIXTURES.md §1): kind='text' prose; kind='media' with
media_ref; kind='geo' carries WKT in text; kind='time' carries an ISO-8601
instant. The per-row invariant is span-sequence equality of
(kind, text, media_ref, order) through every pipeline — geometry is *derived*,
spans are never mutated (the reference analog: converter framework input,
geomesa-spark-converter/.../ConverterSpatialRDDProvider.scala:17-60).

The index job is the analog of the reference write path toIndexKey
(z3/Z3IndexKeySpace.scala:63-95): it adds derived columns
    x, y          centroid (for points: the point itself)
    minx..maxy    envelope
    geom_wkb      parsed geometry as WKB
    ts            parsed timestamp
    day           date bucket (DateTimeScheme analog)
    z2            31-bit/dim Z2 of the centroid
    week_bin, z3  Z3 time-binned key pair
    xz2           XZ2 extent code (one cell per geometry, no duplication)
    xz3           true 3-D XZ code within the week bin (extents + time)
    cell          coarse Z2 cell (partition column, Z2Scheme analog;
                  MULTI_CELL=-1 for multi-cell envelopes, never pruned)
Everything is computed in two vectorized passes: Spark built-ins extract the
span fields; one mapInPandas computes geometry + curve columns per Arrow batch.
"""

from __future__ import annotations

import re
from datetime import datetime, timezone

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from ..geom.wkt import from_wkt
from ..geom.wkb import to_wkb
from ..index.zorder import WORLD, Z2_BITS, interleave2, normalize, z2_index, z3_index

SPAN_TYPE = ArrayType(
    StructType(
        [
            StructField("kind", StringType()),
            StructField("text", StringType()),
            StructField("media_ref", StringType()),
            StructField("offset", IntegerType()),
        ]
    )
)

DOCS_SCHEMA = StructType(
    [StructField("doc_id", StringType(), False), StructField("spans", SPAN_TYPE)]
)

# default coarse partition cell: 4 bits/dim -> 256 cells (Z2Scheme analog)
PARTITION_CELL_BITS = 4

# sentinel partition cell for envelopes spanning multiple coarse cells (also
# used for null geometry); the planner never prunes this partition
MULTI_CELL = -1


# ----------------------------------------------------------------- synthesis


def synth_docs_pdf(
    n: int,
    seed: int = 42,
    t0: str = "2016-01-01",
    days: int = 31,
    bbox: tuple | None = None,
) -> pd.DataFrame:
    """Deterministic interleaved-doc table (FIXTURES.md §1 conventions):
    uniform lon/lat points; ~10% polygons (w<=1.5deg, h<=0.5deg); 5% hot-cell
    points within 0.1deg of (0.5, 0.5); timestamps uniform in [t0, t0+days).
    `bbox` confines geometries to a region (dense fixtures for join tests)."""
    rng = np.random.default_rng(seed)
    x0, y0, x1, y1 = bbox if bbox else (-180.0, -90.0, 180.0, 90.0)
    lons = rng.uniform(x0, x1, n)
    lats = rng.uniform(y0, y1, n)
    # hot cell: first 5% clustered near (0.5, 0.5) to exercise skew
    n_hot = n // 20
    lons[:n_hot] = 0.5 + rng.uniform(-0.1, 0.1, n_hot)
    lats[:n_hot] = 0.5 + rng.uniform(-0.1, 0.1, n_hot)
    is_poly = rng.uniform(0, 1, n) < 0.10
    is_poly[:n_hot] = False
    widths = rng.uniform(0.001, 1.5, n)
    heights = rng.uniform(0.001, 0.5, n)
    t_start = datetime.fromisoformat(t0).replace(tzinfo=timezone.utc).timestamp()
    tss = t_start + rng.uniform(0, days * 86400, n)
    media = rng.uniform(0, 1, n) < 0.3

    rows = []
    for i in range(n):
        if is_poly[i]:
            cx, cy = lons[i], lats[i]
            w, h = widths[i], heights[i]
            x0, x1 = max(-180.0, cx - w / 2), min(180.0, cx + w / 2)
            y0, y1 = max(-90.0, cy - h / 2), min(90.0, cy + h / 2)
            wkt = (
                f"POLYGON (({x0:.6f} {y0:.6f}, {x0:.6f} {y1:.6f}, {x1:.6f} {y1:.6f}, "
                f"{x1:.6f} {y0:.6f}, {x0:.6f} {y0:.6f}))"
            )
        else:
            wkt = f"POINT ({lons[i]:.6f} {lats[i]:.6f})"
        iso = datetime.fromtimestamp(tss[i], tz=timezone.utc).strftime(
            "%Y-%m-%dT%H:%M:%S.%f"
        )[:-3] + "Z"
        spans = [
            {"kind": "text", "text": f"document {i} body", "media_ref": "", "offset": 0},
            {"kind": "geo", "text": wkt, "media_ref": "", "offset": 1},
            {"kind": "time", "text": iso, "media_ref": "", "offset": 2},
        ]
        if media[i]:
            spans.append(
                {"kind": "media", "text": "", "media_ref": f"media://{i:08x}", "offset": 3}
            )
        rows.append({"doc_id": f"doc-{i:08d}", "spans": spans})
    return pd.DataFrame(rows)


def synth_docs(
    spark: SparkSession,
    n: int,
    seed: int = 42,
    partitions: int | None = None,
    bbox: tuple | None = None,
) -> DataFrame:
    pdf = synth_docs_pdf(n, seed, bbox=bbox)
    df = spark.createDataFrame(pdf, schema=DOCS_SCHEMA)
    if partitions:
        df = df.repartition(partitions)
    return df


# -------------------------------------------------------------- span parsing


def extract_span_fields(df: DataFrame) -> DataFrame:
    """Pull geo WKT + time text out of the spans array with Spark built-ins
    (no Python): filter(spans, ...)[0] stays in whole-stage codegen."""
    # get(...) (not [0]) so spanless docs yield NULL instead of an ANSI
    # INVALID_ARRAY_INDEX error; try_to_timestamp (not to_timestamp) so ONE
    # malformed/empty time span yields a NULL ts instead of failing the
    # whole ingest job under ANSI mode (CAST_INVALID_INPUT) — at 100 TB a
    # single bad row must never kill the index build
    return df.withColumn(
        "_geo_wkt", F.expr("get(filter(spans, s -> s.kind = 'geo'), 0).text")
    ).withColumn(
        "ts",
        F.try_to_timestamp(
            F.expr("get(filter(spans, s -> s.kind = 'time'), 0).text")
        ),
    )


_POINT_RE = re.compile(
    r"^\s*POINT\s*\(\s*([-+]?\d+\.?\d*(?:[eE][-+]?\d+)?)\s+([-+]?\d+\.?\d*(?:[eE][-+]?\d+)?)\s*\)\s*$"
)

_INDEX_FIELDS = [
    ("geom_wkb", BinaryType()),
    ("x", DoubleType()),
    ("y", DoubleType()),
    ("minx", DoubleType()),
    ("miny", DoubleType()),
    ("maxx", DoubleType()),
    ("maxy", DoubleType()),
    ("z2", LongType()),
    ("week_bin", LongType()),
    ("z3", LongType()),
    ("xz2", LongType()),
    ("xz3", LongType()),
    ("cell", LongType()),
]


def _index_batch(wkts: pd.Series, ts_seconds: np.ndarray, xz2_g: int, cell_bits: int) -> dict:
    """One vectorized pass: WKT -> WKB + envelope + curve keys."""
    n = len(wkts)
    xs = np.full(n, np.nan)
    ys = np.full(n, np.nan)
    minx = np.full(n, np.nan)
    miny = np.full(n, np.nan)
    maxx = np.full(n, np.nan)
    maxy = np.full(n, np.nan)
    wkbs: list = [None] * n

    # vectorized fast path for POINT wkt
    extracted = wkts.str.extract(
        r"^\s*POINT\s*\(\s*([-+]?[0-9.eE+-]+)\s+([-+]?[0-9.eE+-]+)\s*\)\s*$"
    )
    is_point = extracted[0].notna().to_numpy()
    pxs = pd.to_numeric(extracted[0], errors="coerce").to_numpy()
    pys = pd.to_numeric(extracted[1], errors="coerce").to_numpy()
    xs[is_point] = pxs[is_point]
    ys[is_point] = pys[is_point]
    minx[is_point] = pxs[is_point]
    maxx[is_point] = pxs[is_point]
    miny[is_point] = pys[is_point]
    maxy[is_point] = pys[is_point]
    if is_point.any():
        from ..geom.wkb import points_to_wkb

        pt_wkbs = points_to_wkb(pxs[is_point], pys[is_point])
        j = 0
        for i in np.nonzero(is_point)[0]:
            wkbs[i] = pt_wkbs[j]
            j += 1
    # vectorized fast path for 5-point single-ring POLYGON wkt (the common
    # rectangle case): one regex pass + one struct-pack pass
    rest = ~is_point
    if rest.any():
        poly_re = (
            r"^\s*POLYGON\s*\(\(\s*" + r"\s*,\s*".join(
                [r"([-+0-9.eE]+)\s+([-+0-9.eE]+)"] * 5
            ) + r"\s*\)\)\s*$"
        )
        pex = wkts.str.extract(poly_re)
        is_rect5 = pex[0].notna().to_numpy() & rest
        if is_rect5.any():
            import struct as _struct

            coords = pex.apply(pd.to_numeric, errors="coerce").to_numpy()
            cx = coords[:, 0::2]
            cy = coords[:, 1::2]
            pminx, pmaxx = cx.min(axis=1), cx.max(axis=1)
            pminy, pmaxy = cy.min(axis=1), cy.max(axis=1)
            minx[is_rect5] = pminx[is_rect5]
            maxx[is_rect5] = pmaxx[is_rect5]
            miny[is_rect5] = pminy[is_rect5]
            maxy[is_rect5] = pmaxy[is_rect5]
            xs[is_rect5] = (pminx[is_rect5] + pmaxx[is_rect5]) / 2
            ys[is_rect5] = (pminy[is_rect5] + pmaxy[is_rect5]) / 2
            header = b"\x01\x03\x00\x00\x00" + _struct.pack("<II", 1, 5)
            for i in np.nonzero(is_rect5)[0]:
                ring = np.empty(10)
                ring[0::2] = cx[i]
                ring[1::2] = cy[i]
                wkbs[i] = header + ring.astype("<f8").tobytes()
        rest = rest & ~is_rect5
    # slow path: remaining WKT through the kernel parser
    for i in np.nonzero(rest)[0]:
        w = wkts.iloc[i]
        if w is None or (isinstance(w, float) and np.isnan(w)):
            continue
        g = from_wkt(w)
        wkbs[i] = to_wkb(g)
        bx = g.bounds()
        minx[i], miny[i], maxx[i], maxy[i] = bx
        xs[i] = (bx[0] + bx[2]) / 2
        ys[i] = (bx[1] + bx[3]) / 2

    ok = ~np.isnan(xs)
    z2 = np.full(n, -1, dtype=np.int64)
    z2[ok] = z2_index(xs[ok], ys[ok])
    tsec = np.where(np.isnan(ts_seconds), 0, ts_seconds).astype(np.int64)
    wb, z3 = z3_index(xs[ok] if ok.any() else np.array([]), ys[ok] if ok.any() else np.array([]), tsec[ok])
    week_bin = np.full(n, -1, dtype=np.int64)
    z3full = np.full(n, -1, dtype=np.int64)
    week_bin[ok] = wb
    z3full[ok] = z3
    xz2 = np.full(n, -1, dtype=np.int64)
    xz3 = np.full(n, -1, dtype=np.int64)
    if ok.any():
        from ..index.xz import xz2_index_many, xz3_index_many

        xz2[ok] = xz2_index_many(minx[ok], miny[ok], maxx[ok], maxy[ok], g=xz2_g)
        # true 3-D XZ code (week-binned time axis) — extents + time pushdown
        _, xz3[ok] = xz3_index_many(minx[ok], miny[ok], maxx[ok], maxy[ok], tsec[ok])
    # Partition cell: single-cell geometries store that cell; an envelope
    # spanning MULTIPLE coarse cells stores the MULTI_CELL sentinel (-1), which
    # the planner always includes in its cell.isin() list. This keeps the
    # pruning predicate partition-column-only (prunable) AND sound: if an
    # envelope fits inside one cell the query didn't cover, it cannot overlap
    # the query bbox. (A centroid-derived cell is NOT sound: a polygon
    # straddling a cell boundary whose center lies outside the covered cells
    # would be silently dropped.)
    cell = np.full(n, -1, dtype=np.int64)
    cix0 = normalize(minx[ok], WORLD[0], WORLD[2], cell_bits)
    ciy0 = normalize(miny[ok], WORLD[1], WORLD[3], cell_bits)
    cix1 = normalize(maxx[ok], WORLD[0], WORLD[2], cell_bits)
    ciy1 = normalize(maxy[ok], WORLD[1], WORLD[3], cell_bits)
    single = (cix0 == cix1) & (ciy0 == ciy1)
    cell[ok] = np.where(single, interleave2(cix0, ciy0), MULTI_CELL)
    return {
        "geom_wkb": wkbs,
        "x": xs,
        "y": ys,
        "minx": minx,
        "miny": miny,
        "maxx": maxx,
        "maxy": maxy,
        "z2": z2,
        "week_bin": week_bin,
        "z3": z3full,
        "xz2": xz2,
        "xz3": xz3,
        "cell": cell,
    }


def index_docs(
    df: DataFrame, xz2_g: int = 12, cell_bits: int = PARTITION_CELL_BITS
) -> DataFrame:
    """docs -> docs_indexed: derived geometry/curve columns, spans untouched.

    The derivation is a SCALAR pandas UDF returning one struct column: only
    the WKT string and epoch seconds cross the Arrow boundary — the (big)
    spans arrays never serialize into Python. At 100TB this is the difference
    between shipping 2 columns and shipping the whole table through Arrow."""
    df = extract_span_fields(df)
    struct_type = StructType([StructField(nm, tp) for nm, tp in _INDEX_FIELDS])

    def derive(wkts: pd.Series, ts_sec: pd.Series) -> pd.DataFrame:
        tsv = ts_sec.to_numpy(dtype=np.float64, na_value=np.nan)
        cols = _index_batch(wkts, tsv, xz2_g, cell_bits)
        return pd.DataFrame(cols)

    derive_udf = F.pandas_udf(derive, returnType=struct_type)
    indexed = df.withColumn(
        "_d", derive_udf(F.col("_geo_wkt"), F.unix_timestamp("ts"))
    )
    return (
        indexed.select(*[c for c in df.columns if c != "_geo_wkt"], "_d.*")
        .withColumn("day", F.to_date("ts"))
    )


def write_indexed(df: DataFrame, path: str, fmt: str = "parquet") -> None:
    """Partitioned layout: days(ts) x coarse cell, rows Z2-SORTED within
    each file — the Z2Scheme + DateTimeScheme analog
    (geomesa-fs/.../partitions/Z2Scheme.scala:31-35,
    DateTimeScheme.scala:25-117) plus the z-curve in-file order the
    reference gets from its key-sorted stores. Spark prunes directories on
    day/cell predicates natively; the z2 sort makes parquet row-group
    min/max stats tight on BOTH z2 ranges and the envelope columns (spatial
    locality), so pushed envelope compares skip row groups inside a cell —
    at 100 TB the difference between reading a cell and reading the query
    window's slice of it. With Iceberg jars present, swap fmt='iceberg'
    for the same spec."""
    (
        df.repartition("day", "cell")
        .sortWithinPartitions("day", "cell", "z2")
        .write.mode("overwrite")
        .format(fmt)
        .partitionBy("day", "cell")
        .save(path)
    )


# ------------------------------------------------- Column-level point indexer


def interleave2_col(ix, iy, bits: int):
    """Morton interleave of two small ints as a pure Column expression
    (unrolled; codegen-able — used for coarse partition cells)."""
    z = F.lit(0).cast("long")
    for b in range(bits):
        z = (
            z
            + F.shiftleft(F.shiftright(ix, b).bitwiseAND(F.lit(1)), 2 * b)
            + F.shiftleft(F.shiftright(iy, b).bitwiseAND(F.lit(1)), 2 * b + 1)
        )
    return z


def index_points_df(
    df: DataFrame,
    lon_col: str,
    lat_col: str,
    cell_bits: int = PARTITION_CELL_BITS,
    with_wkb: bool = True,
) -> DataFrame:
    """Add the engine's derived columns to a plain lon/lat point table using
    ONLY Column arithmetic (whole-stage codegen; the cell divisors 360/2^b and
    180/2^b are exact binary so results are bit-identical to SQL oracles)."""
    lon, lat = F.col(lon_col), F.col(lat_col)
    n = 2**cell_bits
    dx, dy = 360.0 / n, 180.0 / n
    ix = F.greatest(F.lit(0), F.least(F.floor((lon + 180.0) / dx), F.lit(n - 1))).cast("long")
    iy = F.greatest(F.lit(0), F.least(F.floor((lat + 90.0) / dy), F.lit(n - 1))).cast("long")
    out = (
        df.withColumn("x", lon.cast("double"))
        .withColumn("y", lat.cast("double"))
        .withColumn("minx", lon.cast("double"))
        .withColumn("miny", lat.cast("double"))
        .withColumn("maxx", lon.cast("double"))
        .withColumn("maxy", lat.cast("double"))
        .withColumn("cell", interleave2_col(ix, iy, cell_bits))
    )
    if with_wkb:
        from ..functions.library import UDFS

        out = out.withColumn("geom_wkb", UDFS["st_makePoint"](lon, lat))
    return out


def synth_docs_distributed(spark: SparkSession, n: int, partitions: int = 32) -> DataFrame:
    """Deterministic interleaved-docs synthesis as pure Column arithmetic over
    spark.range(n) — no driver-side loop, scales linearly with executors
    (the 10^12-doc design-scale generator; seed-free but fully deterministic
    in doc_id). ~10% polygons, 5% hot-cell points near (0.5, 0.5)."""
    df = spark.range(0, n, 1, partitions).withColumnRenamed("id", "i")
    lon = (F.col("i") * 7919 % 360000) / 1000.0 - 180.0
    lat = (F.col("i") * 104729 % 180000) / 1000.0 - 90.0
    hot = F.col("i") % 20 == 7
    lon = F.when(hot, 0.5 + ((F.col("i") * 31 % 200) - 100) / 1000.0).otherwise(lon)
    lat = F.when(hot, 0.5 + ((F.col("i") * 37 % 200) - 100) / 1000.0).otherwise(lat)
    is_poly = (F.col("i") % 10 == 3) & ~hot
    w = 0.05 + (F.col("i") % 29) / 20.0  # up to ~1.5 deg
    h = 0.05 + (F.col("i") % 11) / 22.0  # up to ~0.5 deg
    x0 = F.greatest(F.lit(-180.0), lon - w / 2)
    x1 = F.least(F.lit(180.0), lon + w / 2)
    y0 = F.greatest(F.lit(-90.0), lat - h / 2)
    y1 = F.least(F.lit(90.0), lat + h / 2)
    poly_wkt = F.format_string(
        "POLYGON ((%.6f %.6f, %.6f %.6f, %.6f %.6f, %.6f %.6f, %.6f %.6f))",
        x0, y0, x0, y1, x1, y1, x1, y0, x0, y0,
    )
    point_wkt = F.format_string("POINT (%.6f %.6f)", lon, lat)
    wkt = F.when(is_poly, poly_wkt).otherwise(point_wkt)
    ts = F.timestamp_seconds(F.lit(1451606400) + (F.col("i") * 48271 % 2678400))
    iso = F.date_format(ts, "yyyy-MM-dd'T'HH:mm:ss'Z'")
    spans = F.array(
        F.struct(
            F.lit("text").alias("kind"),
            F.format_string("document %d body", F.col("i")).alias("text"),
            F.lit("").alias("media_ref"),
            F.lit(0).alias("offset"),
        ),
        F.struct(
            F.lit("geo").alias("kind"), wkt.alias("text"),
            F.lit("").alias("media_ref"), F.lit(1).alias("offset"),
        ),
        F.struct(
            F.lit("time").alias("kind"), iso.alias("text"),
            F.lit("").alias("media_ref"), F.lit(2).alias("offset"),
        ),
    )
    return df.select(
        F.format_string("doc-%08d", F.col("i")).alias("doc_id"), spans.alias("spans")
    )


def synth_lines_distributed(spark: SparkSession, n: int, partitions: int = 32) -> DataFrame:
    """Deterministic interleaved-docs synthesis with LINESTRING geo spans —
    the mixed-dimension join scale probe's line side (4-vertex zigzags of
    ~0.3-1.2 deg extent). Same pure-Column construction as
    synth_docs_distributed: no driver loop, scales with executors."""
    df = spark.range(0, n, 1, partitions).withColumnRenamed("id", "i")
    # base vertex confined to [-178, 178) x [-88, 88) so the <=0.6-deg steps
    # never leave the valid lon/lat domain (no clamping branch in the plan)
    lon = (F.col("i") * 6271 % 356000) / 1000.0 - 178.0
    lat = (F.col("i") * 104729 % 176000) / 1000.0 - 88.0
    dx1 = ((F.col("i") * 13 % 120) - 60) / 100.0   # [-0.6, 0.6)
    dy1 = ((F.col("i") * 17 % 120) - 60) / 100.0
    dx2 = ((F.col("i") * 19 % 120) - 60) / 100.0
    dy2 = ((F.col("i") * 23 % 120) - 60) / 100.0
    dx3 = ((F.col("i") * 29 % 120) - 60) / 100.0
    dy3 = ((F.col("i") * 31 % 120) - 60) / 100.0
    wkt = F.format_string(
        "LINESTRING (%.6f %.6f, %.6f %.6f, %.6f %.6f, %.6f %.6f)",
        lon, lat,
        lon + dx1, lat + dy1,
        lon + dx1 + dx2, lat + dy1 + dy2,
        lon + dx1 + dx2 + dx3, lat + dy1 + dy2 + dy3,
    )
    ts = F.timestamp_seconds(F.lit(1451606400) + (F.col("i") * 48271 % 2678400))
    iso = F.date_format(ts, "yyyy-MM-dd'T'HH:mm:ss'Z'")
    spans = F.array(
        F.struct(
            F.lit("text").alias("kind"),
            F.format_string("track %d body", F.col("i")).alias("text"),
            F.lit("").alias("media_ref"),
            F.lit(0).alias("offset"),
        ),
        F.struct(
            F.lit("geo").alias("kind"), wkt.alias("text"),
            F.lit("").alias("media_ref"), F.lit(1).alias("offset"),
        ),
        F.struct(
            F.lit("time").alias("kind"), iso.alias("text"),
            F.lit("").alias("media_ref"), F.lit(2).alias("offset"),
        ),
    )
    return df.select(
        F.format_string("line-%08d", F.col("i")).alias("doc_id"), spans.alias("spans")
    )
