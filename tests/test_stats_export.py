"""Stats-DSL, export-format, and process-surface tests (SURVEY §2.4, §2.6, §2.7)."""

import json
import struct

import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def events(spark):
    return spark.read.parquet(f"{SF}/events.parquet").cache()


# ------------------------------------------------------------------ stats DSL


def test_stat_count_minmax(spark, events):
    from geomesa_spark.operators.stats import stat

    n = events.count()
    assert stat(events, "Count()") == {"stat": "Count", "count": n}
    mm = stat(events, "MinMax(value)")
    want_min = events.agg(F.min("value")).collect()[0][0]
    want_max = events.agg(F.max("value")).collect()[0][0]
    assert mm["min"] == want_min and mm["max"] == want_max


def test_stat_enumeration_topk(spark, events):
    from geomesa_spark.operators.stats import stat

    e = stat(events, "Enumeration(event_type)")
    want = {r.event_type: r["count"] for r in events.groupBy("event_type").count().collect()}
    assert e["values"] == want
    tk = stat(events, "TopK(event_type, 2)")
    assert len(tk["topk"]) == 2
    assert tk["topk"][0][1] == max(want.values())


def test_stat_histogram_seq(spark, events):
    from geomesa_spark.operators.stats import stat

    res = stat(events, "Histogram(value, 4, 0.0, 200.0);Count()")
    assert isinstance(res, list) and len(res) == 2
    hist = res[0]
    inside = events.filter("value >= 0 and value <= 200").count()
    assert sum(hist["counts"]) == inside
    assert res[1]["count"] == events.count()


def test_stat_groupby_descriptive(spark, events):
    from geomesa_spark.operators.stats import stat

    g = stat(events, "GroupBy(event_type, MinMax(value))")
    assert set(g["groups"]) == {
        r.event_type for r in events.select("event_type").distinct().collect()
    }
    d = stat(events, "DescriptiveStats(value)")
    assert abs(d["value_mean"] - events.agg(F.avg("value")).collect()[0][0]) < 1e-9
    assert "value_skewness" in d and "value_kurtosis" in d


def test_stat_enum_and_groupby_are_bounded(spark, events):
    """Unbounded domains must stay distributed: dicts are capped, the full
    result is a DataFrame, and GroupBy compiles to ONE aggregation (no
    per-group driver loop)."""
    from geomesa_spark.operators.stats import stat

    e = stat(events, "Enumeration(user_id)", max_enum=3)
    assert len(e["values"]) == 3 and e["truncated"] is True
    assert e["df"].count() == events.select("user_id").distinct().count()

    g = stat(events, "GroupBy(event_type, TopK(user_id, 2))")
    assert g["truncated"] is False
    some = next(iter(g["groups"].values()))
    assert some["stat"] == "TopK" and len(some["topk"]) == 2
    # GroupBy result is ONE grouped DataFrame over all groups
    assert g["df"].count() == events.select("event_type").distinct().count()

    g2 = stat(events, "GroupBy(event_type, Enumeration(user_id))", max_enum=2)
    assert g2["truncated"] is True and len(g2["groups"]) == 2


def test_stat_frequency_hll(spark, events):
    from geomesa_spark.operators.stats import approx_count_distinct, stat

    f = stat(events, "Frequency(event_type)")
    assert len(f["cms_bytes"]) > 0
    n = approx_count_distinct(events, "user_id")
    exact = events.select("user_id").distinct().count()
    assert abs(n - exact) <= max(2, exact * 0.1)


# -------------------------------------------------------------------- export


def test_bin_export_roundtrip(spark, events):
    from geomesa_spark.sources.export import bin_decode_bytes, bin_encode
    from geomesa_spark.sources.docs import index_points_df
    from geomesa_spark import oracle as O

    e = index_points_df(
        events.withColumn("lon", F.expr(O.EVENT_LON)).withColumn("lat", F.expr(O.EVENT_LAT)),
        "lon", "lat", with_wkb=False,
    ).limit(50)
    rows = e.select("user_id", F.unix_timestamp("ts").alias("t"), "y", "x").collect()
    b = bin_encode(e, "user_id")
    blobs = [bytes(r.bin) for r in b.collect()]
    assert all(len(x) == 16 for x in blobs)
    decoded = bin_decode_bytes(b"".join(blobs))
    assert len(decoded) == 50
    got_ts = sorted(d[1] for d in decoded)
    want_ts = sorted(r.t for r in rows)
    assert got_ts == want_ts
    # with label -> 24 bytes
    b24 = bin_encode(e, "user_id", label_col="event_type")
    assert all(len(bytes(r.bin)) == 24 for r in b24.collect())


def test_geojson_export(spark):
    from geomesa_spark.sources.docs import index_docs, synth_docs
    from geomesa_spark.sources.export import to_geojson_feature_collection

    docs = index_docs(synth_docs(spark, 20)).select("doc_id", "geom_wkb", "x", "y")
    fc = json.loads(to_geojson_feature_collection(docs))
    assert fc["type"] == "FeatureCollection"
    assert len(fc["features"]) == 20
    f0 = fc["features"][0]
    assert f0["geometry"]["type"] in ("Point", "Polygon")
    assert "doc_id" in f0["properties"]


def test_geojson_seq_distributed_export(spark, tmp_path):
    from geomesa_spark.sources.docs import index_docs, synth_docs
    from geomesa_spark.sources.export import write_geojson_seq

    docs = index_docs(synth_docs(spark, 50)).select("doc_id", "geom_wkb", "x", "y")
    out = str(tmp_path / "geojson_seq")
    write_geojson_seq(docs, out)
    lines = [json.loads(l) for l in spark.read.text(out).toPandas()["value"]]
    assert len(lines) == 50
    assert all(f["type"] == "Feature" for f in lines)
    assert {f["properties"]["doc_id"] for f in lines} == {
        r.doc_id for r in docs.select("doc_id").collect()
    }


def test_arrow_export(spark, events):
    from geomesa_spark.sources.export import to_arrow

    t = to_arrow(events.limit(100).select("event_id", "value"))
    assert t.num_rows == 100
    assert t.column_names == ["event_id", "value"]


# ------------------------------------------------------------------ processes


def test_route_and_tube(spark):
    from geomesa_spark import oracle as O
    from geomesa_spark.operators.processes import route_search, tube_select
    from geomesa_spark.sources.docs import index_points_df

    events = spark.read.parquet(f"{SF}/events.parquet")
    e = index_points_df(
        events.withColumn("lon", F.expr(O.EVENT_LON)).withColumn("lat", F.expr(O.EVENT_LAT)),
        "lon", "lat", with_wkb=False,
    ).cache()
    route = [(-80.0, 38.0), (-75.0, 39.0), (-70.0, 40.0)]
    hits = route_search(e, route, 200_000.0)
    assert hits.count() > 0
    # every hit is within radius of SOME segment midpoint envelope
    from geomesa_spark.geom.algorithms import haversine

    for r in hits.limit(20).collect():
        dmin = min(
            float(haversine(r.x, r.y, (a[0] + b[0]) / 2, (a[1] + b[1]) / 2))
            for a, b in zip(route[:-1], route[1:])
        )
        assert dmin <= 200_000.0 + float(haversine(*route[0], *route[1])) / 2 + 1
    ts0 = e.agg(F.min("ts")).collect()[0][0].isoformat()
    tube = tube_select(e, [(-80.0, 38.0, ts0)], 500_000.0, time_window_s=86400 * 40)
    assert tube.count() >= 0


def test_hash_attribute_buckets(spark):
    from geomesa_spark.operators.processes import hash_attribute

    vals = ["a", "b", "a", "c", None, "b", "zz", "a"]
    df = spark.createDataFrame([(i, v) for i, v in enumerate(vals)], "id INT, v STRING")
    rows = hash_attribute(df, "v", 5).orderBy("id").collect()
    got = [r.hash_bucket for r in rows]
    assert all(0 <= b < 5 for b in got)
    bucket_of = {}
    for v, b in zip(vals, got):
        assert bucket_of.setdefault(v, b) == b, v


def test_min_max_matches_python(spark):
    from geomesa_spark.operators.processes import min_max

    vals = [3.5, None, -2.0, 11.25, None, 0.0]
    df = spark.createDataFrame([(v,) for v in vals], "v DOUBLE")
    r = min_max(df, "v").collect()[0]
    present = [v for v in vals if v is not None]
    assert (r.min_value, r.max_value, r["count"]) == (min(present), max(present), len(vals))


def test_text_profile_is_its_parts(spark):
    from geomesa_spark.operators.textstats import (
        fingerprint_udf,
        lang_id_col,
        quality_cols,
        text_profile,
        token_count_col,
    )

    texts = ["the cat and the dog", "der Hund und ein Fisch schwimmt", None]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "id INT, text STRING")
    t = F.col("text")
    want = (
        quality_cols(df)
        .withColumn("token_count_bpe", token_count_col(t))
        .withColumn("lang_guess", lang_id_col(t))
        .withColumn("fingerprint", fingerprint_udf()(t))
    )
    got = text_profile(df)
    assert got.columns == want.columns
    assert got.orderBy("id").collect() == want.orderBy("id").collect()
    first = got.orderBy("id").first()
    # 5 tokens, 3 of them stopwords ("the", "and", "the"); English trigrams win
    assert (first.n_tokens, first.stopword_ratio, first.lang_guess) == (5, 0.6, "en")


def test_stat_z3_variants(spark):
    from geomesa_spark.operators.stats import stat
    from geomesa_spark.sources.docs import index_docs, synth_docs

    docs = index_docs(synth_docs(spark, 200)).filter("week_bin >= 0")
    z3h = stat(docs, "Z3Histogram(week_bin)")
    assert sum(z3h["bins"].values()) == docs.count()
    z3f = stat(docs, "Z3Frequency(z3)")
    assert len(z3f["cms_bytes"]) > 0
