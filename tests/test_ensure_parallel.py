"""`_ensure_parallel`'s plan probe: a few-file scan is spread across the
cores unless the plan already shuffles it into partitions."""

import pytest
from pyspark.sql import functions as F

from geomesa_spark.operators.dedup import _ensure_parallel


@pytest.fixture(scope="module")
def two_files(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("ensure_parallel") / "t.parquet")
    spark.range(200).selectExpr("id", "id * 2 AS v").repartition(2).write.parquet(path)
    df = spark.read.parquet(path)
    assert len(df.inputFiles()) == 2 < spark.sparkContext.defaultParallelism
    return df


def test_coalesced_scan_is_spread(spark, two_files):
    """coalesce(1) renders as `Repartition 1, false`: not a shuffle."""
    out = _ensure_parallel(two_files.coalesce(1))
    assert out.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism


@pytest.mark.parametrize(
    "shuffle",
    [lambda d: d.repartition(8), lambda d: d.repartition(3, "id")],
    ids=["repartition", "repartition_by_expression"],
)
def test_upstream_shuffle_left_alone(two_files, shuffle):
    df = shuffle(two_files).filter("id > 3")
    assert _ensure_parallel(df) is df


def test_column_named_repartition_is_spread(spark, two_files):
    df = two_files.select(F.col("v").alias("Repartition"))
    out = _ensure_parallel(df)
    assert out is not df
    assert out.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism


class _Forward:
    """Forwards attribute access to `target`, except the names overridden."""

    def __init__(self, target, **override):
        self._target = target
        self._override = override

    def __getattr__(self, name):
        return self._override.get(name) or getattr(self._target, name)


def test_stats_unavailable_keeps_input(two_files):
    df = two_files.coalesce(1)
    qe = df._jdf.queryExecution()

    def no_stats():
        raise RuntimeError("stats unavailable")

    df._jdf = _Forward(df._jdf, queryExecution=lambda: _Forward(qe, optimizedPlan=no_stats))
    assert _ensure_parallel(df) is df
