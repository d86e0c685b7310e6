"""Session-wide settings of frontier.spark.session.get_spark."""

import pyspark.sql.functions as F


def _compiles(spark) -> int:
    """Classes Spark's code generator has compiled in this JVM."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def test_codegen_cache_outlives_100_plan_shapes(spark):
    """The generated-class cache holds more than a crawl round's or a
    curate pass's classes: after 150 other plan shapes, re-running the
    first one compiles (almost) nothing. At Spark's default of 100
    entries the first shape's classes were evicted and recompiled."""
    def first():
        left = spark.range(200).select(
            (F.col("id") % 13).alias("k"), (F.col("id") * 3).alias("v"))
        right = spark.range(13).select(F.col("id").alias("k"),
                                       (F.col("id") + 5).alias("w"))
        return (left.join(right, "k").groupBy("k")
                .agg(F.sum("v").alias("s"), F.max("w").alias("w"))
                .orderBy("k").collect())

    want = first()
    before = _compiles(spark)
    for i in range(150):
        spark.range(8).select((F.col("id") * (i + 2) + 1).alias("v")) \
            .collect()
    assert _compiles(spark) - before >= 150   # 150 new classes
    before = _compiles(spark)
    assert first() == want
    assert _compiles(spark) - before <= 2
