"""The generated-class cache is sized to the engine's working set: a query
shape asked again after more than Spark's default 100 other classes were
compiled reuses its compiled code instead of running Janino again."""

from __future__ import annotations

from pyspark.sql import functions as F

from xboard_spark.session import CODEGEN_CACHE_MAX_ENTRIES


def test_session_reports_codegen_cache_size(spark):
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == str(
        CODEGEN_CACHE_MAX_ENTRIES
    )


def test_repeated_query_shape_skips_recompilation(spark):
    compiles = (
        spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
        .METRIC_COMPILATION_TIME()
    )

    def agg(i):
        # the integer literal is inlined into the generated code, so every
        # i is a distinct class (two per query: partial and final aggregate)
        return (
            spark.range(64)
            .groupBy((F.col("id") % 7).alias("k"))
            .agg(F.sum(F.col("id") * i).alias("s"))
            .collect()
        )

    before = compiles.getCount()
    for i in range(1, 151):
        agg(i)
    assert compiles.getCount() - before > 100  # more than Spark's default
    before = compiles.getCount()
    agg(1)
    assert compiles.getCount() == before
