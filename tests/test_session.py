"""The session factory's codegen cache keeps generated classes across
queries."""

from pyspark.sql import functions as F


def test_generated_code_is_reused_across_queries(spark):
    """A plan's generated class outlives 150 other plans: re-running the
    first plan compiles nothing.  Each plan inlines its own long literal,
    so its whole-stage source is new; with Spark's default of 100 cached
    classes the first plan's class is evicted by then."""
    compiles = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()

    def run(k):
        spark.range(4).select((F.col("id") + F.lit(2**40 + k)).alias("x")).collect()

    run(0)
    for k in range(1, 151):
        run(k)
    before = compiles.getCount()
    run(0)
    assert compiles.getCount() == before
