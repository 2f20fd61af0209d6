"""build_session's generated-code cache holds a whole job's classes: a
plan sequence compiling more than Spark's default 100 entries compiles
nothing when it runs again in the same session."""


def test_second_pass_compiles_nothing(spark):
    compiles = (spark.sparkContext._jvm.org.apache.spark.metrics.source
                .CodegenMetrics.METRIC_COMPILATION_TIME())

    def run_sequence():
        before = compiles.getCount()
        for i in range(120):
            spark.range(1, numPartitions=1).selectExpr(
                f"id * {7919 + i} + 3 AS x").collect()
        return compiles.getCount() - before

    assert run_sequence() > 100
    assert run_sequence() == 0
