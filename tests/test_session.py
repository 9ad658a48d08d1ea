"""Settings of the session factory (``session.get_spark``, which builds the
``spark`` fixture) that change how the engine runs."""


def _compiles(spark) -> int:
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return int(metrics.METRIC_COMPILATION_TIME().getCount())


def test_codegen_cache_holds_a_working_set_above_spark_default(spark):
    """A working set of more than Spark's default 100 generated classes
    compiles once: the second round hits the cache for every class (with
    the default bound it recompiles them all, since each round cycles
    through more classes than the cache holds)."""
    frames = [spark.range(2).selectExpr(f"id * {k + 2} + {k} AS x") for k in range(120)]

    def round_() -> int:
        before = _compiles(spark)
        for df in frames:
            df.collect()
        return _compiles(spark) - before

    assert round_() >= 110  # at least one new class per frame
    assert round_() == 0
