"""get_spark / apply_runtime_confs must configure PRE-EXISTING sessions
too (VERDICT r7 #2): a harness that creates its own SparkSession and
then calls into the engine still gets the load-bearing Arrow batching
regime."""

from littletable_spark.session import _APPLIED, apply_runtime_confs, get_spark

BYTES_KEY = "spark.sql.execution.arrow.maxBytesPerBatch"


def test_get_spark_reapplies_confs_to_active_session(spark):
    prev = spark.conf.get(BYTES_KEY)
    try:
        spark.conf.set(BYTES_KEY, "64m")  # simulate a foreign session
        got = get_spark()
        assert got is spark
        assert spark.conf.get(BYTES_KEY) == "2147483647b"
    finally:
        spark.conf.set(BYTES_KEY, prev)


def test_apply_runtime_confs_is_memoized(spark):
    apply_runtime_confs(spark)
    assert id(spark) in _APPLIED
    prev = spark.conf.get(BYTES_KEY)
    try:
        spark.conf.set(BYTES_KEY, "64m")
        # memoized: does NOT re-set on every call (hot-path cheapness)
        apply_runtime_confs(spark)
        assert spark.conf.get(BYTES_KEY) == "64m"
        # but get_spark (session-acquisition) always refreshes
        get_spark()
        assert spark.conf.get(BYTES_KEY) == "2147483647b"
    finally:
        spark.conf.set(BYTES_KEY, prev)


def test_entry_loaders_apply_confs(spark):
    import __spark_entry__ as m

    prev = spark.conf.get(BYTES_KEY)
    try:
        spark.conf.set(BYTES_KEY, "64m")
        _APPLIED.discard(id(spark))
        m._t(spark, "/root/testdata/sf0.001", "region").df.count()
        assert spark.conf.get(BYTES_KEY) == "2147483647b"
    finally:
        spark.conf.set(BYTES_KEY, prev)


def test_codegen_cache_holds_more_than_sparks_default(spark):
    """Compiled whole-stage classes live in one JVM-global cache that
    holds 100 classes unless ``get_spark`` sizes it: a round of 150
    plans with distinct generated code, compiled a second time, must
    compile nothing. ``codegenToSeq`` generates and compiles each plan's
    whole-stage code through that cache without running a job."""
    from pyspark.sql import functions as F

    metric = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics

    def compile_round(plans) -> int:
        before = metric.METRIC_COMPILATION_TIME().getCount()
        for df in plans:
            df._jdf.queryExecution().debug().codegenToSeq()
        return metric.METRIC_COMPILATION_TIME().getCount() - before

    plans = [
        spark.range(4).select((F.col("id") * F.lit(7919 + i)).alias("x"))
        for i in range(150)
    ]
    assert compile_round(plans) >= 150
    assert compile_round(plans) == 0
