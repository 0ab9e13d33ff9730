"""Pins for the private Spark APIs the engine relies on. Each sits
behind no public contract, so a Spark upgrade that moves or changes one
fails here first instead of silently changing results or plans."""

from pyspark.sql import functions as F
from pyspark.sql.internal import InternalFunction


def test_distributed_sequence_numbers_a_sort_and_keeps_filters_above(spark):
    """``plans/ordering.dense_index``: the sequence attaches over the
    sorted rows as plan node ``AttachDistributedSequence``, numbers them
    0..n-1 in sort order, and a filter on a data column stays above it,
    so filtering never renumbers (``index``/``remove`` read positions
    through such a filter)."""
    df = spark.range(0, 40, numPartitions=4).withColumn("k", (F.col("id") * 7) % 5)
    seq = df.orderBy("k", "id").select(
        "*", InternalFunction.distributed_sequence_id().alias("pos")
    )
    rows = seq.collect()
    assert [r.pos for r in rows] == list(range(40))
    assert [(r.k, r.id) for r in rows] == sorted((r.k, r.id) for r in df.collect())

    filtered = seq.filter(F.col("k") == 3)
    plan = filtered._jdf.queryExecution().optimizedPlan().toString()
    assert "AttachDistributedSequence" in plan
    assert plan.index("Filter") < plan.index("AttachDistributedSequence"), plan
    assert {r.pos for r in filtered.collect()} == {r.pos for r in rows if r.k == 3}


def test_optimized_plan_size_in_bytes_is_a_positive_int(spark):
    """``streaming/ingest._append`` sizes a batch from the optimizer's
    statistics; its ``except`` falls back to a rebalance, so a broken
    call would only show as a silent plan change."""
    df = spark.range(1000).withColumn("s", F.col("id").cast("string"))
    size = df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
    assert int(str(size)) > 0


def _compiles(spark) -> int:
    return (
        spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
        .METRIC_COMPILATION_TIME().getCount()
    )


def test_codegen_compilation_count_counts_cache_misses(spark):
    """``CodegenMetrics.METRIC_COMPILATION_TIME`` counts one entry per
    class Janino compiles, i.e. per miss of Spark's codegen cache; the
    session tests and ``scripts/time_query.py`` read compiles from it."""
    import uuid

    salt = uuid.uuid4().int % 10**12
    df = spark.range(8).select((F.col("id") * F.lit(salt) + F.lit(salt)).alias("x"))
    before = _compiles(spark)
    df.collect()
    after = _compiles(spark)
    assert after > before
    df.collect()
    assert _compiles(spark) == after
