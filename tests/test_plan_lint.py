"""plans/lint.py: each anti-pattern triggers its warning; the repo's
own operators (built to avoid them) lint clean; plan_shape counts
operators."""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from littletable_spark import Table, lint_plan, plan_shape


def _codes(df):
    return {w.code for w in lint_plan(df)}


def _df(spark, n=50):
    return spark.range(n).select(
        F.col("id"), (F.col("id") % 5).alias("k"), (F.col("id") * 2.0).alias("v")
    )


def test_flags_unpartitioned_window(spark):
    df = _df(spark).withColumn(
        "rn", F.row_number().over(Window.orderBy("id"))
    )
    codes = _codes(df)
    assert "single-partition-window" in codes


def test_partitioned_window_is_clean(spark):
    df = _df(spark).withColumn(
        "rn", F.row_number().over(Window.partitionBy("k").orderBy("id"))
    )
    assert "single-partition-window" not in _codes(df)


def test_flags_single_partition_exchange(spark):
    assert "single-partition-exchange" in _codes(_df(spark).repartition(1))


def test_flags_cartesian_join(spark):
    a, b = _df(spark), _df(spark, 10)
    theta = a.alias("a").join(b.alias("b"), F.col("a.v") < F.col("b.v"))
    assert "cartesian-join" in _codes(theta)


def test_flags_row_at_a_time_udf(spark):
    plus1 = F.udf(lambda x: x + 1, "bigint")
    assert "python-row-udf" in _codes(_df(spark).select(plus1("id")))


def test_flags_self_join_on_fresh_ordinal(spark):
    """The filter_by_robots round-11 hazard shape: stamp a fresh
    monotonically_increasing_id, aggregate one branch, join back on the
    ordinal — two independent evaluations of a nondeterministic key."""
    work = _df(spark).withColumn("ord", F.monotonically_increasing_id())
    agg = work.groupBy("ord").agg(F.sum("v").alias("s"))
    assert "nondeterministic-ordinal-join" in _codes(work.join(agg, "ord"))


def test_content_key_join_of_stamped_frames_is_clean(spark):
    """Two frames that each CARRY a mid-stamped ordinal column joined
    on ordinary content keys must not trigger the ordinal warning —
    the ids never key the join."""
    a = _df(spark).withColumn("orda", F.monotonically_increasing_id())
    b = _df(spark, 10).withColumn("ordb", F.monotonically_increasing_id())
    joined = a.join(b.select(F.col("k").alias("k2"), "ordb"),
                    F.col("k") == F.col("k2"))
    assert "nondeterministic-ordinal-join" not in _codes(joined)


def test_global_sort_flagged_but_topk_is_not(spark):
    assert "global-sort" in _codes(_df(spark).orderBy("v"))
    assert "global-sort" not in _codes(_df(spark).orderBy("v").limit(5))


def test_plan_shape_counts_a_persisted_frame_as_one_scan(spark):
    """The cached subtree Spark prints under an InMemoryTableScan is not
    counted, before the cache fills, after it fills, and after the frame
    itself has run (whose plan string then holds a final plan too)."""
    cached = spark.range(100).repartition(3).persist()
    try:
        over = cached.selectExpr("id * 2 AS x")
        want = {"InMemoryTableScan": 1}
        assert plan_shape(over) == want
        cached.count()
        assert plan_shape(over) == want
        over.collect()
        assert "== Final Plan ==" in over._jdf.queryExecution().executedPlan().toString()
        assert plan_shape(over) == want
    finally:
        cached.unpersist()


def test_plan_shape_names_exchanges_and_scans(spark):
    """Spark prints ``Exchange SinglePartition, ...``: no comma in the
    name. (``coalesce(1)`` plans a narrow ``Coalesce``, no exchange.)"""
    single = plan_shape(_df(spark).repartition(1))
    assert "Exchange SinglePartition" in single, single
    assert not [op for op in single if op.endswith(",")], single
    nation = spark.read.parquet("/root/testdata/sf0.001/nation.parquet")
    self_join = nation.alias("a").join(nation.alias("b"), "n_nationkey")
    assert plan_shape(self_join)["FileScan parquet"] == 2


def test_plan_shape_strips_the_codegen_prefix(spark):
    """Without AQE the plan is whole-stage compiled: ``*(1) HashAggregate``
    counts as ``HashAggregate``."""
    prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        df = _df(spark).groupBy("k").count()
        assert "*(1)" in df._jdf.queryExecution().executedPlan().toString()
        assert plan_shape(df) == {
            "Exchange hashpartitioning": 1, "HashAggregate": 2, "Range": 1,
        }
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", prev)


def test_repo_operators_lint_clean(spark):
    """rank/slicing (distributed sequence), groupby, joins — the
    operators built to dodge these traps must not trigger them."""
    t = Table("lintt", spark=spark)
    t.insert_many([{"k": i % 3, "v": float(i)} for i in range(30)])
    ranked = t.rank()
    assert "single-partition-window" not in _codes(ranked.df)
    g = t.groupby_with_summaries("k", total=F.sum("v"))
    assert _codes(g.df) <= {"global-sort"}
    # Table.lint() convenience surfaces the same checks
    assert isinstance(t.lint(), list)


def test_new_pipeline_operators_lint_clean(spark):
    """the late-round-6 operators must stay free of the linter's scale
    anti-patterns (span/line dedup, LM scoring, tf-idf, epoch shuffle)."""
    from littletable_spark.operators.dedup import (
        duplicate_spans,
        line_dedup,
        remove_duplicate_spans,
    )
    from littletable_spark.operators.sampling import epoch_shuffle
    from littletable_spark.operators.textops import (
        tfidf_top_terms,
        unigram_logprob,
    )

    t = Table("lintdocs", spark=spark)
    t.insert_many(
        [{"doc_id": i, "text": f"w{i % 7} common tokens here run {i % 3}"}
         for i in range(40)]
    )
    from littletable_spark.operators.textops import bm25_topk

    for tab in (
        duplicate_spans(t, "text", "doc_id", k=3),
        remove_duplicate_spans(t, "text", "doc_id", k=3),
        duplicate_spans(t, "text", "doc_id", k=3, min_docs=1, against=t),
        line_dedup(t, "text", "doc_id"),
        line_dedup(t, "text", "doc_id", against=t),
        unigram_logprob(t, "text", "doc_id", vocab_size=5),
        tfidf_top_terms(t, "text", "doc_id", k=2),
        bm25_topk(t, "text", "doc_id", "common tokens", k=3),
        epoch_shuffle(t, "doc_id", seed="lint", n_shards=4),
    ):
        assert tab.lint() == [], tab.table_name


def test_classifier_operators_lint_clean(spark):
    """round-7 classifier surface: linear scoring/filtering are pure
    projections, and hashed-text SCORING never leaves the JVM (the
    fit's one sparse-assembly UDF is deliberately confined to
    training and is not part of any scan-path plan)."""
    from littletable_spark.operators.classifier import (
        filter_by_classifier,
        score_linear,
        score_text_classifier,
        train_text_classifier,
    )

    t = Table("lintclf", spark=spark)
    t.insert_many(
        [{"doc_id": i, "text": f"tok{i % 5} body words {i % 2}",
          "f_a": float(i), "label": i % 2} for i in range(20)]
    )
    model = train_text_classifier(t, "text", "label", n_features=256)
    for tab in (
        score_linear(t, {"f_a": 0.5}, decision_col="keep"),
        filter_by_classifier(t, {"f_a": 0.5}),
        score_text_classifier(t, model, "text", "doc_id"),
    ):
        assert tab.lint() == [], tab.table_name


def test_registry_outputs_are_scalar_only(registry_frames):
    """Registry-wide schema sweep: no queries() result may expose an
    Array/Map/Struct column. The driver's oracle harness canonicalizes
    results via pandas sort_values, which raises `unhashable type` on
    list cells (the round-6 `text_filter_quality` gate err) — registry
    queries must serialize complex columns (array_join etc.) at the
    query edge while the Table-level operators keep the real types."""
    from pyspark.sql.types import ArrayType, MapType, StructType

    offenders = []
    for name, df in registry_frames.items():
        for field in df.schema.fields:
            if isinstance(field.dataType, (ArrayType, MapType, StructType)):
                offenders.append((name, field.name, field.dataType.simpleString()))
    assert not offenders, f"non-scalar registry output columns: {offenders}"


def test_coverage_tier_annotations_match_registry():
    """COVERAGE.md's '(gate)'/'(mirror)' oracle-tier citations must
    agree with the registry's actual 50-query gate window — stale
    annotations misreport which queries the driver verified this
    round. Pure text/dict check, no Spark session."""
    import itertools
    import re

    import __spark_entry__ as entry

    q = entry.queries()
    gate = set(itertools.islice(q, 50))
    parked = set(q) - gate
    cov = open("COVERAGE.md").read()
    bad = sorted(
        {
            (name, tier)
            for name, tier in re.findall(
                r"(\w+) \((gate|mirror)[;,)\s]", cov
            )
            if (name in gate and tier == "mirror")
            or (name in parked and tier == "gate")
        }
    )
    assert bad == [], f"stale COVERAGE tier annotations: {bad}"
