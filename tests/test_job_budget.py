"""Spark-job budgets: a load-independent performance contract.

Each Spark job costs tens of milliseconds of scheduling whatever it
computes, so the calls below are held to a job count read from the
status store. Raising a budget needs a stated reason."""

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from littletable_spark import Table
from littletable_spark.streaming import compact_asset, ingest_batch, load_events

_BASE = [
    "alpha beta gamma delta epsilon zeta eta theta iota kappa",
    "lambda mu nu xi omicron pi rho sigma tau upsilon",
    "phi chi psi omega one two three four five six",
]


def _jobs(spark):
    """{job id: job group} for every job the status store holds, once
    the listener bus has delivered every event."""
    sc = spark.sparkContext._jsc.sc()
    sc.listenerBus().waitUntilEmpty(60_000)
    seq = sc.statusStore().jobsList(None)
    out = {}
    for i in range(seq.length()):
        job = seq.apply(i)
        group = job.jobGroup()
        out[job.jobId()] = group.get() if group.isDefined() else None
    return out


def _run(spark, fn):
    """(result, {job id: group}) for the jobs ``fn`` ran."""
    before = max(_jobs(spark), default=-1)
    result = fn()
    return result, {j: g for j, g in _jobs(spark).items() if j > before}


def _docs(spark, rows):
    t = Table("budget", spark=spark)
    t.insert_many([{"doc_id": i, "text": txt} for i, txt in rows])
    return t.df.select("doc_id", "text")


@pytest.fixture()
def root():
    d = tempfile.mkdtemp(prefix="lts_budget_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _two_batches(spark, root):
    corpus, bands = f"{root}/corpus", f"{root}/bands"
    batches = [
        _docs(spark, [(1, _BASE[0]), (2, _BASE[1])]),
        _docs(spark, [(3, _BASE[0]), (4, _BASE[2]), (5, _BASE[2])]),
    ]
    jobs = []
    for bid, batch in enumerate(batches):
        _, ran = _run(
            spark,
            lambda: ingest_batch(batch, bid, corpus, bands, collect_stats=False),
        )
        jobs.append(ran)
    return corpus, bands, jobs


def test_parquet_import_schema_runs_no_job(spark, root):
    spark.range(10).selectExpr("id", "CAST(id AS STRING) AS s").write.parquet(
        f"{root}/t"
    )
    _, ran = _run(spark, lambda: Table.parquet_import(spark, f"{root}/t").df.schema)
    assert len(ran) == 0


def test_load_events_runs_no_job(spark, root):
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = f"{root}/events.parquet"
    pq.write_table(
        pa.table({
            "user_id": [1, 2],
            "ts": pa.array([1_700_000_000_000_000, 1_700_000_060_000_000],
                           pa.timestamp("us")),
        }),
        path,
    )
    _, ran = _run(spark, lambda: load_events(spark, path))
    assert len(ran) == 0


@pytest.mark.parametrize("op", ["rank", "slice", "remove", "consecutive_runs"])
def test_positional_plans_build_without_a_job(spark, op):
    """Dense positions are a lazy plan (a sort plus Spark's distributed
    sequence): building one runs nothing until the caller's action."""
    from littletable_spark.operators.grouping import consecutive_runs

    t = Table("positional", spark=spark)
    t.insert_many([{"k": i % 3, "v": i} for i in range(30)])
    t.orderby("k")
    build = {
        "rank": lambda: t.rank("r"),
        "slice": lambda: t[10:20],
        "remove": lambda: t.remove({"k": 1, "v": 4}),
        "consecutive_runs": lambda: consecutive_runs(t, "k", order_by="v"),
    }[op]
    _, ran = _run(spark, build)
    assert len(ran) == 0, ran


def test_ingest_and_compact_budgets(spark, root):
    corpus, bands, jobs = _two_batches(spark, root)
    counts = [len(j) for j in jobs]
    assert counts[0] <= 13 and counts[1] <= 16, counts
    before = {r.doc_id for r in spark.read.parquet(corpus).collect()}
    stats, ran = _run(spark, lambda: [compact_asset(spark, p) for p in (corpus, bands)])
    assert [s["compacted"] for s in stats] == [2, 2]
    assert len(ran) <= 2, ran
    assert {r.doc_id for r in spark.read.parquet(corpus).collect()} == before


def test_ingest_write_pool_keeps_callers_job_group(spark, root):
    """The asset writes run on pool threads; they must carry the
    caller's job group, or cancelJobGroup cannot stop them."""
    sc = spark.sparkContext
    sc.setJobGroup("g", "ingest under a job group")
    try:
        _, _, jobs = _two_batches(spark, root)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
        sc.setLocalProperty("spark.job.interruptOnCancel", None)
    for ran in jobs:
        assert ran and set(ran.values()) == {"g"}, ran


def test_stream_ingest_compact_folds_keep_callers_job_group(spark, root):
    """q_stream_ingest_compact folds its two assets on pool threads;
    those compaction jobs must carry the caller's job group too."""
    import __spark_entry__ as entry

    docs = [(i, _BASE[i % 3] + f" doc{i // 3}") for i in range(9)]
    _docs(spark, docs).write.parquet(f"{root}/documents.parquet")
    sc = spark.sparkContext
    sc.setJobGroup("g", "compaction under a job group")
    try:
        _, ran = _run(spark, lambda: entry.q_stream_ingest_compact(spark, root))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
        sc.setLocalProperty("spark.job.interruptOnCancel", None)
    assert ran and set(ran.values()) == {"g"}, ran


def test_compact_coalesce_keeps_rows_and_file_count(spark, root):
    """Folding without a shuffle keeps the row multiset and writes
    exactly the sized file count."""
    path = f"{root}/asset"
    for b in range(3):
        spark.range(b * 10, b * 10 + 10).withColumn(
            "v", F.col("id") % 3
        ).coalesce(2).write.parquet(f"{path}/batch_id={b}")
    before = sorted(spark.read.parquet(path).drop("batch_id").collect())
    stats, ran = _run(spark, lambda: compact_asset(spark, path))
    assert stats["compacted"] == 3 and stats["files_after"] == 1
    assert len(ran) == 1
    assert sorted(spark.read.parquet(path).drop("batch_id").collect()) == before
