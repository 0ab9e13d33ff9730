"""read_parquet resolves the same schema Spark's inference does, from one
driver-side footer read, and leaves every other case to Spark's reader
(littletable_spark/sources/parquet_io.py)."""

import os
import shutil
import tempfile

import pytest
from pyspark.errors import AnalysisException

from littletable_spark.sources.parquet_io import _footer_schema, read_parquet
from littletable_spark.streaming.events import _nanos_conf


@pytest.fixture()
def root():
    d = tempfile.mkdtemp(prefix="lts_pq_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _frame(spark, extra=False):
    cols = [
        "id AS doc_id",
        "CAST(id AS STRING) AS text",
        "array(CAST(id AS DOUBLE), 1.0D) AS emb",
        "named_struct('a', id, 'b', CAST(id AS DECIMAL(10,2))) AS s",
    ]
    if extra:
        cols.append("CAST(id AS INT) AS lang")
    return spark.range(4).selectExpr(*cols)


def _same(spark, *paths):
    # the driver-side footer read answered (no silent fallback)
    assert _footer_schema(spark, paths) is not None
    got = read_parquet(spark, *paths)
    want = spark.read.parquet(*paths)
    assert got.schema == want.schema
    assert sorted(map(str, got.collect())) == sorted(map(str, want.collect()))


def test_single_file(spark, root):
    _frame(spark).coalesce(1).write.parquet(f"{root}/t")
    (f,) = [n for n in os.listdir(f"{root}/t") if n.endswith(".parquet")]
    _same(spark, f"{root}/t/{f}")
    # a footer without Spark's schema key goes through the converter
    _write_events(f"{root}/arrow.parquet", "us")
    _same(spark, f"{root}/arrow.parquet")


def test_partitioned_root_keeps_partition_column(spark, root):
    for b in (0, 1, -3):
        _frame(spark).write.parquet(f"{root}/a/batch_id={b}")
    _same(spark, f"{root}/a")
    assert read_parquet(spark, f"{root}/a").columns[-1] == "batch_id"


def test_several_paths(spark, root):
    for b in (0, 1):
        _frame(spark).write.parquet(f"{root}/a/batch_id={b}")
    _same(spark, f"{root}/a/batch_id=0", f"{root}/a/batch_id=1")


def test_hidden_dirs_and_markers_are_skipped(spark, root):
    """A .compact_tmp with a different schema sorts before every data
    file but is invisible to Spark's file index — and so to the footer
    pick; _SUCCESS is a marker, never a footer."""
    _frame(spark).write.parquet(f"{root}/a/batch_id=0")
    _frame(spark, extra=True).write.parquet(f"{root}/a/.compact_tmp")
    _frame(spark, extra=True).write.parquet(f"{root}/a/_tmp")
    assert os.path.exists(f"{root}/a/batch_id=0/_SUCCESS")
    _same(spark, f"{root}/a")
    assert "lang" not in read_parquet(spark, f"{root}/a").columns


def test_first_data_file_by_path_wins(spark, root):
    """Without schema merging Spark trusts the first data file by full
    path; so does the driver-side pick."""
    _frame(spark, extra=True).write.parquet(f"{root}/a/batch_id=0")
    _frame(spark).write.parquet(f"{root}/a/batch_id=1")
    _same(spark, f"{root}/a")
    assert "lang" in read_parquet(spark, f"{root}/a").columns


def _write_events(path, unit):
    import pyarrow as pa
    import pyarrow.parquet as pq

    ns = [1_700_000_000_123_456_789, 1_700_000_100_000_000_001]
    ts = pa.array(ns, pa.timestamp("ns")).cast(pa.timestamp(unit), safe=False)
    pq.write_table(
        pa.table({
            "user_id": pa.array([1, 2], pa.int64()),
            "event_type": ["view", "click"],
            "value": [0.5, None],
            "tags": [["a"], []],
            "ts": ts,
        }),
        path,
        version="2.6",
        coerce_timestamps=None,
    )


def test_nanos_footer_follows_session_conf(spark, root):
    nanos, micros = f"{root}/nanos.parquet", f"{root}/micros.parquet"
    _write_events(nanos, "ns")
    _write_events(micros, "us")
    with _nanos_conf(spark):
        _same(spark, nanos)
        assert read_parquet(spark, nanos).schema["ts"].dataType.simpleString() == "bigint"
        _same(spark, micros)
    # outside the conf both readers refuse TIMESTAMP(NANOS) alike
    for reader in (read_parquet, lambda s, p: s.read.parquet(p)):
        with pytest.raises(AnalysisException):
            reader(spark, nanos)


def _error(fn):
    with pytest.raises(Exception) as info:
        fn()
    return type(info.value), getattr(info.value, "getCondition", lambda: None)()


def test_missing_and_empty_paths_fail_like_spark(spark, root):
    os.makedirs(f"{root}/empty")
    open(f"{root}/empty/_SUCCESS", "w").close()
    for p in (f"{root}/missing", f"{root}/empty"):
        assert _error(lambda: read_parquet(spark, p)) == _error(
            lambda: spark.read.parquet(p)
        )


def test_merge_schema_session_keeps_sparks_reader(spark, root):
    _frame(spark).write.parquet(f"{root}/a/batch_id=0")
    _frame(spark, extra=True).write.parquet(f"{root}/a/batch_id=1")
    want = spark.read.option("mergeSchema", "true").parquet(f"{root}/a")
    assert "lang" in want.columns
    spark.conf.set("spark.sql.parquet.mergeSchema", "true")
    try:
        assert read_parquet(spark, f"{root}/a").schema == want.schema
    finally:
        spark.conf.unset("spark.sql.parquet.mergeSchema")
