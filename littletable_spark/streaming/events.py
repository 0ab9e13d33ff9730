"""Event-time operators: tumbling/sliding/session windows.

Net-new capability over the reference (SURVEY.md §2.9: littletable has no
streaming). Batch forms work on any DataFrame with an epoch-seconds
column and are SQL-expressible (oracle-checkable); the streaming forms
are the same logical plans behind ``readStream`` + watermark.

Time is carried as epoch seconds (long). That keeps window arithmetic
integer-exact, timezone-free, and identical across engines — at 100 TB
the window assignment is a pure projection (no shuffle) and the
aggregation shuffles once on (bucket, keys).
"""

from __future__ import annotations

import os
from typing import Iterable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.parquet_io import read_parquet
from ..table import Table

TS_NANOS_CONF = "spark.sql.legacy.parquet.nanosAsLong"

class _nanos_conf:
    """Hold nanosAsLong for the duration of a bounded operation, then
    restore the prior value (unset when there was none) — the conf must
    stay active through stream execution, not just plan construction."""

    def __init__(self, spark):
        self.spark = spark

    def __enter__(self):
        self.prev = self.spark.conf.get(TS_NANOS_CONF, None)
        self.spark.conf.set(TS_NANOS_CONF, "true")
        return self

    def __exit__(self, *exc):
        if self.prev is not None:
            self.spark.conf.set(TS_NANOS_CONF, self.prev)
        else:
            self.spark.conf.unset(TS_NANOS_CONF)
        return False



def epoch_seconds(df: DataFrame, ts_col: str = "ts") -> Column:
    """Epoch-seconds expression for ``ts_col``, adaptive to how the
    writer encoded time. Handles the three encodings event feeds show
    up with, all timezone-independent so Spark and a DuckDB oracle
    agree regardless of session TZ:

    - int64 nanoseconds (parquet TIMESTAMP(NANOS) read with
      ``nanosAsLong``): exact integer division;
    - TIMESTAMP_NTZ (naive wall time, parquet isAdjustedToUTC=false):
      wall time treated as UTC via date/time-component arithmetic —
      never a cast through the session-local TIMESTAMP, which would
      make results depend on the executing cluster's timezone;
    - TIMESTAMP (instant): ``unix_seconds``, already TZ-free;
    - DATE (date-semantic columns, e.g. order dates a writer re-encodes
      as parquet DATE): ``unix_date * 86400`` — midnight UTC, TZ-free.
    """
    from pyspark.sql.types import (
        DateType,
        LongType,
        TimestampNTZType,
        TimestampType,
    )

    dtype = df.schema[ts_col].dataType
    c = F.col(ts_col)
    if isinstance(dtype, LongType):
        return F.expr(f"{ts_col} div 1000000000")
    if isinstance(dtype, DateType):
        return (F.unix_date(c) * F.lit(86400)).cast("long")
    if isinstance(dtype, TimestampNTZType):
        return (
            F.unix_date(c.cast("date")) * F.lit(86400)
            + F.hour(c) * F.lit(3600)
            + F.minute(c) * F.lit(60)
            + F.second(c)
        ).cast("long")
    if isinstance(dtype, TimestampType):
        return F.unix_seconds(c)
    raise TypeError(f"unsupported timestamp encoding for {ts_col!r}: {dtype}")


def _with_event_time(df: DataFrame, ts_col: str = "ts") -> DataFrame:
    """Attach ``ts_sec`` (epoch seconds, long) and normalize ``ts_col``
    to a seconds-precision TIMESTAMP for window functions."""
    sec = epoch_seconds(df, ts_col)
    return df.withColumn("ts_sec", sec).withColumn(
        ts_col, F.timestamp_seconds(F.col("ts_sec"))
    )


def load_events(spark: SparkSession, path: str, name: str = "events") -> Table:
    """Read an events parquet whatever its timestamp encoding.

    Older driver data wrote TIMESTAMP(NANOS), which Spark can only read
    as int64 under ``nanosAsLong``; newer data writes ordinary
    timestamp[us]. The conf is scoped so it cannot leak into unrelated
    reads, and the epoch-seconds derivation adapts to the schema that
    actually arrives (see :func:`epoch_seconds`).
    """
    with _nanos_conf(spark):
        # the footer is converted while the conf is active; the conf
        # must not leak into later unrelated spark.read calls
        df = read_parquet(spark, path)
    return Table(name=name, df=_with_event_time(df), spark=spark)


def tumbling_window(
    table: Table,
    size_sec: int,
    keys: Iterable[str] = (),
    ts_col: str = "ts_sec",
    **aggs: Column,
) -> Table:
    """Fixed windows: one row per (window_start, keys)."""
    df = table.df
    bucket = (F.col(ts_col) - (F.col(ts_col) % F.lit(size_sec))).alias("window_start")
    grouped = df.groupBy(bucket, *keys).agg(
        *[c.alias(n) for n, c in aggs.items()]
    )
    return Table.from_df(grouped, name=f"{table.table_name}_tumbling")


def sliding_window(
    table: Table,
    size_sec: int,
    slide_sec: int,
    keys: Iterable[str] = (),
    ts_col: str = "ts_sec",
    **aggs: Column,
) -> Table:
    """Overlapping windows: each event lands in size/slide windows.

    Expressed as an explode over the window starts covering the event —
    a narrow projection (no UDF) followed by one aggregation.
    """
    if size_sec % slide_sec != 0:
        raise ValueError("size must be a multiple of slide")
    n = size_sec // slide_sec
    df = table.df
    first_start = (
        F.col(ts_col) - (F.col(ts_col) % F.lit(slide_sec)) - F.lit(size_sec - slide_sec)
    )
    starts = F.sequence(
        first_start, first_start + F.lit((n - 1) * slide_sec), F.lit(slide_sec)
    )
    exploded = df.withColumn("window_start", F.explode(starts)).filter(
        F.col("window_start") >= 0
    )
    grouped = exploded.groupBy("window_start", *keys).agg(
        *[c.alias(nm) for nm, c in aggs.items()]
    )
    return Table.from_df(grouped, name=f"{table.table_name}_sliding")


def sessionize(
    table: Table,
    gap_sec: int,
    key: str,
    ts_col: str = "ts_sec",
    **aggs: Column,
) -> Table:
    """Session windows: per-key runs split where the gap exceeds ``gap_sec``.

    Window-function formulation (lag + cumulative sum of gap breaks) —
    shuffles once on the session key; no global window.
    """
    from pyspark.sql import Window

    df = table.df
    w = Window.partitionBy(key).orderBy(ts_col)
    gap_break = F.when(
        F.col(ts_col) - F.lag(ts_col).over(w) > F.lit(gap_sec), F.lit(1)
    ).otherwise(F.lit(0))
    with_session = df.withColumn("__brk__", gap_break).withColumn(
        "__session__", F.sum("__brk__").over(w)
    )
    # the per-key session counter stays internal; sessions are identified
    # by (key, session_start), which is convention-free (no dependence on
    # counter origin or integer width)
    grouped = (
        with_session.groupBy(key, "__session__")
        .agg(
            F.min(ts_col).alias("session_start"),
            F.max(ts_col).alias("session_end"),
            F.count(F.lit(1)).alias("n_events"),
            *[c.alias(nm) for nm, c in aggs.items()],
        )
        .drop("__session__")
    )
    return Table.from_df(grouped, name=f"{table.table_name}_sessions")


def streaming_session_demo(
    spark: SparkSession,
    path: str,
    gap_sec: int = 1800,
    key: str = "user_id",
):
    """True Structured Streaming sessionization via ``session_window``
    with a watermark; drains a bounded parquet input through the memory
    sink and returns the result DataFrame."""
    import shutil
    import tempfile
    import uuid

    if path.endswith(".parquet") and not os.path.isdir(path):
        stage = tempfile.mkdtemp(prefix="lts_sess_")
        shutil.copy(path, stage)
        path = stage
    with _nanos_conf(spark):
        schema = read_parquet(spark, path).schema
        stream = spark.readStream.schema(schema).parquet(path)
        events = _with_event_time(stream).drop("ts_sec")
        agg = (
            events.withWatermark("ts", "1 hour")
            .groupBy(F.session_window("ts", f"{gap_sec} seconds"), key)
            .agg(F.count(F.lit(1)).alias("n_events"))
        )
        qname = f"lts_sess_{uuid.uuid4().hex[:8]}"
        q = (
            agg.writeStream.outputMode("complete")
            .format("memory")
            .queryName(qname)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return spark.sql(f"SELECT * FROM {qname}")


def streaming_tumbling_demo(
    spark: SparkSession,
    path: str,
    size_sec: int = 3600,
    keys: Iterable[str] = ("event_type",),
):
    """True Structured Streaming variant: readStream → window agg → memory sink.

    Returns the in-memory result DataFrame after draining all available
    input (used by tests; production would aim at a kafka/delta sink).
    """
    import shutil
    import tempfile

    # file-source streams need a directory; stage the file into one
    if path.endswith(".parquet") and not os.path.isdir(path):
        stage_dir = tempfile.mkdtemp(prefix="lts_stream_")
        shutil.copy(path, stage_dir)
        path = stage_dir
    import uuid

    with _nanos_conf(spark):
        schema = read_parquet(spark, path).schema
        stream = spark.readStream.schema(schema).parquet(path)
        events = _with_event_time(stream).drop("ts_sec")
        agg = (
            events.withWatermark("ts", "1 hour")
            .groupBy(F.window("ts", f"{size_sec} seconds"), *keys)
            .agg(F.count(F.lit(1)).alias("n_events"), F.sum("value").alias("total_value"))
        )
        qname = f"lt_stream_{uuid.uuid4().hex[:8]}"
        # complete mode: append+watermark would withhold windows that are not
        # yet past the watermark when the bounded input drains
        q = (
            agg.writeStream.outputMode("complete")
            .format("memory")
            .queryName(qname)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return spark.sql(f"SELECT * FROM {qname}")


def streaming_dedup_demo(
    spark: SparkSession,
    path: str,
    keys: Iterable[str] = ("user_id", "event_type"),
):
    """Streaming deduplication: keep the first event per key with
    watermark-scoped state (``withWatermark`` + ``dropDuplicates``), the
    canonical exactly-once pattern for replayed/at-least-once feeds.
    State is bounded: keys older than the watermark are evicted, so this
    runs indefinitely at feed scale. Drains a bounded parquet input via
    the memory sink (production targets kafka/delta)."""
    import shutil
    import tempfile
    import uuid

    if path.endswith(".parquet") and not os.path.isdir(path):
        stage = tempfile.mkdtemp(prefix="lts_dedup_")
        shutil.copy(path, stage)
        path = stage
    with _nanos_conf(spark):
        schema = read_parquet(spark, path).schema
        stream = spark.readStream.schema(schema).parquet(path)
        events = _with_event_time(stream).drop("ts_sec")
        deduped = events.withWatermark("ts", "1 hour").dropDuplicates(list(keys))
        qname = f"lts_dedup_{uuid.uuid4().hex[:8]}"
        q = (
            deduped.writeStream.outputMode("append")
            .format("memory")
            .queryName(qname)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return spark.sql(f"SELECT * FROM {qname}")


def time_rollup(
    table: Table,
    resolutions: Iterable[int] = (60, 3600, 86400),
    keys: Iterable[str] = (),
    ts_col: str = "ts_sec",
    **aggs: Column,
) -> Table:
    """Hypertable-style multi-resolution rollup: one row per
    (resolution, bucket_start, keys) for every requested resolution —
    the continuous-aggregate tiering (1m/1h/1d) time-series stores
    maintain, computed in ONE scan and ONE shuffle.

    Each event explodes to its (resolution, bucket) assignments (a
    narrow Expand-style row multiplication, factor = len(resolutions)),
    then a single partially-aggregated groupBy rolls every tier up
    together — map-side combine collapses the multiplied rows before
    the shuffle, so shuffle volume is one row per populated bucket per
    tier, not per event.
    """
    res = [int(r) for r in resolutions]
    if not res or any(r <= 0 for r in res):
        raise ValueError("resolutions must be positive ints")
    df = table.df
    pairs = F.array(
        *[
            F.struct(
                F.lit(r).alias("resolution"),
                (F.col(ts_col) - (F.col(ts_col) % F.lit(r))).alias("bucket_start"),
            )
            for r in res
        ]
    )
    exploded = df.withColumn("__rb__", F.explode(pairs)).select(
        F.col("__rb__.resolution").alias("resolution"),
        F.col("__rb__.bucket_start").alias("bucket_start"),
        *[c for c in df.columns if c != "__rb__"],
    )
    grouped = exploded.groupBy("resolution", "bucket_start", *keys).agg(
        *[c.alias(n) for n, c in aggs.items()]
    )
    return Table.from_df(grouped, name=f"{table.table_name}_rollup")


def enrich_stream(stream: Table, dim: Table, on: dict[str, str]) -> Table:
    """Stream-static enrichment join: attach dimension attributes (user
    profile, product metadata) to a live event stream. ``on`` maps
    stream columns to dimension columns.

    Scale shape: the static side is explicitly broadcast — Spark
    re-reads it per micro-batch either way, and the broadcast keeps the
    stream side's partitioning intact (no shuffle of the unbounded
    side, no state store: stream-static joins are stateless). LEFT
    join, so events without a dimension row pass through with NULLs —
    late dimension upserts are a data fix, not a data loss. The
    dimension's join-key columns are dropped after the join (the stream
    keeps its own)."""
    sdf = stream._require_df()
    ddf = dim.df
    if sdf.isStreaming and not ddf.isStreaming:
        # the dimension's ordered-bag lineage contains
        # monotonically_increasing_id (ensure_row_ord), which the
        # streaming UnsupportedOperationChecker rejects even when the
        # column is pruned; localCheckpoint rewrites the dim to a
        # plan-clean static relation — it is the small broadcast side,
        # so the eager materialization is the cost of one dim scan
        ddf = ddf.localCheckpoint(eager=True)
    cond = None
    for l_col, r_col in on.items():
        c = sdf[l_col] == ddf[r_col]
        cond = c if cond is None else (cond & c)
    out = sdf.join(F.broadcast(ddf), on=cond, how="left")
    for r_col in on.values():
        out = out.drop(ddf[r_col])
    return Table.from_df(out, name=f"{stream.table_name}_enriched")


def streaming_followup_join_demo(
    spark: SparkSession,
    path: str,
    key: str = "user_id",
    within_sec: int = 1800,
    watermark: str = "1 hour",
):
    """Stream-stream self interval join: pair every event with the SAME
    key's follow-up events inside ``within_sec`` — the funnel /
    response-time primitive (click→purchase, error→retry).

    This is the canonical watermarked stream-stream join: both sides
    carry a watermark and the join condition bounds b.ts to
    (a.ts, a.ts + within_sec], so Spark can size and EVICT the join
    state — without the time bound the state store would grow without
    limit. Drains a bounded parquet input through a memory sink like
    the other demos; production aims at kafka/delta. Returns the
    joined result (a_* columns for the earlier event, b_* for the
    follow-up)."""
    import shutil
    import tempfile
    import uuid

    if path.endswith(".parquet") and not os.path.isdir(path):
        stage = tempfile.mkdtemp(prefix="lts_follow_")
        shutil.copy(path, stage)
        path = stage
    with _nanos_conf(spark):
        schema = read_parquet(spark, path).schema
        stream = _with_event_time(
            spark.readStream.schema(schema).parquet(path)
        ).drop("ts_sec")
        a = (
            stream.select(
                F.col(key).alias("k"),
                F.col("event_id").alias("a_event_id"),
                F.col("event_type").alias("a_event_type"),
                F.col("ts").alias("a_ts"),
            ).withWatermark("a_ts", watermark)
        )
        b = (
            stream.select(
                F.col(key).alias("k"),
                F.col("event_id").alias("b_event_id"),
                F.col("event_type").alias("b_event_type"),
                F.col("ts").alias("b_ts"),
            ).withWatermark("b_ts", watermark)
        )
        joined = a.join(
            b,
            (a["k"] == b["k"])
            & (b["b_ts"] > a["a_ts"])
            & (b["b_ts"] <= a["a_ts"] + F.expr(f"INTERVAL {within_sec} SECONDS")),
            "inner",
        ).drop(b["k"])
        qname = f"lts_follow_{uuid.uuid4().hex[:8]}"
        q = (
            joined.writeStream.outputMode("append")
            .format("memory")
            .queryName(qname)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return spark.sql(f"SELECT * FROM {qname}")
