"""Order-preservation machinery.

The reference's Table is an *ordered* bag — slices, head/tail, rank,
batched, and consecutive-groupby are order-dependent (littletable.py:1393-1400,
3816-3830, 2248-2257, 3616-3628, 3612). Spark DataFrames are unordered
multisets, so we carry an explicit ``__row_ord__`` long column.

Scale design notes (100 TB):

- ``ensure_row_ord`` uses ``monotonically_increasing_id()`` — embarrassingly
  parallel, zero shuffle. Its values are non-contiguous but *globally ordered
  by (partition, offset)*, which equals file/ingest order for reads. That is
  all the ordered-bag semantics need.
- ``dense_index`` (needed only for positional ops: slices, ``rank``,
  ``batched``) deliberately avoids the classic
  ``row_number().over(Window.orderBy(...))`` with no partition key — that
  plan collapses to a single partition and dies at scale. Instead it:
    1. sorts (range-partitioned exchange — Spark's normal global sort),
    2. numbers rows *within* each partition,
    3. collects one tiny row per partition (the counts) and adds the
       cumulative offset via a broadcast map.
  Cost: one global sort (unavoidable for a total order) + one O(#partitions)
  driver-side aggregation. No single-partition bottleneck.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

ROW_ORD = "__row_ord__"
_PID = "__pid__"
_LOCAL = "__local_rn__"

#: internal columns that must never leak into user-visible output
INTERNAL_COLS = (ROW_ORD, _PID, _LOCAL)


def ensure_row_ord(df: DataFrame) -> DataFrame:
    """Attach ``__row_ord__`` preserving current (partition, offset) order."""
    if ROW_ORD in df.columns:
        return df
    return df.withColumn(ROW_ORD, F.monotonically_increasing_id())


def strip_internal(df: DataFrame) -> DataFrame:
    keep = [c for c in df.columns if c not in INTERNAL_COLS]
    return df.select(*keep)


def dense_index(
    df: DataFrame, sort_cols: list[Column] | None = None, out_col: str = ROW_ORD
) -> DataFrame:
    """Return ``df`` totally ordered by ``sort_cols`` with a dense 0..n-1
    ``out_col``, without a single-partition window.

    If ``sort_cols`` is None, the existing ``__row_ord__`` order is densified.
    """
    if sort_cols is None:
        sort_cols = [F.col(ROW_ORD)]
    tmp = out_col + "__tmp"
    # 1. global sort = range-partitioned exchange; rows land partition-ordered
    df_sorted = df.orderBy(*sort_cols).withColumn(_PID, F.spark_partition_id())
    # 2. partition-local numbering (window partitioned by pid — parallel)
    w = Window.partitionBy(_PID).orderBy(*sort_cols)
    # persist BEFORE the counts job: the counts collect and the output job
    # must see identical partition assignment, but range-partitioner
    # sample seeds are RDD-id-derived and AQE may re-plan between jobs —
    # the cache (filled by the counts job) pins one computed layout for
    # both consumers, so it is never released: a recompute could number
    # rows differently with no error (a layout pin)
    df_local = df_sorted.withColumn(_LOCAL, F.row_number().over(w)).persist()
    # 3. tiny per-partition counts -> cumulative offsets, broadcast-mapped
    counts = sorted(
        df_local.groupBy(_PID).agg(F.count(F.lit(1)).alias("n")).collect(),
        key=lambda r: r[_PID],
    )
    offsets: dict[int, int] = {}
    acc = 0
    for row in counts:
        offsets[row[_PID]] = acc
        acc += row["n"]
    if not offsets:
        return df.withColumn(tmp, F.lit(0).cast("long")).drop(out_col).withColumnRenamed(tmp, out_col)
    mapping = F.create_map(
        *[F.lit(x) for pid_off in offsets.items() for x in pid_off]
    )
    out = (
        df_local.withColumn(
            tmp, (mapping[F.col(_PID)] + F.col(_LOCAL) - 1).cast("long")
        )
        .drop(_PID, _LOCAL, out_col)
        .withColumnRenamed(tmp, out_col)
    )
    return out
