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
  ``batched``, consecutive runs) deliberately avoids the classic
  ``row_number().over(Window.orderBy(...))`` with no partition key — that
  plan collapses to a single partition and dies at scale. Instead it sorts
  (range-partitioned exchange — Spark's normal global sort) and attaches
  Spark's distributed sequence (``AttachDistributedSequence``, the
  ``zipWithIndex`` behind pandas-on-Spark's ``distributed-sequence``
  index): one small count job per action, no single-partition bottleneck.
  The plan is lazy and holds no cache past the action that runs it.

Precondition — positions are a function of the order alone, so two actions
number the rows alike only when the order columns are a total order whose
values the source computes alike every time:

- ``Table._sort_cols()`` ends with ``__epoch__``, ``__row_ord__`` and, when
  present, ``__row_sub__``. ``(__epoch__, __row_ord__)`` is unique for rows
  from reads and inserts. A join copies one left row's pair onto each of
  its matches, so ``join_tables`` and ``salted_join`` stamp ``__row_sub__``
  (the matched right row's order key) to keep the order total.
- ``Table.from_df`` over a frame whose row order Spark does not fix (the
  output of a shuffle: an aggregate, a join, a repartition) stamps
  ``__row_ord__`` from the order in which the rows arrive, which a
  recompute may change. Positional results over such a table agree across
  actions only after ``orderby`` on a unique key, or while the table is
  persisted (``Table.persist``).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.internal import InternalFunction

ROW_ORD = "__row_ord__"
#: tie-break after ``__epoch__``/``__row_ord__`` on join outputs (array of longs)
ROW_SUB = "__row_sub__"

#: internal columns that must never leak into user-visible output
INTERNAL_COLS = (ROW_ORD, ROW_SUB)


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
    return (
        df.orderBy(*sort_cols)
        .drop(out_col)
        .select("*", InternalFunction.distributed_sequence_id().alias(out_col))
    )
