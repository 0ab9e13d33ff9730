"""Grouping and pivot operators.

Capability parity: ``groupby_with_summaries`` (littletable.py:3546-3580),
``groupby`` with itertools-consecutive-run semantics (littletable.py:3582-3614),
and the pivot tree (littletable.py:2724-2742, 4295-4599).

Spark-first: hash aggregation is one ``groupBy().agg()`` — partial
(map-side) aggregation and AQE partition coalescing are automatic.
Arbitrary Python summary callables degrade to ``collect_list`` + UDF
(the documented slow path); pass native ``pyspark.sql.functions``
aggregate Columns to stay JVM-side.
"""

from __future__ import annotations

from types import SimpleNamespace
from typing import Any, Callable, Iterator

from pyspark.sql import Column, Window
from pyspark.sql import functions as F

from ..table import EPOCH, Table
from ..plans.ordering import ROW_ORD


def _keys(keyexpr: Any) -> list[str]:
    if isinstance(keyexpr, str):
        return keyexpr.replace(",", " ").split()
    return list(keyexpr)


def groupby_with_summaries(
    table: Table, keyexpr: Any, outexprs: dict[str, Any]
) -> Table:
    if table._df is None:
        # schema-less empty table: empty summary, like the reference
        return Table(name=f"{table.table_name}_summary", spark=table.spark)
    keys = _keys(keyexpr)
    fields = table.fields

    def _as_callable(e: Any):
        """Summary spec forms: Column | SQL string | callable |
        (callable, return_type_str)."""
        if isinstance(e, tuple) and len(e) == 2 and callable(e[0]):
            return e
        if callable(e) and not isinstance(e, Column):
            return (e, None)
        return None

    aggs: list[Column] = []
    needs_rows = any(_as_callable(e) for e in outexprs.values())
    rows_col = F.collect_list(F.struct(*[F.col(c) for c in fields])).alias("__rows__")
    for name, expr in outexprs.items():
        if _as_callable(expr):
            continue  # second pass over __rows__
        if isinstance(expr, Column):
            aggs.append(expr.alias(name))
        elif isinstance(expr, str):
            aggs.append(F.expr(expr).alias(name))
        else:
            raise TypeError(f"unsupported summary expression for {name!r}")
    if needs_rows:
        aggs.append(rows_col)
    grouped = table.df.groupBy(*keys).agg(*aggs)
    for name, expr in outexprs.items():
        spec = _as_callable(expr)
        if spec:
            fn, rtype = spec

            def call(rows: Any, _fn=fn) -> Any:
                return _fn([SimpleNamespace(**r.asDict()) for r in rows])

            udf = F.udf(call, rtype) if rtype else F.udf(call)
            grouped = grouped.withColumn(name, udf(F.col("__rows__")))
    if needs_rows:
        grouped = grouped.drop("__rows__")
    t = Table.from_df(grouped, name=f"{table.table_name}_summary")
    for k in keys:
        t._indexes[k] = table._indexes.get(k) or t._indexes.get(k) or _mk_idx(k)
    return t


def _mk_idx(attr: str):
    from ..table import _IndexInfo

    return _IndexInfo(attr, unique=False, accept_none=True)


_RUN = "__run__"
_RUNPID = "__runpid__"
_RUNRN = "__runrn__"
_RUNLOCAL = "__runlocal__"


def _with_run_ids(df, keys: list[str], order_cols: list[Column]):
    """Attach a global consecutive-run id column ``__run__`` without a
    single-partition window (the ``dense_index`` trick,
    plans/ordering.py:51): sort, detect run breaks partition-locally,
    then merge runs that straddle partition boundaries with a
    driver-side O(#partitions) pass over (first_key, last_key, #runs)
    summaries, broadcast back as a pid -> offset map.
    """
    key_struct = F.struct(*[F.col(k) for k in keys])
    # persist before the summary collect: both the collect and the
    # downstream consumer must observe the same partition assignment, so
    # the cache is never released (a layout pin, as in dense_index)
    df_sorted = (
        df.orderBy(*order_cols)
        .withColumn(_RUNPID, F.spark_partition_id())
        .persist()
    )
    w = Window.partitionBy(_RUNPID).orderBy(*order_cols)
    brk = F.when(
        key_struct.eqNullSafe(F.lag(key_struct).over(w)), F.lit(0)
    ).otherwise(F.lit(1))
    with_local = df_sorted.withColumn(_RUNRN, F.row_number().over(w)).withColumn(
        _RUNLOCAL, F.sum(brk).over(w)
    )
    info = sorted(
        with_local.groupBy(_RUNPID)
        .agg(
            F.max(_RUNLOCAL).alias("k"),
            F.min_by(key_struct, F.col(_RUNRN)).alias("first_key"),
            F.max_by(key_struct, F.col(_RUNRN)).alias("last_key"),
        )
        .collect(),
        key=lambda r: r[_RUNPID],
    )
    offsets: dict[int, int] = {}
    acc = 0
    prev_last = None
    have_prev = False
    for row in info:
        merge = 1 if have_prev and row["first_key"] == prev_last else 0
        offsets[row[_RUNPID]] = acc - merge
        acc += row["k"] - merge
        prev_last = row["last_key"]
        have_prev = True
    if not offsets:
        return df.withColumn(_RUN, F.lit(0).cast("long")).limit(0)
    mapping = F.create_map(
        *[F.lit(x) for pid_off in offsets.items() for x in pid_off]
    )
    return with_local.withColumn(
        _RUN, (mapping[F.col(_RUNPID)] + F.col(_RUNLOCAL)).cast("long")
    ).drop(_RUNPID, _RUNRN, _RUNLOCAL)


def groupby_iter(
    table: Table,
    keyexpr: Any,
    sort: bool = False,
    materialize: bool = True,
    materialize_limit: int | None = 1_000_000,
) -> Iterator[tuple[Any, Table]]:
    """``itertools.groupby`` semantics: consecutive runs in table order
    unless ``sort=True`` (littletable.py:3582-3614).

    Yields ``(key, subtable)``. This is a driver-side presentation
    iterator; the scalable aggregation path is ``groupby_with_summaries``.

    With ``materialize=True`` (default) the table is collected ONCE and
    partitioned driver-side — one Spark job total, each subtable a local
    DataFrame over its rows. The typical consumer iterates every group's
    rows anyway, so lazy per-group filters would re-scan the source once
    per group (one job per distinct key). ``materialize=False`` restores
    the lazy per-group-filter behavior for tables too large to collect —
    at real scale prefer ``groupby_with_summaries``, which aggregates
    distributed.

    ``materialize_limit`` guards the collect: when the table exceeds it
    the iterator warns and falls back to the lazy path instead of OOMing
    the driver by default. The check reuses the Table's cached ``len()``
    when one exists (zero extra jobs — the common case after any prior
    ``len(t)``); otherwise it costs one cheap ``limit(n+1).count()``
    probe job, NOT a full count. Pass ``materialize_limit=None`` to
    collect unconditionally when the driver is known to have the memory.
    """
    keys = _keys(keyexpr)
    df = table._require_df()
    if materialize and materialize_limit is not None:
        cached = getattr(table, "_len_cache", None)
        over = (
            cached > materialize_limit
            if cached is not None
            else df.limit(materialize_limit + 1).count() > materialize_limit
        )
        if over:
            import warnings

            warnings.warn(
                f"groupby_iter: table exceeds materialize_limit="
                f"{materialize_limit} rows; falling back to the lazy "
                "per-group path. Use groupby_with_summaries for "
                "distributed aggregation, or pass materialize_limit=None "
                "to collect anyway.",
                RuntimeWarning,
                stacklevel=3,
            )
            materialize = False
    if materialize:
        from itertools import groupby as _it_groupby

        spark = table.spark
        if sort:
            # stable sort by key: within-key order is the table's order
            rows = df.orderBy(
                *[F.col(k).asc() for k in keys], *table._sort_cols()
            ).collect()
            schema = df.schema
            drop: list[str] = []
        else:
            runs = _with_run_ids(df, keys, table._sort_cols())
            rows = runs.orderBy(F.col(_RUN).asc(), *table._sort_cols()).collect()
            schema = runs.schema
            drop = [_RUN]
        if sort:
            key_of = lambda r: tuple(r[k] for k in keys)  # noqa: E731
        else:
            key_of = lambda r: r[_RUN]  # noqa: E731
        for gk, grp in _it_groupby(rows, key=key_of):
            grp = list(grp)
            sub_df = spark.createDataFrame(grp, schema)
            for c in drop:
                sub_df = sub_df.drop(c)
            sub = table._derive(sub_df, keep_sort=True)
            # rows are already here in table order: iteration/len on the
            # subtable is job-free (run columns are INTERNAL to row objs)
            sub._prefetched = grp
            keyvals = tuple(grp[0][k] for k in keys)
            yield (keyvals[0] if len(keys) == 1 else keyvals), sub
        return
    if sort:
        distinct = [
            tuple(r[k] for k in keys)
            for r in df.select(*keys).distinct().orderBy(*keys).collect()
        ]
        for keyvals in distinct:
            sub = table.where(**dict(zip(keys, keyvals)))
            yield (keyvals[0] if len(keys) == 1 else keyvals), sub
        return
    # consecutive-run ids, partition-local detection + boundary merge —
    # no single-partition window even though the result is consumed as a
    # driver-side iterator
    runs = _with_run_ids(df, keys, table._sort_cols())
    run_keys = (
        runs.select(_RUN, *keys).distinct().orderBy(_RUN).collect()
    )
    for r in run_keys:
        sub_df = runs.filter(F.col(_RUN) == r[_RUN]).drop(_RUN)
        sub = table._derive(sub_df, keep_sort=True)
        keyvals = tuple(r[k] for k in keys)
        yield (keyvals[0] if len(keys) == 1 else keyvals), sub


def consecutive_runs(
    table: Table, keyexpr: Any, order_by: Any = None, **aggs: Column
) -> Table:
    """Aggregate consecutive same-key runs (itertools.groupby semantics,
    littletable.py:3612) as a DataFrame — the set-returning companion to
    the ``groupby`` iterator.

    Run ids come from partition-local break detection with a boundary
    merge (``_with_run_ids`` — no single-partition window), and are kept
    internal: each run is identified in the output by ``run_start`` — the
    minimum of the first order column within the run — so the result is
    convention-free (no dependence on whether run numbering starts at 0
    or 1, or on the counter's integer width).
    """
    keys = _keys(keyexpr)
    df = table._require_df()
    if order_by is None:
        order_cols = table._sort_cols()
        # plain (un-SortOrdered) expression for the run_start aggregate
        start_col = F.expr(table._sort[0][0]) if table._sort else F.col(ROW_ORD)
    else:
        order_cols = [F.col(c) for c in _keys(order_by)]
        start_col = order_cols[0]
    runs = _with_run_ids(df, keys, order_cols)
    out = (
        runs.groupBy(_RUN, *keys)
        .agg(
            F.min(start_col).alias("run_start"),
            *(
                [c.alias(n) for n, c in aggs.items()]
                or [F.count(F.lit(1)).alias("n_rows")]
            ),
        )
        .drop(_RUN)
    )
    return Table.from_df(out, name=f"{table.table_name}_runs")


_AGG_MAP: dict[Any, Callable[[str], Column]] = {
    len: lambda c: F.count(F.lit(1)),
    sum: lambda c: F.sum(c),
    min: lambda c: F.min(c),
    max: lambda c: F.max(c),
}


class PivotTable:
    """n-level pivot tree (1-3 attrs), Spark-backed.

    The reference materializes a tree of subtables
    (littletable.py:4295-4520); here child nodes are lazily filtered
    DataFrames and the summary forms are single ``groupBy``/``pivot``
    aggregations.
    """

    def __init__(self, table: Table, attrs: list[str]) -> None:
        if not 1 <= len(attrs) <= 3:
            raise ValueError("pivot supports 1-3 attributes")
        self.table = table
        self.attrs = attrs

    def values_for(self, attr: str) -> list[Any]:
        rows = self.table.df.select(attr).distinct().orderBy(attr).collect()
        return [r[attr] for r in rows]

    def __getitem__(self, keyval: Any) -> Any:
        """Descend one level: subtable(s) where attrs[0] == keyval."""
        sub = self.table.where(**{self.attrs[0]: keyval})
        if len(self.attrs) == 1:
            return sub
        return PivotTable(sub, self.attrs[1:])

    def subtables(self) -> Iterator[tuple[tuple, Table]]:
        combos = (
            self.table.df.select(*self.attrs).distinct().orderBy(*self.attrs).collect()
        )
        for r in combos:
            keyvals = tuple(r[a] for a in self.attrs)
            yield keyvals, self.table.where(**dict(zip(self.attrs, keyvals)))

    def as_table(self, fn: Any = None, col: str | None = None) -> Table:
        """Flat summary: one row per key combo (littletable.py:4456-4506)."""
        if fn is None or fn is len:
            agg = F.count(F.lit(1))
            out_name = "count"
        elif fn in _AGG_MAP and col is not None:
            agg = _AGG_MAP[fn](col)
            out_name = f"{fn.__name__}_{col}"
        elif isinstance(fn, Column):
            agg = fn
            out_name = col or "value"
        else:
            raise TypeError("fn must be len/sum/min/max or a Column aggregate")
        out = self.table.df.groupBy(*self.attrs).agg(agg.alias(out_name)).orderBy(*self.attrs)
        return Table.from_df(out, name=f"{self.table.table_name}_pivot")

    summary_counts = as_table

    def dump(
        self,
        out: Any = None,
        row_fn: Callable[[Any], str] = repr,
        limit: int = -1,
        indent: int = 0,
    ) -> str:
        """Nested listing of the full 1-3-level pivot tree
        (littletable.py:4363-4393): each subtable prints its key path
        (``a:1/b:2``), leaves print their rows via ``row_fn`` up to
        ``limit``. One ordered collect, tree built driver-side —
        presentation output is driver-bound by definition.
        """
        import io
        import sys

        buf = io.StringIO()
        if not indent:
            buf.write(f"Pivot: {','.join(self.attrs)}\n")
        rows = self.table._ordered_df().collect()
        mk = self.table._make_row

        def rec(subset, attrs, path, depth):
            a = attrs[0]
            keys = sorted({r[a] for r in subset}, key=lambda v: (v is None, v))
            for k in keys:
                grp = [r for r in subset if r[a] == k]
                if not grp:
                    continue
                key_path = path + [(a, k)]
                buf.write(
                    "  " * depth
                    + "/".join(f"{attr}:{key}" for attr, key in key_path)
                    + "\n"
                )
                if len(attrs) > 1:
                    rec(grp, attrs[1:], key_path, depth + 1)
                else:
                    show = grp if limit < 0 else grp[:limit]
                    for r in show:
                        buf.write("  " * (depth + 1) + row_fn(mk(r)) + "\n")

        rec(rows, self.attrs, [], indent + 1)
        text = buf.getvalue()
        (out or sys.stdout).write(text)
        return text

    def dump_counts(
        self, count_fn: Any = None, stream: Any = None, colwidth: int = 10
    ) -> str:
        """Cross-tab counts, byte-identical to the reference renderer
        (littletable.py:4395-4454, checked by differential tests) —
        including its quirks: no Total row for 1-attr pivots, a
        left-truncating key column, and a value column width that can
        grow mid-render when a tally outgrows ``colwidth``."""
        import io
        import sys

        if len(self.attrs) > 2:
            # reference raises for 3-level count tables (littletable.py:4454)
            raise ValueError(
                "can only dump summary counts for 1 or 2-attribute pivots"
            )
        cf = count_fn if count_fn is not None else len
        out = io.StringIO()
        # NULL pivot keys are excluded on BOTH axes, like the reference,
        # whose Index.keys() filters None (littletable.py:447) — a null
        # key would otherwise crash the sorted() in the Total row and
        # print rows/columns the reference never shows.
        if len(self.attrs) == 1:
            a = self.attrs[0]
            counts = (
                self.table.df.where(F.col(a).isNotNull())
                .groupBy(a)
                .count()
                .orderBy(a)
                .collect()
            )
            keytally = {r[0]: (cf(self[r[0]]) if count_fn else r[1]) for r in counts}
            out.write(f"Pivot: {a}\n")
            maxkeylen = max(len(str(k)) for k in keytally)
            maxvallen = max(colwidth, *(len(str(v)) for v in keytally.values()))
            for k, v in keytally.items():
                out.write(f"{str(k):<{maxkeylen}.{maxkeylen}s} {v:>{maxvallen}}\n")
        else:
            a, b = self.attrs[0], self.attrs[1]
            bvals = [v for v in self.values_for(b) if v is not None]
            if count_fn is None:
                # one aggregation: per-b conditional counts + the FULL
                # row count per a (the reference's row total is
                # count_fn(whole-a-slice), which includes null-b rows
                # the cells exclude — sum(cells) would diverge there)
                aggs = [
                    F.count(F.when(F.col(b) == F.lit(bv), 1)).alias(f"__c{i}__")
                    for i, bv in enumerate(bvals)
                ]
                rows = (
                    self.table.df.where(F.col(a).isNotNull())
                    .groupBy(a)
                    .agg(*aggs, F.count(F.lit(1)).alias("__tot__"))
                    .orderBy(a)
                    .collect()
                )
                grid = [
                    (
                        r[a],
                        [r[f"__c{i}__"] for i in range(len(bvals))],
                        r["__tot__"],
                    )
                    for r in rows
                ]
            else:
                grid = []
                for ak in self.values_for(a):
                    if ak is None:
                        continue
                    sub = self[ak]
                    grid.append(
                        (ak, [cf(sub[bv]) for bv in bvals], cf(sub.table))
                    )
            out.write(f"Pivot: {a},{b}\n")
            maxkeylen = max(max(len(str(k)) for k, _, _ in grid), 5)
            maxvallen = max(max(len(str(v)) for v in bvals), colwidth)
            keytally = dict.fromkeys(bvals, 0)
            out.write(f"{' ' * maxkeylen} ")
            out.write(
                " ".join(f"{str(k):>{maxvallen}.{maxvallen}s}" for k in bvals)
            )
            out.write(f' {"Total":>{maxvallen}s}\n')
            for ak, vals, sub_v in grid:
                out.write(f"{str(ak):<{maxkeylen}.{maxkeylen}s} ")
                for bv, v in zip(bvals, vals):
                    out.write(f"{v:{maxvallen}d} ")
                    keytally[bv] += v
                    maxvallen = max(maxvallen, len(str(v)))
                maxvallen = max(maxvallen, len(str(sub_v)))
                out.write(f"{sub_v:{maxvallen}d}\n")
            out.write(f'{"Total":{maxkeylen}.{maxkeylen}s} ')
            out.write(
                " ".join(
                    f"{tally:{maxvallen}d}" for k, tally in sorted(keytally.items())
                )
            )
            out.write(
                f" {sum(tally for k, tally in keytally.items()):{maxvallen}d}\n"
            )
        text = out.getvalue()
        (stream or sys.stdout).write(text)
        return text

    def summarize(self, fn: Any = None, col: str | None = None) -> Table:
        return self.as_table(fn, col)

    def as_html(self, fn: Any = None, col: str | None = None) -> str:
        """2-D pivot summary as an HTML cross-tab with row/col/grand
        totals (littletable.py:4510-4599)."""
        if len(self.attrs) < 2:
            return self.as_table(fn, col).as_html()
        a, b = self.attrs[0], self.attrs[1]
        bvals = self.values_for(b)
        agg_df = self.as_table(fn, col).df
        val_col = [c for c in agg_df.columns if c not in self.attrs][0]
        cells: dict[tuple, Any] = {
            (r[a], r[b]): r[val_col] for r in agg_df.collect()
        }
        avals = sorted({k[0] for k in cells})
        parts = ["<table>", "<thead><tr>", f"<th>{a}\\{b}</th>"]
        parts += [f"<th>{v}</th>" for v in bvals] + ["<th>Total</th>", "</tr></thead>", "<tbody>"]
        col_tot = {v: 0 for v in bvals}
        grand = 0
        for av in avals:
            row_cells = [cells.get((av, bv), 0) for bv in bvals]
            for bv, c in zip(bvals, row_cells):
                col_tot[bv] += c
            grand += sum(row_cells)
            parts.append(
                f"<tr><td>{av}</td>"
                + "".join(f"<td>{c}</td>" for c in row_cells)
                + f"<td>{sum(row_cells)}</td></tr>"
            )
        parts.append(
            "<tr><td>Total</td>"
            + "".join(f"<td>{col_tot[bv]}</td>" for bv in bvals)
            + f"<td>{grand}</td></tr>"
        )
        parts += ["</tbody>", "</table>"]
        return "".join(parts)
